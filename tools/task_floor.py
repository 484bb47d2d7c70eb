"""One-task Spark floors under the engine's session: the median wall time
of a 1-task JVM-only collect, rdd.map, reader-task, mapInPandas and
mapInArrow job. The reader-task row is the shape of a ranked distributed
term/bool query: a function bound once (session.OneTaskJob) and a
query-spec payload per job, here with no index to read.

Usage:
    python tools/task_floor.py [--reps 15] [--cores N] [--stock] [--tcp]

--stock keeps PySpark's stock Python daemon, for an A/B against the
engine's daemon (lucene_rust_spark/pydaemon.py) that get_spark selects.
--tcp keeps loopback TCP between the JVM and the Python workers, for an
A/B against the Unix-domain sockets that get_spark selects where it can.
Each job is warmed first, then the five jobs are interleaved rep by rep.
Run it from the repository root, so Spark's workers find the package.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


SPEC = {"must": [], "should": ["alpha", "beta"], "not": [], "msm": 0,
        "idf": {"alpha": 1.5, "beta": 0.75}, "k": 10, "after": None}


def echo(_split, specs):
    for spec in specs:  # drain the input, as the reader task does
        yield [], []


def jobs(spark) -> dict:
    from lucene_rust_spark.session import OneTaskJob

    sc = spark.sparkContext
    one = spark.range(0, 1, 1, 1)
    reader = OneTaskJob(sc, echo)
    return {
        "jvm_collect_ms": lambda: one.collect(),
        "rdd_map_ms": lambda: sc.parallelize([1], 1).map(lambda x: x).collect(),
        "reader_task_ms": lambda: reader(SPEC),
        "map_in_pandas_ms": lambda: one.mapInPandas(lambda it: it, "id long").collect(),
        "map_in_arrow_ms": lambda: one.mapInArrow(lambda it: it, "id long").collect(),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--driver-memory", default="3g")
    ap.add_argument("--stock", action="store_true", help="PySpark's stock daemon")
    ap.add_argument("--tcp", action="store_true", help="loopback TCP to the workers")
    args = ap.parse_args()

    from lucene_rust_spark import session

    if args.stock:
        session.engine_daemon_usable = lambda: False
    if args.tcp:
        session.unix_socket_dir = lambda candidates=None: None
    spark = session.get_spark(app="task_floor", cores=args.cores, driver_memory=args.driver_memory)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = jobs(spark)
        for fn in run.values():  # start the workers, compile the paths
            for _ in range(3):
                fn()
        samples: dict = {name: [] for name in run}
        for _ in range(args.reps):
            for name, fn in run.items():
                t0 = time.perf_counter()
                fn()
                samples[name].append((time.perf_counter() - t0) * 1e3)
        conf = spark.sparkContext.getConf()
        daemon = conf.get("spark.python.daemon.module", "pyspark.daemon")
        unix = conf.get("spark.python.unix.domain.socket.enabled", "false") == "true"
    finally:
        spark.stop()
    out = {name: round(statistics.median(xs), 1) for name, xs in samples.items()}
    print(json.dumps({"daemon": daemon, "transport": "unix" if unix else "tcp",
                      "cores": args.cores, "reps": args.reps,
                      "statistic": "median", **out}))


if __name__ == "__main__":
    main()
