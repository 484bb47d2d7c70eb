"""Layered benchmark of the lucene_rust_spark engine.

    python3 perfbench/run.py --workload {ingest,search-dist}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Prints a table of every metric, then, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from spans around the engine's public functions.
Everything the run writes stays under .perfbench_run/ in the repository.
See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run must end within 180 s; fail rather than overrun


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "search-dist"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside the run directory and
    make the engine importable by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # status retention: the traced run reads job counts back at the end
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def print_table(title: str, metrics: dict) -> None:
    print(f"== {title}")
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>14.4f} {m['unit']:<8} samples={m.get('samples', 1)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import lucene_rust_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lucene_rust_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the engine from {lucene_rust_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    work = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    isolate(run_dir)

    import layers
    import sysinfo
    import workloads as W
    from inputs import make_inputs
    from lucene_rust_spark.session import get_spark

    nproc, mem = sysinfo.nproc(), sysinfo.mem_total_bytes()
    steal0, ticks0 = sysinfo.cpu_ticks()
    # a quarter of RAM for the driver heap; the rest stays for Python
    # workers and the OS page cache
    driver_gb = max(1, mem // 4 // 2**30)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench", cores=nproc, driver_memory=f"{driver_gb}g")
        spark_start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        W.warm_up(spark, nproc)
        tracer = W.NullTracer()
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        run = W.Run(spark, tracer, run_dir, make_inputs(args.seed), args.seconds, T_PROCESS)
        searcher = W.run_workload(args.workload, run)
        timed_s = time.perf_counter() - run.t_timed
        steal1, ticks1 = sysinfo.cpu_ticks()
        steal = (steal1 - steal0) / max(ticks1 - ticks0, 1)
        if args.trace:
            tracer.uninstall()
            tracer.resolve()
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
        W.verify(run, searcher)
        e2e = W.end_to_end(run)
        print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} nproc={nproc} mem_total_gib={mem / 2**30:.1f} "
              f"driver_memory={driver_gb}g timed_s={timed_s:.1f} cpu_steal={steal:.1%}")
        print("perfbench-e2e: " + json.dumps({k: v["value"] for k, v in e2e.items()}))
        print_table("end to end" + (" (traced)" if args.trace else ""), e2e)
        if args.trace:
            per_layer = layers.per_layer(tracer, run, spark_start_s)
            print_table("per layer", per_layer)
            metrics = per_layer
        else:
            metrics = e2e
        metrics = {k: metrics[k] for k in wanted}
        print(f"  operations attempted={run.attempted} failed={run.failed} "
              f"({run.failed / max(run.attempted, 1):.1%})")
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
