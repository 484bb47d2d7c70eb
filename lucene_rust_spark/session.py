"""SparkSession factory with the engine's pinned config."""

from __future__ import annotations

import atexit
import math
import os
import shutil
import socket
import subprocess
import tempfile
import uuid

import numpy as np
from pyspark import SparkContext
from pyspark.sql import SparkSession

# literal-relation ceiling for local_rows_df: above this the SQL text and
# parse time outgrow the job they replace
LOCAL_ROWS_MAX = 1024


def sql_string(v: str) -> str:
    """v as a Spark SQL string literal. Spark's default parser reads
    backslash escapes in literals, so backslashes are doubled."""
    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"


def local_rows_df(spark: SparkSession, rows, cols):
    """Small driver-resident result as a LocalTableScan (VALUES literal):
    collect() runs ZERO Spark jobs, unlike createDataFrame(parallelize(..))
    whose collect pays a full Python-task round trip (~140 ms on this
    host). cols: [(name, sql_type)]; rows: tuples of int/float/str/None.
    Falls back to the RDD path above LOCAL_ROWS_MAX rows."""
    schema = ", ".join(f"{n} {t}" for n, t in cols)
    if not rows:
        return spark.createDataFrame([], schema)
    if len(rows) > LOCAL_ROWS_MAX:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(list(rows), 1), schema
        )

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return sql_string(v)
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (float, np.floating)):
            v = float(v)
            if not math.isfinite(v):
                # bare inf/nan would parse as column names
                name = "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
                return f"CAST('{name}' AS DOUBLE)"
            return repr(v)  # shortest round-trip decimal: exact for f64
        return str(int(v))

    vals = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    casts = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(cols)
    )
    return spark.sql(f"SELECT {casts} FROM VALUES {vals}")


class OneTaskJob:
    """fn(split, payloads) bound once as the JVM's SimplePythonFunction;
    each call runs it as one Spark job of one task, whose input is the
    one pickled payload, and returns the first object the task yielded.
    A call costs 6 py4j round trips and no SQL plan, where
    RDD.parallelize(..).mapPartitions(..).collect() pickles the function
    again each time (about 29 round trips). fn must drain its input:
    PySpark retires a worker whose input was left unread, and the next
    task forks a new one."""

    def __init__(self, sc: SparkContext, fn):
        from pyspark.core.rdd import _wrap_function
        from pyspark.serializers import CPickleSerializer

        self._sc = sc
        self._ser = CPickleSerializer()
        self._func = _wrap_function(sc, fn, self._ser, self._ser)
        self._rdd = sc._jvm.PythonRDD
        self._read = self._rdd.readRDDFromFile  # a static member: look it up once

    def __call__(self, payload):
        sc = self._sc
        src = sc._serialize_to_jvm(
            [payload],
            self._ser,
            lambda path: self._read(sc._jsc, path, 1),
            lambda: sc._jvm.PythonParallelizeServer(sc._jsc.sc(), 1),
        )
        # one small pickled result: collect() hands it over py4j directly,
        # where collectAndServe costs a socket and 4 calls for its address
        out = self._rdd(src.rdd(), self._func, False, False).collect()
        return self._ser.loads(out[0])


DAEMON_MODULE = "lucene_rust_spark.pydaemon"

# Run by the interpreter Spark starts its workers with, from the driver's
# cwd and PYTHONPATH. Exits 0 when that interpreter's zipimporter re-reads
# its archive eagerly on invalidate_caches (CPython < 3.13 has no lazy
# `_get_files`) and it finds the daemon module, without importing the package.
_DAEMON_PROBE = """
import importlib.util, os, sys, zipimport
spec = importlib.util.find_spec("lucene_rust_spark")
dirs = (spec.submodule_search_locations or []) if spec else []
found = any(os.path.isfile(os.path.join(d, "pydaemon.py")) for d in dirs)
sys.exit(0 if found and not hasattr(zipimport.zipimporter, "_get_files") else 1)
"""


def engine_daemon_usable() -> bool:
    """Whether Spark's Python workers should fork from the engine's daemon
    (pydaemon.py): it pays off on their interpreter and it loads there.
    Otherwise PySpark's stock daemon stays, so no Python task can fail
    for want of the module."""
    python = os.environ.get("PYSPARK_PYTHON", "python3")  # SparkContext.pythonExec
    try:
        probe = subprocess.run([python, "-c", _DAEMON_PROBE], capture_output=True, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return False
    return probe.returncode == 0


# Spark refuses a longer `spark.python.unix.domain.socket.dir`: its socket
# files `<dir>/.<uuid4>.sock` (43 more bytes) must fit AF_UNIX's 107-byte
# sun_path. Counted here in bytes, which bounds the UTF-16 length Spark counts.
SOCKET_DIR_MAX = 61


def unix_socket_dir(candidates=None) -> str | None:
    """A fresh private (0700) directory for the JVM<->Python worker
    sockets, or None to keep loopback TCP.

    Over TCP every Arrow-fed Python task stalls ~40 ms between its header
    and its first batch (Nagle's algorithm meeting the delayed-ACK timer);
    over a Unix socket the same wait is ~1 ms. The directory is made in the
    first candidate (default: the temp dir, then /tmp) where its path fits
    SOCKET_DIR_MAX and a socket can actually be bound. It is removed at
    interpreter exit."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    if candidates is None:
        candidates = (tempfile.gettempdir(), "/tmp")
    for base in candidates:
        longest = os.path.join(os.path.abspath(base), "lrs-" + "x" * 8)  # mkdtemp's 8
        if len(os.fsencode(longest)) > SOCKET_DIR_MAX:
            continue
        try:
            path = tempfile.mkdtemp(prefix="lrs-", dir=base)
        except OSError:
            continue
        sock = os.path.join(path, f".{uuid.uuid4()}.sock")
        probe = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        try:
            probe.bind(sock)
        except OSError:
            shutil.rmtree(path, ignore_errors=True)
            continue
        finally:
            probe.close()
        os.unlink(sock)
        atexit.register(shutil.rmtree, path, True)
        return path
    return None


def get_spark(
    app: str = "lucene_rust_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores)
    builder = SparkSession.builder
    # a running context keeps its daemon and transport: skip the probes
    if SparkContext._active_spark_context is None:
        if engine_daemon_usable():
            builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
        sock_dir = unix_socket_dir()
        if sock_dir is not None:
            builder = builder.config(
                "spark.python.unix.domain.socket.enabled", "true"
            ).config("spark.python.unix.domain.socket.dir", sock_dir)
    return (
        builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.local.dir", "/dev/shm/lrs_spark_local")
        # JDK17's default G1 caps allocation-heavy stages (tokenize/explode)
        # at ~8-thread throughput in local mode; ParallelGC restores linear
        # scaling (measured 5x on the tokenize stage at local[32]).
        # MaxNewSize bounds young-gen growth: with a large Xmx, ParallelGC
        # ergonomics let eden balloon to ~Xmx/3 of mostly-garbage pages —
        # on lazily-backed VMs every fresh page is a high-latency fault, so
        # a bounded, reused young gen is much cheaper than a huge one-shot
        # one (OPTIMIZATION_r07.md §2); 2g still gives each of 32 tasks
        # ~60MB of eden between minor GCs
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC -XX:MaxNewSize=2g")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
