"""The two workloads.

- ingest:      timed = build, merge, searcher open, EPOCHS append epochs
               (each followed by refresh and a probe), closed-loop reads
               beside the writes for `seconds` on the driver path (postings
               LRU, py4j collect, FOR decode, combine), one delete with
               refresh and probe.
- search-dist: setup = build, merge, searcher open with the documented
               `DRIVER_EXEC_MAX_POSTINGS = 0` override, warm queries;
               timed = the same closed-loop query log for `seconds`, every
               query running as Spark tasks.

Engine functions are called through their modules, so the traced run's
wrappers (spans.py) see every call.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from lucene_rust_spark.index import build as index_build
from lucene_rust_spark.index import deletes as index_deletes
from lucene_rust_spark.index import merge as index_merge
from lucene_rust_spark.index.manifest import read_manifest
from lucene_rust_spark.oracle.bm25 import term_query
from lucene_rust_spark.search.searcher import IndexSearcher
from lucene_rust_spark.streaming import incremental

import check
import inputs as I
import sysinfo

MERGE_FAN_IN = 16  # as bench.py
WARM_QUERY_S = 3.0  # search-dist: untimed queries of every shape before the timed loop


class NullTracer:
    def call(self, name, fn, *args, count=None, **kwargs):
        return fn(*args, **kwargs)


@dataclass
class Run:
    spark: object
    tracer: object
    workdir: str
    inp: I.Inputs
    seconds: float
    t_process: float  # perf_counter at process start
    nproc: int = field(default_factory=sysinfo.nproc)
    pdf: object = None  # corpus rows: base window and every append batch
    # measurements
    t_timed: float = 0.0  # perf_counter of the first timed operation
    build_s: float = 0.0
    build_cpu_s: float = 0.0
    merge_s: float = 0.0
    content_bytes: int = 0
    index_bytes: int = 0
    merge_in_bytes: int = 0
    merge_out_bytes: int = 0
    nrt_ms: list = field(default_factory=list)
    delete_visible_ms: list = field(default_factory=list)
    lat_ms: list = field(default_factory=list)
    loop_s: float = 0.0
    loop_cpu_s: float = 0.0
    rss: tuple = (0.0, 0.0)
    # correctness
    attempted: int = 0
    failed: int = 0
    queries: list = field(default_factory=list)  # (QueryOp, [page rows])
    probes: list = field(default_factory=list)  # (uniq row, hits, expect_visible)
    appended: list = field(default_factory=list)  # epochs appended before the queries

    @property
    def index_dir(self) -> str:
        return os.path.join(self.workdir, "index")

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


def warm_up(spark, n: int) -> None:
    """Start one Python worker per task slot with the engine imported."""

    def load(batches):
        import lucene_rust_spark.index.build  # noqa: F401
        import lucene_rust_spark.search.searcher  # noqa: F401

        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(load, "id long").collect()


def load_corpus(run: Run):
    """Spark source over the cached parquet of every row the run uses."""
    rows = np.concatenate([run.inp.base_rows, *run.inp.epoch_rows])
    path, run.pdf = I.cached_window(os.path.join(run.workdir, "..", "corpus-cache"), rows)
    base = run.pdf["row_id"].isin(run.inp.base_rows)
    run.content_bytes = int(run.pdf.loc[base, "content"].str.encode("utf-8").str.len().sum())
    return run.spark.read.parquet(path)


def _rows_df(src, rows):
    return src.filter(F.col("row_id").between(int(rows[0]), int(rows[-1]))).drop("row_id")


def store_bytes(index_dir: str, manifest: dict, only: str | None = None) -> int:
    """Bytes of the committed store files the manifest names."""
    return sum(
        os.path.getsize(os.path.join(index_dir, f))
        for dirname, files in (manifest.get("store_files") or {}).items()
        if only is None or dirname == only
        for f in files
    )


# -- operations ------------------------------------------------------------------


def build_and_merge(run: Run, src) -> None:
    t = run.tracer
    cpu0, t0 = sysinfo.tree_cpu_s(), time.perf_counter()
    m = t.call("bench.build", index_build.build_index, run.spark, _rows_df(src, run.inp.base_rows),
               run.index_dir, num_partitions=4 * run.nproc, sort_key="content_len")
    run.build_s = time.perf_counter() - t0
    run.build_cpu_s = sysinfo.tree_cpu_s() - cpu0
    run.expect(m["doc_count"] == len(run.inp.base_rows), "build doc_count")
    m = read_manifest(run.index_dir)
    run.merge_in_bytes = store_bytes(run.index_dir, m, m.get("postings_dir", "postings"))
    t0 = time.perf_counter()
    t.call("bench.merge", index_merge.merge_segments, run.spark, run.index_dir, fan_in=MERGE_FAN_IN)
    run.merge_s = time.perf_counter() - t0
    mm = read_manifest(run.index_dir)
    run.expect(mm["doc_count"] == m["doc_count"] and len(mm["segments"]) < len(m["segments"]),
               "merge doc_count/segments")
    run.merge_out_bytes = store_bytes(run.index_dir, mm, mm.get("postings_dir", "postings"))
    run.index_bytes = store_bytes(run.index_dir, mm)


def open_searcher(run: Run) -> IndexSearcher:
    return run.tracer.call("bench.open", IndexSearcher, run.spark, run.index_dir, cache=True)


def nrt_epoch(run: Run, src, searcher: IndexSearcher, epoch: int) -> None:
    """append_batch, refresh, then probe the uniq_ term of one new doc."""
    rows = run.inp.epoch_rows[epoch]
    probe_row = int(rows[(run.inp.seed + epoch) % len(rows)])
    before = searcher.doc_count
    t0 = time.perf_counter()
    m = run.tracer.call("bench.append", incremental.append_batch, run.spark, _rows_df(src, rows),
                        run.index_dir, epoch, num_partitions=run.nproc)
    run.tracer.call("bench.refresh", searcher.refresh)
    hits = run.tracer.call("bench.probe", searcher.search, term_query(f"uniq_{probe_row}"), 10)
    run.nrt_ms.append((time.perf_counter() - t0) * 1000)
    run.appended.append(epoch)
    run.expect(m["doc_count"] == before + len(rows) == searcher.doc_count, "append doc_count")
    run.probes.append((probe_row, hits, True))


def delete_probed(run: Run, searcher: IndexSearcher) -> None:
    """Delete the doc the first epoch's probe found, refresh, probe again."""
    row, hits, _ = run.probes[0]
    if not hits:
        run.fail("delete: the probe found no doc to delete")
        return
    t0 = time.perf_counter()
    m = run.tracer.call("bench.delete", index_deletes.delete_by_ids, run.spark, run.index_dir,
                        [hits[0][0]])
    run.tracer.call("bench.refresh", searcher.refresh)
    after = run.tracer.call("bench.probe", searcher.search, term_query(f"uniq_{row}"), 10)
    run.delete_visible_ms.append((time.perf_counter() - t0) * 1000)
    run.expect(m.get("del_count") == 1, "delete del_count")
    run.probes.append((row, after, False))


def warm_queries(run: Run, searcher: IndexSearcher) -> None:
    """Untimed queries of every shape the timed loop sends (inputs.warm_log)
    for at least WARM_QUERY_S. The first SHAPES slots of the cycle hold
    every shape, so those always run."""
    t_start = time.perf_counter()
    log = I.warm_log(run.inp.seed, run.inp.base_rows)
    n = 0
    while n < I.SHAPES or time.perf_counter() - t_start < WARM_QUERY_S:
        run_op(searcher.search, next(log))
        n += 1


def run_op(search, op, on_page=None) -> list[list]:
    """One query op: page 1, and a search_after page 2 when asked for and
    page 1 was full. on_page(rows, seconds) sees every search call."""
    pages: list[list] = []
    after = None
    for _ in range(2 if op.page2 else 1):
        t0 = time.perf_counter()
        rows = search(op.query, op.k, after)
        if on_page is not None:
            on_page(rows, time.perf_counter() - t0)
        pages.append(rows)
        if len(rows) < op.k:
            break
        after = (rows[-1][1], rows[-1][0])
    return pages


def query_loop(run: Run, searcher: IndexSearcher, seconds: float) -> None:
    """Closed loop over the seeded query log for `seconds`: the next search
    is sent when the previous one returned."""
    log = I.query_log(run.inp.seed, run.inp.base_rows)

    def search(*args):
        return run.tracer.call("bench.query", searcher.search, *args)

    def on_page(rows, dt):
        run.lat_ms.append(dt * 1000)

    cpu0, t_start = sysinfo.tree_cpu_s(), time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        op = next(log)
        try:
            run.queries.append((op, run_op(search, op, on_page)))
        except Exception:
            traceback.print_exc()
            run.attempted += 1
            run.fail(f"query {op.query}")
    run.loop_s = time.perf_counter() - t_start
    run.loop_cpu_s = sysinfo.tree_cpu_s() - cpu0


# -- workloads -------------------------------------------------------------------


def run_workload(name: str, run: Run) -> IndexSearcher:
    src = load_corpus(run)
    if name == "ingest":
        run.t_timed = time.perf_counter()
        build_and_merge(run, src)
        searcher = open_searcher(run)
        for e in range(I.EPOCHS):
            nrt_epoch(run, src, searcher, e)
        query_loop(run, searcher, run.seconds)
        delete_probed(run, searcher)
    else:
        build_and_merge(run, src)
        searcher = open_searcher(run)
        searcher.DRIVER_EXEC_MAX_POSTINGS = 0  # documented override: always distributed
        warm_queries(run, searcher)
        run.t_timed = time.perf_counter()
        query_loop(run, searcher, run.seconds)
    run.rss = sysinfo.peak_rss_mb()
    return searcher


def verify(run: Run, searcher: IndexSearcher) -> None:
    """Compare every timed search with the oracle; check every probe."""
    dm = searcher.docmap.select("doc_id", "path").toPandas()
    path_of = dict(zip(dm["doc_id"].astype("int64"), dm["path"]))
    row_path = dict(zip(run.pdf["row_id"], run.pdf["path"]))
    for row, hits, visible in run.probes:
        ok = (len(hits) == 1 and path_of.get(hits[0][0]) == row_path[row]) if visible else hits == []
        run.expect(ok, f"probe uniq_{row} visible={visible}")
    # the searches ran before any delete, over the base window and the
    # batches appended by then
    rows = np.concatenate([run.inp.base_rows, *(run.inp.epoch_rows[e] for e in run.appended)])
    oracle = check.Oracle(run.pdf[run.pdf["row_id"].isin(rows)][I.CORPUS_COLS])
    for op, pages in run.queries:
        run.attempted += len(pages)
        if not check.check_query(oracle, path_of, op, pages):
            run.fail(f"query {op.query} k={op.k} pages={len(pages)}")


def end_to_end(run: Run) -> dict:
    """Every end-to-end figure as {name: {value, unit, samples}}."""
    lat = run.lat_ms
    m = {
        "setup_s": (run.t_timed - run.t_process, "s", 1),
        "build_docs_per_s": (len(run.inp.base_rows) / run.build_s, "docs/s", 1),
        "build_cpu_s": (run.build_cpu_s, "s", 1),
        "merge_s": (run.merge_s, "s", 1),
        "index_bytes_per_input_byte": (run.index_bytes / run.content_bytes, "ratio", 1),
        "query_p50_ms": (statistics.median(lat), "ms", len(lat)),
        "qps": (len(lat) / run.loop_s, "1/s", len(lat)),
        "query_cpu_ms": (run.loop_cpu_s * 1000 / len(lat), "ms", len(lat)),
        "peak_rss_mb": (run.rss[0], "MB", 1),
        "worker_peak_rss_mb": (run.rss[1], "MB", 1),
    }
    if len(lat) >= 200:  # so that 10 samples lie beyond the 95th percentile
        m["query_p95_ms"] = (statistics.quantiles(lat, n=20)[-1], "ms", len(lat))
    if run.nrt_ms:
        m["nrt_visible_ms"] = (statistics.median(run.nrt_ms), "ms", len(run.nrt_ms))
        m["delete_visible_ms"] = (statistics.median(run.delete_visible_ms), "ms",
                                  len(run.delete_visible_ms))
    return {k: {"value": float(v), "unit": u, "samples": n} for k, (v, u, n) in m.items()}
