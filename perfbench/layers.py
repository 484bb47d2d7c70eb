"""Per-layer metrics from the traced run's spans.

Layers are named after the engine's modules. Write-path layers cover the
whole run (on search-* they ran in setup). Per-query figures cover the timed
searches only (spans named `bench.query`). Per-call kernel figures cover
every driver-side call in the run.
"""

from __future__ import annotations

import statistics

from spans import SpanTree

BUILD = "index.build.build_index"
MERGE = "index.merge.merge_segments"
APPEND = "streaming.incremental.append_batch"
TERMS = "index.build.write_terms_dict"
SEARCH = "search.searcher.search"
MS = 1000.0


def _mean(xs: list) -> tuple[float, int]:
    return (statistics.fmean(xs) if xs else 0.0), len(xs)


def _median(xs: list) -> tuple[float, int]:
    return (statistics.median(xs) if xs else 0.0), len(xs)


def _sum(xs: list) -> tuple[float, int]:
    return float(sum(xs)), len(xs)


def per_layer(tracer, run, spark_start_s: float) -> dict:
    tree = SpanTree(tracer.spans)
    builds, merges, appends = tree.named(BUILD), tree.named(MERGE), tree.named(APPEND)
    queries = tree.named("bench.query")
    searches = [next(iter(tree.within(q, SEARCH)), q) for q in queries]
    opens = [s for s in tree.named("search.searcher.__init__")
             if tree.ancestor(s, "search.searcher.refresh") is None]
    combines = tree.named("search.searcher.combine_bool_arrays")
    decodes = tree.named("functions.kernels.for_unpack_batch")

    def ms(spans):
        return [s.duration * MS for s in spans]

    def totals(spans, attr):
        return [tree.total(s, attr) for s in spans]

    m = {
        "session.spark_start_s": ((spark_start_s, 1), "s"),
        "index.build.build_index_s": (_sum([s.duration for s in builds]), "s"),
        "index.build.group_job_s": (_sum([s.duration for s in tree.named("index.build.build_group_job", BUILD)]), "s"),
        "index.build.terms_dict_s": (_sum([s.duration for s in tree.named(TERMS, BUILD)]), "s"),
        "index.build.spark_jobs": (_sum(totals(builds, "jobs")), "count"),
        "index.build.spark_tasks": (_sum(totals(builds, "tasks")), "count"),
        "index.build.failed_tasks": (_sum(totals(builds, "failed_tasks")), "count"),
        "index.build.segments": (_sum([s.counts.get("segments", 0) for s in builds]), "count"),
        "index.merge.merge_segments_s": (_sum([s.duration for s in merges]), "s"),
        "index.merge.segments_out": (_sum([s.counts.get("segments", 0) for s in merges]), "count"),
        "index.merge.spark_tasks": (_sum(totals(merges, "tasks")), "count"),
        "index.merge.bytes_written_per_input_byte": ((run.merge_out_bytes / run.merge_in_bytes, 1), "ratio"),
        "streaming.incremental.append_batch_ms": (_median(ms(appends)), "ms"),
        "streaming.incremental.terms_dict_ms": (_median(ms(tree.named(TERMS, APPEND))), "ms"),
        "streaming.incremental.spark_jobs": (_median(totals(appends, "jobs")), "count"),
        "index.deletes.delete_by_ids_ms": (_median(ms(tree.named("index.deletes.delete_by_ids"))), "ms"),
        "index.manifest.commit_ms": (_median(ms(tree.named("index.manifest.commit_manifest"))), "ms"),
        "search.searcher.open_s": (_sum([s.duration for s in opens]), "s"),
        "search.searcher.refresh_ms": (_median(ms(tree.named("search.searcher.refresh"))), "ms"),
        "search.searcher.search_ms": (_mean(ms(searches)), "ms"),
        "search.searcher.term_stats_ms": (
            _mean([sum(ms(tree.within(q, "search.searcher.term_stats"))) for q in queries]), "ms"),
        "search.searcher.self_ms": (_mean([tree.self_time(s) * MS for s in searches]), "ms"),
        "search.searcher.spark_jobs_per_query": (_mean(totals(queries, "jobs")), "count"),
        "search.searcher.spark_tasks_per_query": (_mean(totals(queries, "tasks")), "count"),
        "search.searcher.zero_job_frac": (_mean([t == 0 for t in totals(queries, "jobs")]), "ratio"),
        "search.searcher.distributed_frac": (
            _mean([bool(tree.within(q, "search.searcher.search_df")) for q in queries]), "ratio"),
        "search.searcher.combine_ms": (_mean(ms(combines)), "ms"),
        "functions.kernels.for_unpack_batch_ms": (_mean(ms(decodes)), "ms"),
        "functions.kernels.postings_decoded": (_sum([s.counts.get("postings", 0) for s in decodes]), "count"),
        "trace.span_cost_us": ((tracer.span_cost_s() * 1e6, 1), "us"),
        "trace.spans_per_query": (_mean([sum(1 for _ in tree.subtree(q)) for q in queries]), "count"),
    }
    return {k: {"value": float(v), "unit": u, "samples": n} for k, ((v, n), u) in m.items()}
