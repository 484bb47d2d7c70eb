"""Incremental index append — the NRT reader / reopen analog
(clt/search/mod.rs:27 controlled_real_time_reopen_thread, :132
searcher_manager [stub]; the reference is batch-only, SURVEY.md §2.8).

Each appended batch becomes a new family of segments in a disjoint part-id
range (epoch namespacing keeps docIDs unique without coordination), written
exactly like a build group and committed with a new manifest generation.
Structured Streaming drives this through foreachBatch for exactly-once
appends (the checkpoint location is the WAL; the manifest commit is
idempotent per epoch — an epoch replay overwrites its own group dir)."""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.index.build import (
    PARTITION_SHIFT,
    _build_group,
    ensure_term_partials,
    reject_null_metadata,
    term_partial_dirs,
    with_partition,
    write_terms_dict,
)
from lucene_rust_spark.index.manifest import commit_manifest, read_manifest

# part ids must fit in 23 bits (doc_id = part << 40 in a signed 64-bit):
# 4096 parts per epoch namespace, up to 2047 epochs
EPOCH_PART_STRIDE = 4096
MAX_PART = (1 << 23) - 1


def append_batch(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    epoch: int,
    num_partitions: int = 8,
) -> dict:
    """Append one batch as new segments (part ids offset by epoch stride).
    Idempotent per (index_dir, epoch): replays overwrite the same group."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"append requires an existing index at {index_dir}")
    if num_partitions > EPOCH_PART_STRIDE:
        raise ValueError(f"num_partitions > {EPOCH_PART_STRIDE}")
    offset = (epoch + 1) * EPOCH_PART_STRIDE
    if offset + num_partitions > MAX_PART:
        raise ValueError(f"epoch {epoch} exceeds the part-id namespace")
    reject_null_metadata(source)
    docs = with_partition(source, num_partitions).withColumn(
        "part", (F.col("part") + F.lit(offset)).cast("int")
    )
    width = spark.sparkContext.defaultParallelism
    g = 1_000_000 + epoch  # group namespace for streaming appends
    # payload fn continuity (r4, VERDICT item 8): resolve the build's
    # RECORDED fn name through the registry — never silently downgrade to
    # the default fn (that would change payload semantics mid-index)
    pname = m.get("payload_fn") or ("token_type" if m.get("payloads") else None)
    if pname == "custom":
        raise ValueError(
            "index was built with an UNREGISTERED custom payload fn — "
            "register_payload_fn(name, fn) at build time so appends can "
            "resolve it, or rebuild with a named fn"
        )
    # before this batch writes its own partial: an index whose partials
    # an older reclaiming merge deleted gets them back from its postings
    ensure_term_partials(spark, index_dir, m)
    gs = _build_group(
        docs, index_dir, g, 1, width,
        positions=bool(m.get("positions")),
        postings_dirname=m.get("postings_dir", "postings"),
        norms_dirname=m.get("norms_dir", "norms"),
        docmap_dirname=m.get("docmap_dir", "docmap"),
        word_break=m.get("word_break", "simple"),
        offsets=bool(m.get("offsets")),
        payloads=pname,  # resolved inside _build_group; raises if missing
        sort_key=m.get("sort_key"),
    )

    # drop a possibly-stale record of this epoch (idempotent replay)
    segments = [s for s in m["segments"] if s.get("group") != g] + gs["segments"]
    manifest = dict(m)
    manifest.update(
        {
            "doc_count": sum(s["max_doc"] for s in segments),
            "sum_total_term_freq": sum(s["sum_ttf"] for s in segments),
            "segments": sorted(segments, key=lambda s: s["seg"]),
            "generation": m["generation"] + 1,
            "appended_epochs": sorted(set(m.get("appended_epochs", [])) | {epoch}),
        }
    )
    xor = 0
    for s in segments:
        xor ^= int(s["content_sha256_xor"], 16)
    manifest["content_sha256_xor"] = format(xor & 0xFFFFFFFFFFFFFFFF, "016x")

    # refresh the global terms dict (df/ttf changed); write to a new
    # generation dir so readers of the old one are unaffected. Sum the
    # per-group terms partials (vocab-sized; this batch's was just
    # written) — df/ttf are merge-invariant, and a reclaiming merge
    # leaves one partial of its merged postings.
    terms_dir = f"terms_g{manifest['generation']}"
    t0 = time.perf_counter()
    write_terms_dict(
        spark, term_partial_dirs(index_dir), os.path.join(index_dir, terms_dir), max(1, width // 8)
    )
    manifest["terms_dir"] = terms_dir
    manifest["metrics"] = {
        "op": "append",
        "flush_s": gs["flush_s"],
        "terms_dict_s": round(time.perf_counter() - t0, 3),
        "stores": gs["stores"],
    }
    commit_manifest(index_dir, manifest)
    return manifest


def stream_append(
    spark: SparkSession,
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    num_partitions: int = 8,
):
    """Structured Streaming sink: every micro-batch is appended as new
    segments. Returns the StreamingQuery (caller drives/stops it)."""

    def sink(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.rdd.isEmpty():
            return
        append_batch(spark, batch_df, index_dir, int(epoch), num_partitions)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def update_documents(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    epoch: int,
    num_partitions: int = 8,
) -> dict:
    """IndexWriter.updateDocument analog (clt/index/mod.rs:77 [stub];
    Lucene semantics: delete-then-add under one commit point): tombstone
    every live doc whose identity key (repo, path) appears in the batch,
    then append the batch as new segments. The delete resolves doc_ids
    through a broadcast semi-join of the docmap against the batch's keys
    — no scan of postings — and the append reuses the epoch-namespaced
    exactly-once machinery, so replays are idempotent for both halves."""
    from lucene_rust_spark.index.deletes import delete_by_ids
    from lucene_rust_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, index_dir)
    keys = source.select("repo", "path").distinct()
    stale = s.docmap.join(F.broadcast(keys), ["repo", "path"], "left_semi").select(
        "doc_id"
    )
    # never tombstone THIS epoch's own part-id namespace: a replayed
    # update re-appends identical doc_ids there, and deleting them first
    # would kill the re-added docs (idempotency of the delete half)
    lo = (epoch + 1) * EPOCH_PART_STRIDE
    part = F.shiftright("doc_id", PARTITION_SHIFT)
    stale = stale.filter((part < lo) | (part >= lo + EPOCH_PART_STRIDE))
    stale = s._drop_deleted(stale)
    if stale.limit(1).count():
        delete_by_ids(spark, index_dir, stale)
    return append_batch(spark, source, index_dir, epoch, num_partitions)
