"""IndexWriter.addIndexes(Directory...) analog — import a whole index.

Reference surfaces: clt/index/index_writer.rs [stub; Lucene 9 semantics:
addIndexes(Directory...) copies the source index's segments into the
destination with renumbered segment names and doc bases — no re-analysis,
no merge], doc_id_merger.rs (docBase remapping).

Spark mapping: doc_id = (part << 40) | row (index/build.py:66), so the
whole remap is ONE constant shift. Imported segments get parts offset
into a fresh EPOCH_PART_STRIDE-aligned namespace; every absolute doc id
in the stores moves by (offset << 40). Inside a FOR posting block only
`first_doc` is absolute (docs_bin holds deltas, index/build.py:240-249),
so postings import is a 3-column projection — positions/offsets/payload
bins and competitive impacts are doc-independent and copy through
untouched. Norms/docmap shift their doc_id column; source tombstones
land as a new destination tombstone generation. Cost is one read+write
of the source store (no shuffle on postings/norms — a map-only plan) +
the vocab-sized terms-dict rebuild every append already pays; at 100 TB
this is the cheapest possible "merge two indexes" (Lucene copies the
files too).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.index.build import (
    PARTITION_SHIFT,
    block_term_stats,
    sum_term_partials,
    write_terms_dict,
)
from lucene_rust_spark.index.manifest import commit_manifest, read_manifest
from lucene_rust_spark.streaming.incremental import EPOCH_PART_STRIDE, MAX_PART

# import groups live in their own namespace, away from build groups
# (small ints) and streaming-append groups (1_000_000 + epoch)
IMPORT_GROUP_BASE = 2_000_000

# analysis/codec options that must match — stats and postings semantics
# change under any of these (Lucene: addIndexes requires a compatible
# codec and the caller to guarantee analyzer compatibility; we can
# actually check, so we do)
_COMPAT_KEYS = (
    "format_version", "positions", "offsets", "payloads", "payload_fn",
    "word_break", "stop_words", "char_filters", "codec",
)


def add_indexes(spark: SparkSession, dest_dir: str, src_dir: str) -> dict:
    """Import every segment of the index at src_dir into dest_dir and
    commit. Returns the new manifest. The source directory is not
    modified; its docs keep their relative order and segment boundaries
    (only the doc base moves), exactly like Lucene's addIndexes."""
    md = read_manifest(dest_dir)
    ms = read_manifest(src_dir)
    if md is None or ms is None:
        raise FileNotFoundError(f"both indexes need a manifest: {dest_dir}, {src_dir}")
    mismatched = [
        k for k in _COMPAT_KEYS if (md.get(k) or None) != (ms.get(k) or None)
    ]
    if mismatched:
        raise ValueError(
            f"incompatible indexes, options differ: {mismatched} "
            f"(dest {[md.get(k) for k in mismatched]} "
            f"vs src {[ms.get(k) for k in mismatched]})"
        )

    dest_parts = [s["seg"] for s in md["segments"]]
    src_parts = [s["seg"] for s in ms["segments"]]
    offset = ((max(dest_parts) // EPOCH_PART_STRIDE) + 1) * EPOCH_PART_STRIDE
    if offset + max(src_parts) > MAX_PART:
        raise ValueError(
            f"part offset {offset} + src part {max(src_parts)} exceeds "
            f"the part-id namespace ({MAX_PART})"
        )
    shift = offset << PARTITION_SHIFT
    gimp = IMPORT_GROUP_BASE + sum(
        1 for s in md["segments"] if s.get("group", 0) >= IMPORT_GROUP_BASE
    )

    def dest_store(key: str, default: str) -> str:
        return os.path.join(dest_dir, md.get(key) or default)

    def src_store(key: str, default: str) -> str:
        return os.path.join(src_dir, ms.get(key) or default)

    # postings: shift the two absolute-doc columns, renumber segs; block
    # payloads (delta/position/offset/payload bins, impacts) copy through
    p = spark.read.parquet(src_store("postings_dir", "postings"))
    (
        p.drop("group")
        .withColumn("seg", (F.col("seg") + F.lit(offset)).cast("int"))
        .withColumn("first_doc", F.col("first_doc") + F.lit(shift))
        .withColumn("last_doc", F.col("last_doc") + F.lit(shift))
        .write.mode("overwrite")
        .parquet(os.path.join(dest_store("postings_dir", "postings"), f"group={gimp}"))
    )

    # norms + docmap: one shifted column each
    for key, default in (("norms_dir", "norms"), ("docmap_dir", "docmap")):
        df = spark.read.parquet(src_store(key, default)).drop("group")
        (
            df.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
            .write.mode("overwrite")
            .parquet(os.path.join(dest_store(key, default), f"group={gimp}"))
        )

    gen = int(md["generation"]) + 1

    # source tombstones (hard and soft) become one new dest generation each
    from lucene_rust_spark.index.deletes import (
        SOFT_TOMBSTONE_DIR,
        TOMBSTONE_DIR,
        read_tombstones,
    )

    for kind, dirname in (("hard", TOMBSTONE_DIR), ("soft", SOFT_TOMBSTONE_DIR)):
        t = read_tombstones(spark, src_dir, kind=kind)
        if t is not None:
            (
                t.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
                .write.mode("overwrite")
                .parquet(os.path.join(dest_dir, dirname, f"gen={gen}"))
            )

    # terms: import the source's vocab-sized partials under the import
    # group (df/ttf are doc-id-independent), then rebuild the global dict
    # the same way streaming appends do
    src_partials = sorted(
        glob.glob(os.path.join(src_dir, "terms_partial", "group=*"))
    )
    if src_partials:
        agg_src = sum_term_partials(spark, src_partials)
    else:  # a source whose reclaiming merge predates its one partial
        agg_src = block_term_stats(spark.read.parquet(src_store("postings_dir", "postings")))
    agg_src.write.mode("overwrite").parquet(
        os.path.join(dest_dir, "terms_partial", f"group={gimp}")
    )
    partial_dirs = sorted(glob.glob(os.path.join(dest_dir, "terms_partial", "group=*")))
    agg = sum_term_partials(spark, partial_dirs)  # holds the import just written
    width = spark.sparkContext.defaultParallelism
    terms_dir = f"terms_g{gen}"
    write_terms_dict(agg, os.path.join(dest_dir, terms_dir), max(1, width // 8))

    imported = [
        {
            **s,
            "seg": int(s["seg"]) + offset,
            "doc_base": int(s.get("doc_base", s["seg"] << PARTITION_SHIFT)) + shift,
            "group": gimp,
        }
        for s in ms["segments"]
    ]
    segments = sorted(md["segments"] + imported, key=lambda s: s["seg"])
    manifest = dict(md)
    xor = 0
    for s in segments:
        xor ^= int(s["content_sha256_xor"], 16)
    manifest.update(
        {
            "generation": gen,
            "segments": segments,
            "doc_count": sum(s["max_doc"] for s in segments),
            "sum_total_term_freq": sum(s["sum_ttf"] for s in segments),
            "del_count": int(md.get("del_count", 0)) + int(ms.get("del_count", 0)),
            "soft_del_count": int(md.get("soft_del_count", 0))
            + int(ms.get("soft_del_count", 0)),
            "content_sha256_xor": format(xor & 0xFFFFFFFFFFFFFFFF, "016x"),
            "terms_dir": terms_dir,
            "imported_groups": sorted(
                set(md.get("imported_groups", ())) | {gimp}
            ),
        }
    )
    commit_manifest(dest_dir, manifest)
    return manifest
