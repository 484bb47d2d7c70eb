"""Deletes / live docs — the tombstone analog of Lucene's .liv bitsets.

Reference surface: clt/index/leaf_reader.rs:250 (get_live_docs), del-count
validation core/index/segment_index.rs:228-269, buffered delete surface
clt/index/mod.rs:9-10,60 (all [stub]; Lucene 9 public semantics).

Spark mapping (SURVEY.md §1.4): live docs = anti-join with a tombstone
DataFrame. Semantics pinned to Lucene:
- deletes are logical: postings/norms/terms stats are NOT rewritten —
  doc_freq/idf keep their pre-delete values until a merge reclaims them
  (exactly like Lucene, where IndexSearcher stats include deleted docs)
- matching docs are filtered from every query result and count
- del_count is tracked in the manifest and validated by CheckIndex
  (doc_count stays maxDoc; live docs = doc_count - del_count)

Each delete batch appends a new tombstone generation parquet (immutable,
like .liv files per commit); readers union all generations.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.index.manifest import commit_manifest, read_manifest

TOMBSTONE_DIR = "tombstones"
SOFT_TOMBSTONE_DIR = "soft_tombstones"


def read_tombstones(
    spark: SparkSession, index_dir: str, kind: str = "all", manifest: dict | None = None
) -> DataFrame | None:
    """Union of tombstone generations → (doc_id) or None when empty.
    kind: 'hard' | 'soft' | 'all'. Soft deletes (r4, VERDICT item 9; the
    soft_deletes_retention_merge_policy surface, clt/index/mod.rs:120-121)
    live in their own generation dirs: a normal reader hides hard AND soft
    tombstones, a soft_deletes=True reader keeps soft-deleted docs visible
    (Lucene's reader-over-the-soft-deletes-field view), and a merge
    reclaims both.

    manifest: read the tombstone view of THAT commit point — its stamped
    `tombstone_dirs` snapshot (index_commit.rs getFileNames analog) instead
    of whatever generation dirs exist on disk now. Required for opening an
    old commit, and safer for any pinned reader (a concurrent delete's new
    gen dir never leaks in). Without a manifest this is a LIVE read: glob
    the dirs on disk, which may include a tombstone generation newer than
    the last commit (the writer itself reads mid-commit this way)."""
    m = manifest if manifest is not None else (read_manifest(index_dir) or {})
    reclaimed = set(m.get("reclaimed_tombstone_dirs", ()))
    if manifest is not None and "tombstone_dirs" in m:
        rel = list(m.get("tombstone_dirs") or ())
        dirs = []
        if kind in ("hard", "all"):
            dirs += sorted(
                os.path.join(index_dir, r) for r in rel
                if r.startswith(TOMBSTONE_DIR + "/") or r.startswith(TOMBSTONE_DIR + os.sep)
            )
        if kind in ("soft", "all"):
            dirs += sorted(
                os.path.join(index_dir, r) for r in rel
                if r.startswith(SOFT_TOMBSTONE_DIR + "/")
                or r.startswith(SOFT_TOMBSTONE_DIR + os.sep)
            )
        dirs = [d for d in dirs if os.path.relpath(d, index_dir) not in reclaimed]
        if not dirs:
            return None
        return spark.read.parquet(*dirs).select("doc_id").distinct()
    dirs = []
    if kind in ("hard", "all"):
        dirs += sorted(glob.glob(os.path.join(index_dir, TOMBSTONE_DIR, "gen=*")))
    if kind in ("soft", "all"):
        dirs += sorted(glob.glob(os.path.join(index_dir, SOFT_TOMBSTONE_DIR, "gen=*")))
    # generations already folded into the current postings generation by a
    # reclaiming merge are skipped — the FILES stay (readers of the old
    # manifest generation still apply them to the old postings)
    dirs = [d for d in dirs if os.path.relpath(d, index_dir) not in reclaimed]
    if not dirs:
        return None
    return spark.read.parquet(*dirs).select("doc_id").distinct()


def delete_by_ids(
    spark: SparkSession, index_dir: str, doc_ids, soft: bool = False
) -> dict:
    """Delete by internal doc_id (list[int] or a (doc_id) DataFrame).
    Appends a (hard or soft) tombstone generation + commits a manifest
    with updated counts. Idempotent on re-delete (distinct at read)."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {index_dir}")
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
    else:
        df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    gen = m["generation"] + 1
    dest = os.path.join(
        index_dir, SOFT_TOMBSTONE_DIR if soft else TOMBSTONE_DIR, f"gen={gen}"
    )
    df.distinct().write.mode("overwrite").parquet(dest)

    hard = read_tombstones(spark, index_dir, kind="hard")
    soft_t = read_tombstones(spark, index_dir, kind="soft")
    manifest = dict(m)
    manifest.update(
        {
            "generation": gen,
            "del_count": hard.count() if hard is not None else 0,
            "soft_del_count": soft_t.count() if soft_t is not None else 0,
            "metrics": {"op": "delete"},
        }
    )
    commit_manifest(index_dir, manifest)
    return manifest


def delete_by_term(
    spark: SparkSession, index_dir: str, term: str, soft: bool = False
) -> dict:
    """Delete every live doc containing `term` (IndexWriter.deleteDocuments
    (Term) analog, clt/index/mod.rs:77 [stub]): resolve the doc set from
    the postings (docs-only decode, no scoring) and tombstone it."""
    from lucene_rust_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, index_dir)
    docs = s._matching_docs([term])
    return delete_by_ids(spark, index_dir, docs, soft=soft)


def check_deletes(spark: SparkSession, index_dir: str) -> dict:
    """CheckIndex extension (clt/index/mod.rs:12): validate del_count ==
    |tombstones|, every tombstone maps to a real doc, and live docs =
    doc_count - del_count (core/index/segment_index.rs:228-269 analog)."""
    m = read_manifest(index_dir)
    t = read_tombstones(spark, index_dir, kind="hard")
    n_tomb = t.count() if t is not None else 0
    assert m.get("del_count", 0) == n_tomb, (m.get("del_count"), n_tomb)
    # after a reclaiming merge the store moves to docmap_g{gen}: read the
    # manifest's docmap_dir exactly like IndexSearcher does
    docmap = spark.read.parquet(
        os.path.join(index_dir, m.get("docmap_dir", "docmap"))
    )
    if t is not None:
        orphans = t.join(docmap.select("doc_id"), "doc_id", "left_anti").count()
        assert orphans == 0, f"{orphans} tombstones reference unknown docs"
    live = docmap.count() - n_tomb
    assert live == m["doc_count"] - n_tomb
    return {"del_count": n_tomb, "live_docs": live, "max_doc": m["doc_count"]}
