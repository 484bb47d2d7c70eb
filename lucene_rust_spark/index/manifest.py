"""Index manifest — the segments_N analog (core/index/segment_index.rs).

A small JSON document listing segments + global counters, committed with
the same two-phase trick the reference uses for segments_N
(pending_segments_ prefix then rename, core/index/segment_index.rs:14-20):
write manifest.json.pending_<gen>, fsync, atomic rename to manifest.json.
Latest-generation discovery (core/index/segment_index.rs:355-408) becomes
"read manifest.json, trust its generation field" because the rename is
atomic and single-writer.

Commit points (clt/index/index_commit.rs, segment_infos.rs): every commit
ALSO writes an immutable per-generation copy `commits/segments_<gen>.json`
carrying the exact store-file snapshot (`store_files`) and tombstone-dir
list (`tombstone_dirs`) at commit time — Lucene's
IndexCommit.getFileNames(). Because store dirs only ever GROW (appends add
part files; merges/delete-reclaims write new generation-suffixed dirs),
the snapshot is sufficient to reopen any retained past commit exactly.
Retention of these commit points is an IndexDeletionPolicy decision
(index/commits.py), not the writer's.
"""

from __future__ import annotations

import glob
import json
import os
import time


MANIFEST_NAME = "manifest.json"
PENDING_PREFIX = "manifest.json.pending_"
COMMITS_DIR = "commits"
COMMIT_PREFIX = "segments_"

# the store-pointer keys a manifest may carry; values default to the
# unsuffixed dir name when absent (legacy manifests)
STORE_KEYS = ("postings_dir", "norms_dir", "docmap_dir", "terms_dir")


def store_dirs(manifest: dict) -> dict[str, str]:
    """Map store key → relative dir name for one manifest generation."""
    return {k: manifest.get(k) or k.replace("_dir", "") for k in STORE_KEYS}


def _snapshot_files(out_dir: str, manifest: dict) -> dict:
    """The IndexCommit file list: for each store dir referenced by this
    manifest, the sorted relative parquet paths present right now (commits
    are single-writer, so 'now' == 'at commit time'); plus the tombstone
    generation dirs present. Listing cost is O(files), same as Lucene
    writing file names into segments_N."""
    files: dict[str, list[str]] = {}
    for dirname in store_dirs(manifest).values():
        root = os.path.join(out_dir, dirname)
        files[dirname] = sorted(
            os.path.relpath(p, out_dir)
            for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        )
    tomb = sorted(
        os.path.relpath(d, out_dir)
        for pat in ("tombstones", "soft_tombstones")
        for d in glob.glob(os.path.join(out_dir, pat, "gen=*"))
    )
    return {"store_files": files, "tombstone_dirs": tomb}


def prepare_commit(out_dir: str, manifest: dict) -> int:
    """Phase 1 of the two-phase commit (IndexWriter.prepareCommit):
    stamp the file snapshot and durably write the PENDING manifest —
    `manifest.json.pending_<gen>`, Lucene's pending_segments_N. Nothing
    is visible to readers yet; a crash here leaves only the pending file
    (cleaned by rollback_commit / rollback_uncommitted). Returns the
    prepared generation."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = dict(manifest)
    t0 = time.perf_counter()
    manifest.update(_snapshot_files(out_dir, manifest))
    metrics = manifest.get("metrics")
    if metrics is not None:
        # beside the writer's own phase timings: the snapshot is the
        # commit's O(files) step; the two small fsync'd writes after it
        # cannot time themselves
        manifest["metrics"] = {**metrics, "commit_s": round(time.perf_counter() - t0, 4)}
    gen = int(manifest["generation"])
    pending = os.path.join(out_dir, f"{PENDING_PREFIX}{gen}")
    with open(pending, "w") as f:
        f.write(json.dumps(manifest, indent=1, sort_keys=True))
        f.flush()
        os.fsync(f.fileno())
    return gen


def finish_commit(out_dir: str, generation: int) -> None:
    """Phase 2 (IndexWriter.commit after prepareCommit): publish the
    prepared generation. Writes the immutable commit point first (its
    visibility is governed by manifest.json, so a crash between the two
    renames is harmless), then atomically renames pending → manifest.json."""
    pending = os.path.join(out_dir, f"{PENDING_PREFIX}{int(generation)}")
    with open(pending) as f:
        payload = f.read()
    cdir = os.path.join(out_dir, COMMITS_DIR)
    os.makedirs(cdir, exist_ok=True)
    cpath = os.path.join(cdir, f"{COMMIT_PREFIX}{int(generation)}.json")
    with open(cpath + ".tmp", "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(cpath + ".tmp", cpath)
    os.replace(pending, os.path.join(out_dir, MANIFEST_NAME))


def rollback_commit(out_dir: str, generation: int) -> bool:
    """Abandon a prepared-but-unpublished generation (IndexWriter.rollback
    between prepareCommit and commit). Returns True if a pending file was
    removed."""
    pending = os.path.join(out_dir, f"{PENDING_PREFIX}{int(generation)}")
    if os.path.exists(pending):
        os.remove(pending)
        return True
    return False


def commit_manifest(out_dir: str, manifest: dict) -> None:
    """One-shot commit (IndexWriter.commit without an explicit prepare):
    prepare + finish."""
    finish_commit(out_dir, prepare_commit(out_dir, manifest))


def read_manifest(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, MANIFEST_NAME)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def list_commit_generations(out_dir: str) -> list[int]:
    """Ascending generations with a retained commit point. Legacy indexes
    (no commits/ dir) expose only the live manifest's generation."""
    gens = []
    for p in glob.glob(os.path.join(out_dir, COMMITS_DIR, f"{COMMIT_PREFIX}*.json")):
        stem = os.path.basename(p)[len(COMMIT_PREFIX):-len(".json")]
        if stem.isdigit():
            gens.append(int(stem))
    if not gens:
        m = read_manifest(out_dir)
        return [int(m["generation"])] if m else []
    return sorted(gens)


def read_commit(out_dir: str, generation: int) -> dict | None:
    """The manifest of one retained commit point (None if not retained).
    The live generation falls back to manifest.json on legacy indexes."""
    path = os.path.join(
        out_dir, COMMITS_DIR, f"{COMMIT_PREFIX}{int(generation)}.json"
    )
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    m = read_manifest(out_dir)
    if m is not None and int(m.get("generation", -1)) == int(generation):
        return m
    return None


def committed_files(out_dir: str, manifest: dict, dirname: str) -> list[str]:
    """Absolute parquet paths of one store dir in this manifest's view:
    the stamped `store_files`, else (legacy manifests) a glob."""
    stamped = (manifest.get("store_files") or {}).get(dirname)
    if stamped:
        return [os.path.join(out_dir, r) for r in stamped]
    return sorted(
        glob.glob(os.path.join(out_dir, dirname, "**", "*.parquet"), recursive=True)
    )


def check_index(out_dir: str, spark) -> dict:
    """CheckIndex analog (clt/index/mod.rs:12): validate manifest invariants
    against the stored parquet — the live generation's committed files,
    wherever merges and appends moved its stores. Returns a dict of
    checked facts; raises on violation."""
    m = read_manifest(out_dir)
    assert m is not None, "no manifest"
    dirs = store_dirs(m)
    norms, docmap, postings = (
        spark.read.parquet(*committed_files(out_dir, m, dirs[k]))
        for k in ("norms_dir", "docmap_dir", "postings_dir")
    )
    n_norms = norms.count()
    n_docs = docmap.count()
    assert n_norms == m["doc_count"], (n_norms, m["doc_count"])
    assert n_docs == m["doc_count"], (n_docs, m["doc_count"])
    assert sum(s["max_doc"] for s in m["segments"]) == m["doc_count"]
    assert all(s["del_count"] == 0 for s in m["segments"])
    from pyspark.sql import functions as F

    agg = postings.agg(
        F.sum("sum_tf").alias("ttf"), F.max("n").alias("max_n"), F.min("n").alias("min_n")
    ).collect()[0]
    assert int(agg["ttf"]) == m["sum_total_term_freq"], (agg["ttf"], m["sum_total_term_freq"])
    assert int(agg["max_n"]) <= 128
    assert int(agg["min_n"]) >= 1
    return {"doc_count": n_docs, "sum_ttf": int(agg["ttf"]), "segments": len(m["segments"])}
