"""IndexSearcher — BM25 top-k over the built index (SURVEY.md §3.3).

Reference surface (all [stub] there; Lucene 9 public semantics pinned in
FIXTURES.md): clt/search/index_searcher.rs:12-36 (search entry + consts),
clt/search/mod.rs:149 (TermQuery), :9 (BooleanQuery), :159 (TopScoreDoc
Collector), :161 (TotalHitCountCollector), :167 (WANDScorer — see wand.py).

Spark mapping:
  TermStates/CollectionStatistics gather = driver-side lookup on the tiny
    terms dict (broadcast-style), then constants captured in the decode kernel
  per-leaf scorer             = block-decode + float32 BM25 kernel, in one
                                task for queries <= FUSED_MAX_POSTINGS (the
                                reader task: it reads the postings files
                                itself, block_reader.py), else mapInPandas
  conjunction (leapfrog)      = groupBy(doc_id) match-count filter
  disjunction sum             = groupBy(doc_id) + fixed-order float32 sum
  MUST_NOT (ReqExclScorer)    = left_anti join
  TopScoreDocCollector merge  = reader task (<= FUSED_MAX_POSTINGS): one
                                Spark job of one task and no SQL plan; top-k
                                ranked inside the task, live docs and
                                search_after applied there too;
                                multi-task plans: orderBy(score desc,
                                doc_id asc).limit(k) (Spark's
                                TakeOrderedAndProject IS the two-level
                                heap merge)
  search_after                = (score, doc_id) keyset predicate before top-k
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.functions.similarities import BM25, get_similarity
from lucene_rust_spark.index.manifest import read_manifest
from lucene_rust_spark.oracle.bm25 import query_terms
from lucene_rust_spark.search.rewrite import (
    CONSTANT_SCORE_TYPES,
    match_candidates,
    match_terms,
)
from lucene_rust_spark.session import sql_string

_EMPTY_I64 = np.zeros(0, dtype=np.int64)

MAX_CLAUSE_COUNT = 1024  # clt/search/index_searcher.rs:1
PRUNE_MIN_POSTINGS = 1_000_000  # WAND auto-on crossover (see search_df)
# r4 measured (BENCH/WAND.md): with the metadata-only theta the pruned
# plan beats exact from ~800k-1.2M postings even on hash-random doc order
# (or2 2.0x, or_rare 1.95x); below, the planning pass doesn't amortize
# index-sorted corpora (build sort_key='content_len') cluster competitive
# postings, so pruning pays much earlier: measured crossover ~600k postings
# (BENCH/WAND_SORTED.md: speedup 1.13-2.07x at 800k-1.2M, prune ratio .996+)
PRUNE_MIN_POSTINGS_SORTED = 600_000
# one-task term/bool shape: below this posting volume, decode + the pinned
# combine (_fused_kernel) run inside ONE Python task — no groupBy exchange.
# A ranked search runs it as the view's reader task (one RDD job that reads
# the postings files itself, no SQL plan); hits_df as one mapInPandas. A
# 1M-posting decode is ~50 ms of numpy, far below the ~100-150 ms cost of
# the extra exchange+stage it replaces
FUSED_MAX_POSTINGS = 1_000_000
# small-query driver path (see search_df): execute on the driver when the
# query's total posting volume fits this cap. The bound is a driver-memory
# guard, not a latency crossover: 1M postings is ~8k packed block rows
# (a few MB collected), and the driver decode+combine (~20-50 ms with the
# batched unpack) beats the fixed multi-task job overhead (~200 ms on this
# host) by a wide margin all the way to the cap — measured r7: a 110k-
# posting bool query 226 -> 86 ms, rank-identical (OPTIMIZATION_r07.md §4)
DRIVER_EXEC_MAX_POSTINGS = 1_000_000
# decoded per-term postings LRU for the driver path (the LRUQueryCache /
# OS-page-cache analog: Lucene re-reads hot postings from cache too; the
# score/combine/rank pipeline still runs per query). Bounded by postings
# held; invalidated with the searcher view (refresh() rebuilds the reader)
DRIVER_POSTINGS_CACHE_MAX = 4_000_000
# open(cache=True) preloads the terms dict onto the driver up to this size
TERM_DICT_MAX = 2_000_000
# mapInPandas output schema of the fused plan: a StructType is sent as JSON,
# where a DDL string costs a parse round-trip to the JVM per query
_HITS_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.FloatType())]
)


def _ngram_keep(n_terms: int, n: int) -> list[int]:
    """NGramPhraseQuery.rewrite's kept gram positions
    (clt/search/n_gram_phrase_query.rs; Lucene NGramPhraseQuery): every
    n-th gram plus the last — on an n-gram token stream the kept grams'
    character overlap implies the dropped ones, so the match set is
    unchanged with ~1/n of the postings consulted."""
    if n <= 1:
        return list(range(n_terms))
    return [
        i for i in range(n_terms) if i % n == 0 or i == n_terms - 1
    ]


def _normalize_ngram_phrase(query: dict) -> dict:
    """Lucene only applies the n-gram optimization to EXACT phrases;
    sloppy n-gram phrases rewrite to the standard PhraseQuery over all
    grams (NGramPhraseQuery.rewrite returns `this` unoptimized)."""
    if query.get("type") == "ngram_phrase" and int(query.get("slop", 0) or 0) > 0:
        q = dict(query)
        q["type"] = "phrase"
        return q
    return query


def combine_bool_arrays(
    term_arrays: dict, must_set, should_set, mn_terms, msm, idf_map, sim
):
    """The pinned boolean combine over decoded per-term arrays — one
    implementation shared by the driver fast path AND the fused one-task
    distributed kernel (so their results are byte-identical by
    construction): float32 accumulation in ascending-term order,
    MUST/minShouldMatch/MUST_NOT counting, tombstones NOT applied here.
    term_arrays: term -> (docs, tfs, dlqs). Returns (docs, scores_f32)."""
    all_docs = np.unique(np.concatenate([a[0] for a in term_arrays.values()]))
    acc = np.zeros(len(all_docs), dtype=np.float32)
    n_must = np.zeros(len(all_docs), dtype=np.int32)
    n_should = np.zeros(len(all_docs), dtype=np.int32)
    n_not = np.zeros(len(all_docs), dtype=np.int32)
    touched = np.zeros(len(all_docs), dtype=bool)
    ms, ss, ns = set(must_set), set(should_set), set(mn_terms)
    for t in sorted(term_arrays):  # ascending term — the pinned fold order
        docs, tfs, dlqs = term_arrays[t]
        idx = np.searchsorted(all_docs, docs)
        if t in ms or t in ss:
            s = sim.score(tfs, dlqs, np.full(len(tfs), idf_map[t], np.float32))
            acc[idx] = (acc[idx] + s).astype(np.float32)
            touched[idx] = True
        if t in ms:
            n_must[idx] += 1
        if t in ss:
            n_should[idx] += 1
        if t in ns:
            n_not[idx] += 1
    ok = touched
    if must_set:
        ok = ok & (n_must == len(must_set))
    if should_set and (msm or not must_set):
        ok = ok & (n_should >= max(msm, 0 if must_set else 1))
    ok = ok & (n_not == 0)
    return all_docs[ok], acc[ok]


def _term_in(terms) -> str:
    """The block scans' `term IN (...)` filter as one SQL string: one py4j
    call, where isin(list) marshals each literal (~0.5 ms apiece)."""
    return f"term IN ({', '.join(map(sql_string, terms))})"


def _top_k(docs, scores, k, search_after):
    """(docs, scores) after the search_after keyset, ranked (score desc,
    doc_id asc) and cut to k: the TopScoreDocCollector order every
    executor shares (float32 keyset compare, as Lucene's FieldDoc)."""
    if search_after is not None and len(docs):
        s_a, d_a = np.float32(search_after[0]), int(search_after[1])
        keep = (scores < s_a) | ((scores == s_a) & (docs > d_a))
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order], scores[order]


# the fused DataFrame plan's input: the packed block columns plus the spec
_FUSED_COLS = ("term", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin", "spec")


def _fused_kernel(frames, spec, sim, tomb_ids=None):
    """The one-task term/bool scorer (decode -> combine_bool_arrays ->
    live-docs filter -> top-k), shared by the reader task (search's top-k)
    and the fused DataFrame plan (hits_df). frames: block-row frames
    (term, n, first_doc, docs_bin, tfs_bin, dlq_bin columns: pandas, or
    the reader's column lists). spec: must, should, not, msm, the float32
    idf per scoring term, k and after. k=None returns every matching doc,
    unranked and before the live-docs filter (hits_df's contract).
    Returns (docs int64, scores float32)."""
    chunks = defaultdict(list)
    for f in frames:
        ns = np.asarray(f["n"], dtype=np.int64)
        if not len(ns):
            continue
        docs_dec = K.for_unpack_batch(list(f["docs_bin"]), ns)
        tfs_dec = K.for_unpack_batch(list(f["tfs_bin"]), ns)
        for ri, (term, fd, qb) in enumerate(zip(f["term"], f["first_doc"], f["dlq_bin"])):
            docs = np.int64(fd) + np.cumsum(docs_dec[ri]).astype(np.int64)
            chunks[term].append(
                (
                    docs,
                    tfs_dec[ri].astype(np.int64),
                    np.frombuffer(bytes(qb), dtype=np.uint8).astype(np.int64),
                )
            )
    if not chunks:
        return _EMPTY_I64, np.zeros(0, dtype=np.float32)
    arrs = {t: tuple(np.concatenate(x) for x in zip(*lst)) for t, lst in chunks.items()}
    idf = {t: np.float32(v) for t, v in spec["idf"].items()}
    docs, scores = combine_bool_arrays(
        arrs, spec["must"], spec["should"], spec["not"], spec["msm"], idf, sim
    )
    if spec["k"] is not None:
        if tomb_ids is not None and len(docs):
            live = ~np.isin(docs, tomb_ids)
            docs, scores = docs[live], scores[live]
        docs, scores = _top_k(docs, scores, spec["k"], spec["after"])
    return docs, scores


def _fused_map(batches, sim):
    """hits_df's mapInPandas body: the spec rides the block rows as the
    JSON `spec` column, so one cached UDF serves every query of a view."""
    frames = [pdf for pdf in batches if len(pdf)]
    if frames:
        spec = json.loads(frames[0]["spec"].iat[0])
        docs, scores = _fused_kernel(frames, spec, sim)
        yield pd.DataFrame({"doc_id": docs, "score": scores})


def _reader_task(_split, specs, files, sim, tomb):
    """The reader job's one task: per query spec, the blocks of its terms
    from the view's postings files (block_reader), then _fused_kernel.
    tomb: broadcast of the view's tombstone ids, or None. Consumes every
    spec, so PySpark hands the worker back for reuse."""
    from lucene_rust_spark.search.block_reader import term_blocks

    tomb_ids = tomb.value if tomb is not None else None
    for spec in specs:
        blocks = term_blocks(files, set(spec["idf"]) | set(spec["not"]))
        docs, scores = _fused_kernel([blocks.to_pydict()], spec, sim, tomb_ids)
        yield docs.tolist(), scores.tolist()


def phrase_doc_freq(pos_by_slot, slot_offs, slop: int, lucene_mode: bool):
    """Per-doc phrase frequency over per-slot position arrays — the ONE
    matcher shared by the driver phrase path and explain(): the pinned
    displacement window, or the exact Lucene pq kernel for
    slop_mode='lucene'."""
    if lucene_mode:
        from lucene_rust_spark.search.sloppy import lucene_sloppy_freq

        return lucene_sloppy_freq(
            [a - off for off, a in zip(slot_offs, pos_by_slot)], slop
        )
    sets = [set(a.tolist()) for a in pos_by_slot]
    freq = 0
    for p0 in sorted(sets[0]):
        if all(
            any(abs(p - (p0 + slot_offs[i])) <= slop for p in sets[i])
            for i in range(1, len(sets))
        ):
            freq += 1
    return freq


def combine_indri_arrays(term_arrays: dict, terms: list, cp_map: dict, sim):
    """The pinned Indri smoothed-AND combine (clt/search/mod.rs:65-70
    indri_and_query/scorer [stub]; Lucene 9 semantics): over docs matching
    >= 1 clause, EVERY query term contributes — its true score when the
    doc matches it, its zero-frequency smoothed score log(mu*P(t|C)/(dl+mu))
    when it doesn't. float32 fold in ascending-term order. Returns
    (docs, scores_f32), tombstones not applied."""
    present = {t: a for t, a in term_arrays.items() if len(a[0])}
    if not present:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32)
    all_docs = np.unique(np.concatenate([a[0] for a in present.values()]))
    dlq_all = np.zeros(len(all_docs), dtype=np.int64)
    for t, (docs, _tfs, dlqs) in present.items():
        dlq_all[np.searchsorted(all_docs, docs)] = dlqs
    acc = np.zeros(len(all_docs), dtype=np.float32)
    for t in sorted(terms):  # ascending term — the pinned fold order
        cp = np.float32(cp_map[t])
        contrib = sim.zero_score(dlq_all, cp)
        if t in present:
            docs, tfs, dlqs = present[t]
            idx = np.searchsorted(all_docs, docs)
            contrib[idx] = sim.score(tfs, dlqs, np.full(len(tfs), cp, np.float32))
        acc = (acc + contrib).astype(np.float32)
    return all_docs, acc


def _f32_fold(parts_col) -> "F.Column":
    """float32 sum of per-term scores in ascending-term order — the pinned
    combination order shared with the oracle (oracle/bm25.py) — as a pure
    JVM fold: sort_array on struct(term, score) orders by term, and Spark's
    FloatType addition is IEEE-754 single precision, so the left-fold is
    bit-identical to the numpy f32 loop while staying inside whole-stage
    codegen (no per-row Python in the hot combine path)."""
    return F.aggregate(
        F.sort_array(parts_col),
        F.lit(0.0).cast("float"),
        lambda acc, x: (acc + x["score"]).cast("float"),
    )


def _dismax_fold(parts_col, tie: float) -> "F.Column":
    """DisjunctionMax combine (kernels.dismax_combine) as a JVM fold:
    max + tie * f32-sum(others in ascending-term order, skipping the first
    occurrence of the max)."""
    sorted_parts = F.sort_array(parts_col)
    mx = F.array_max(F.transform(sorted_parts, lambda x: x["score"]))
    rest = F.aggregate(
        sorted_parts,
        F.struct(
            F.lit(False).alias("skipped"), F.lit(0.0).cast("float").alias("acc")
        ),
        lambda a, x: F.struct(
            (a["skipped"] | (x["score"] == mx)).alias("skipped"),
            F.when(~a["skipped"] & (x["score"] == mx), a["acc"])
            .otherwise((a["acc"] + x["score"]).cast("float"))
            .alias("acc"),
        ),
        lambda a: a["acc"],
    )
    return (mx + (F.lit(float(tie)).cast("float") * rest).cast("float")).cast("float")


class IndexSearcher:
    PRUNE_MIN_POSTINGS = PRUNE_MIN_POSTINGS  # override per-instance to tune
    DRIVER_EXEC_MAX_POSTINGS = DRIVER_EXEC_MAX_POSTINGS  # 0 = always distributed

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache: bool = False,
        similarity: str = "bm25",
        tombstones: DataFrame | None = None,
        soft_deletes: bool = False,
        pin_files: bool = False,
        commit: int | None = None,
    ):
        """tombstones: optional (doc_id) DataFrame of ephemeral deletes
        applied on top of any on-disk tombstone generations — the
        IndexReader-with-liveDocs view (clt/index/leaf_reader.rs:250).
        soft_deletes=True keeps SOFT-tombstoned docs visible (Lucene's
        reader over the soft-deletes field without the retention wrapper,
        clt/index/mod.rs:120-121): hard deletes still hide; a merge
        reclaims both kinds and the flag then has nothing left to show.
        pin_files=True freezes each store to the files present at open
        (explicit file list + basePath) — the IndexReader commit-point
        pin SearcherManager needs: a directory-path read of the same dir
        plan-matches an older searcher's cached relation and would
        silently reuse its stale file listing after an append.
        commit=<generation> opens a RETAINED PAST COMMIT POINT
        (DirectoryReader.open(IndexCommit), clt/index/index_commit.rs,
        standard_directory_reader.rs): stores and tombstones come from that
        generation's stamped file snapshot, so the searcher sees exactly
        the index as of that commit — provided the deletion policy
        (index/commits.py) retained it."""
        self.spark = spark
        self.index_dir = index_dir
        self.commit = int(commit) if commit is not None else None
        # a commit-point read is pinned by definition — its view is the
        # stamped file list, never the live directory listing
        self.pin_files = bool(pin_files) or self.commit is not None
        self.soft_deletes = bool(soft_deletes)
        if self.commit is not None:
            from lucene_rust_spark.index.manifest import read_commit

            self.manifest = read_commit(index_dir, self.commit)
            if self.manifest is None:
                raise FileNotFoundError(
                    f"commit point {self.commit} not retained in {index_dir} "
                    "(deleted by the deletion policy, or never committed)"
                )
        else:
            self.manifest = read_manifest(index_dir)
        if self.manifest is None:
            raise FileNotFoundError(f"no manifest in {index_dir}")
        from lucene_rust_spark.index.deletes import read_tombstones

        disk_tomb = read_tombstones(
            spark, index_dir, kind="hard" if soft_deletes else "all",
            # pinned readers use the manifest's own tombstone snapshot so a
            # concurrent delete's new gen dir can't leak into this view
            manifest=self.manifest if self.pin_files else None,
        )
        if tombstones is not None:
            t = tombstones.select(F.col(tombstones.columns[0]).cast("long").alias("doc_id"))
            disk_tomb = t if disk_tomb is None else disk_tomb.unionByName(t).distinct()
        self.tombstones = disk_tomb
        self._tomb_count = int(disk_tomb.count()) if disk_tomb is not None else 0
        if self.tombstones is not None:
            self.tombstones = self.tombstones.persist()
        self.postings = self._read_store(self.manifest.get("postings_dir", "postings"))
        self.terms = self._read_store(self.manifest.get("terms_dir", "terms"))
        self.docmap = self._read_store(self.manifest.get("docmap_dir", "docmap"))
        self._term_dict = None
        self._norms_df = None
        self._fused = None  # (temp view, kernel column): see _fused_udf
        self._reader = None  # (OneTaskJob, tombstone broadcast): see _reader_job
        if cache:
            self.postings = self.postings.persist()
            # terms dict fits the driver comfortably below ~2M entries:
            # preloading makes TermStates gather + MultiTermQuery expansion
            # collect-free (1 Spark job per query instead of 2-3). At larger
            # dictionaries the DataFrame path below is used instead. One
            # capped collect both decides and loads.
            pdf = (
                self.terms.select("term", "doc_freq", "total_term_freq")
                .limit(TERM_DICT_MAX + 1)
                .toPandas()
            )
            if len(pdf) <= TERM_DICT_MAX:
                self._term_dict = {
                    t: (int(d), int(f))
                    for t, d, f in zip(pdf["term"], pdf["doc_freq"], pdf["total_term_freq"])
                }
        self.doc_count = int(self.manifest["doc_count"])
        self.sum_ttf = int(self.manifest["sum_total_term_freq"])
        if self.manifest.get("sort_key"):
            self.PRUNE_MIN_POSTINGS = PRUNE_MIN_POSTINGS_SORTED
        # pinned: avgdl from exact integer stats (FIXTURES.md §3)
        self.avgdl = np.float32(np.float64(self.sum_ttf) / np.float64(self.doc_count))
        self.sim = get_similarity(similarity, self.doc_count, self.sum_ttf)
        self.norm_cache = getattr(self.sim, "cache", K.bm25_norm_cache(self.avgdl))
        self._scratch_dfs: list[DataFrame] = []

    def refresh(self) -> bool:
        """SearcherManager.maybeRefresh analog (clt/search/mod.rs:132
        searcher_manager, :27 controlled_real_time_reopen_thread [stub]):
        re-read the manifest; when a newer generation exists (streaming
        append, merge, delete), reload postings/terms/docmap/tombstones
        and refreshed collection stats in place. Returns True when the
        view changed. Readers of the old generation dirs are unaffected
        (generation-suffixed dirs are immutable once committed). A
        commit-point searcher (commit=N) never refreshes — it IS that
        generation."""
        if self.commit is not None:
            return False
        m = read_manifest(self.index_dir)
        if m is None or m.get("generation") == self.manifest.get("generation"):
            return False
        cache = self._term_dict is not None or self.postings.is_cached
        try:
            self.postings.unpersist()
        except Exception:
            pass
        self._drop_fused()  # both rebuilt lazily over the new generation
        # stale driver-side caches: tombstones, pre-selected block frames,
        # and the decoded-postings LRU all reference the OLD generation
        for attr in ("_tomb_ids", "_blocks_sel", "_blocks_pos_sel",
                     "_postings_lru", "_postings_lru_held"):
            self.__dict__.pop(attr, None)
        self.__init__(  # re-run the reader bootstrap on the new generation
            self.spark,
            self.index_dir,
            cache=cache,
            similarity=self.sim.name,
            soft_deletes=self.soft_deletes,
            pin_files=self.pin_files,
        )
        return True

    def _read_store(self, dirname: str) -> DataFrame:
        """Open one store dir. pin_files freezes the file set (explicit
        list + basePath keeps the group= partition column) so this
        reader's view survives later appends even when another searcher
        holds a cached relation over the same dir. The manifest's stamped
        `store_files` snapshot is preferred over a live glob — it is the
        commit's exact file list (IndexCommit.getFileNames), so an
        in-flight append's not-yet-committed part files can't leak in;
        legacy manifests without the stamp fall back to the glob."""
        path = os.path.join(self.index_dir, dirname)
        if not self.pin_files:
            return self.spark.read.parquet(path)
        files = self._store_files(dirname)
        if not files:
            return self.spark.read.parquet(path)
        return self.spark.read.option("basePath", path).parquet(*files)

    def _store_files(self, dirname: str) -> list[str]:
        """One store dir's parquet files in this view: the manifest's
        stamped `store_files`, else (legacy manifests) a glob."""
        stamped = (self.manifest.get("store_files") or {}).get(dirname)
        if stamped:
            return [os.path.join(self.index_dir, r) for r in stamped]
        import glob as _glob

        return sorted(
            _glob.glob(os.path.join(self.index_dir, dirname, "**", "*.parquet"), recursive=True)
        )

    def close(self) -> None:
        """Release this reader's executor-memory footprint (persisted
        postings/tombstones/scratch frames). The searcher object stays
        usable afterwards — uncached — since the underlying store dirs
        are immutable; SearcherManager calls this when a retired
        generation's last reference is released."""
        for df in [self.postings, self.tombstones, *self._scratch_dfs]:
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass
        self._scratch_dfs.clear()
        self._term_dict = None
        self._drop_fused()

    def _scratch(self, df: DataFrame) -> None:
        """Track a persisted per-query intermediate; evict oldest beyond a
        small window (queries are lazy, so eager unpersist would drop the
        cache before the caller's action runs)."""
        self._scratch_dfs.append(df)
        while len(self._scratch_dfs) > 8:
            old = self._scratch_dfs.pop(0)
            try:
                old.unpersist()
            except Exception:
                pass

    # -- stats gather (TermStates collection, clt/index/mod.rs:173) ----------

    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        if not terms:
            return {}
        if self._term_dict is not None:
            return {
                t: {
                    "doc_freq": self._term_dict[t][0],
                    "total_term_freq": self._term_dict[t][1],
                    "idf": float(
                        self.sim.weight(self._term_dict[t][0], self._term_dict[t][1])
                    ),
                }
                for t in terms
                if t in self._term_dict
            }
        rows = (
            self.terms.filter(F.col("term").isin(list(terms)))
            .select("term", "doc_freq", "total_term_freq")
            .collect()
        )
        out = {}
        for r in rows:
            out[r["term"]] = {
                "doc_freq": int(r["doc_freq"]),
                "total_term_freq": int(r["total_term_freq"]),
                "idf": float(
                    self.sim.weight(int(r["doc_freq"]), int(r["total_term_freq"]))
                ),
            }
        return out

    # -- block decode + score kernel -----------------------------------------

    def _decode_coalesce(self, blocks: DataFrame, est_postings: int | None) -> DataFrame:
        """Cap the Python-decode stage's task count for small queries.
        Measured (local[32], 20k-doc index): a mapInPandas stage costs
        ~100 ms of fixed Arrow/worker overhead at <=8 tasks but ~230 ms at
        32 — for a query that decodes a few hundred blocks, fan-out is
        pure loss. est_postings comes from the cached term stats (df sum),
        so this costs no extra job; big queries (or unknown estimates)
        keep the scan's full parallelism."""
        if est_postings is None:
            return blocks
        est_blocks = est_postings // K.BLOCK_SIZE + 1
        if est_blocks > 16_384:  # ≥ ~2M postings: keep full width
            return blocks
        width = max(1, min(8, est_blocks // 1024 + 1))
        return blocks.coalesce(width)

    def _est_postings(self, terms: list[str]) -> int | None:
        """Posting-count estimate from the cached terms dict (no job);
        None when the dict isn't preloaded."""
        if self._term_dict is None:
            return None
        return sum(self._term_dict[t][0] for t in terms if t in self._term_dict)

    def _scored_postings(self, terms: list[str], stats: dict, blocks: DataFrame | None = None) -> DataFrame:
        """(doc_id, term, score float32) for every posting of the given terms.
        Term filter is pushed to the parquet scan (term-sorted files → row-group
        pruning plays the terms-dict seek role)."""
        idf_map = {t: np.float32(stats[t]["idf"]) for t in terms if t in stats}
        sim = self.sim
        if blocks is None:
            blocks = self._decode_coalesce(
                self.postings.filter(F.col("term").isin(list(terms))),
                sum(stats[t]["doc_freq"] for t in terms if t in stats),
            )
        blocks = blocks.select("term", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin")

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ns = pdf["n"].to_numpy(np.int64)
                docs_dec = K.for_unpack_batch(list(pdf["docs_bin"]), ns)
                tfs_dec = K.for_unpack_batch(list(pdf["tfs_bin"]), ns)
                first = pdf["first_doc"].to_numpy(np.int64)
                docs = np.concatenate(
                    [
                        np.int64(f) + np.cumsum(d).astype(np.int64)
                        for f, d in zip(first, docs_dec)
                    ]
                )
                tfs = np.concatenate(tfs_dec)
                dlqs = np.concatenate(
                    [np.frombuffer(bytes(b), dtype=np.uint8) for b in pdf["dlq_bin"]]
                )
                terms_arr = pdf["term"].to_numpy()
                idfs = np.repeat(
                    np.array([idf_map[t] for t in terms_arr], dtype=np.float32), ns
                )
                scores = sim.score(tfs, dlqs, idfs)
                yield pd.DataFrame(
                    {
                        "doc_id": docs,
                        "term": np.repeat(terms_arr, ns),
                        "score": scores,
                        "tf": tfs.astype(np.int32),
                        "dlq": dlqs.astype(np.int32),
                    }
                )

        return blocks.mapInPandas(
            decode, schema="doc_id long, term string, score float, tf int, dlq int"
        )

    def _positions(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, pos, dlq) — one row per token occurrence of the
        given terms. Decodes the .pos-stream analog (pos_bin) written by
        build_index(positions=True)."""
        if not self.manifest.get("positions"):
            raise ValueError("index was built without positions (build_index(positions=True))")
        blocks = self.postings.filter(F.col("term").isin(list(terms))).select(
            "term", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin", "pos_bin"
        )

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                terms_o, docs_o, pos_o, dlq_o = [], [], [], []
                ns_arr = pdf["n"].to_numpy(np.int64)
                docs_dec = K.for_unpack_batch(list(pdf["docs_bin"]), ns_arr)
                tfs_dec = K.for_unpack_batch(list(pdf["tfs_bin"]), ns_arr)
                totals = np.fromiter(
                    (int(x.sum()) for x in tfs_dec), dtype=np.int64, count=len(ns_arr)
                )
                pos_dec = K.for_unpack_batch(list(pdf["pos_bin"]), totals)
                for ri, (term, first_doc, qb) in enumerate(zip(
                    pdf["term"], pdf["first_doc"], pdf["dlq_bin"]
                )):
                    docs = np.int64(first_doc) + np.cumsum(docs_dec[ri]).astype(np.int64)
                    tfs = tfs_dec[ri].astype(np.int64)
                    dlqs = np.frombuffer(bytes(qb), dtype=np.uint8)
                    total = int(totals[ri])
                    pdeltas = pos_dec[ri].astype(np.int64)
                    # segmented cumsum: pos[o+j] = cs[o+j] - cs[o-1] where o
                    # is the posting start (its delta is the absolute first
                    # position). cs is nondecreasing (deltas >= 0), so
                    # maximum.accumulate propagates each posting's base.
                    offs = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                    cs = np.cumsum(pdeltas)
                    base = np.zeros(total, dtype=np.int64)
                    base[offs[1:]] = cs[offs[1:] - 1]
                    np.maximum.accumulate(base, out=base)
                    pos = cs - base
                    terms_o.append(np.repeat(term, total))
                    docs_o.append(np.repeat(docs, tfs))
                    dlq_o.append(np.repeat(dlqs, tfs))
                    pos_o.append(pos)
                if not terms_o:
                    continue
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_o),
                        "doc_id": np.concatenate(docs_o),
                        "pos": np.concatenate(pos_o),
                        "dlq": np.concatenate(dlq_o).astype(np.int32),
                    }
                )

        return blocks.mapInPandas(decode, schema="term string, doc_id long, pos long, dlq int")

    def term_offsets(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, pos, start, end) — one row per occurrence with
        char offsets (clt/index/postings_enum.rs:63-67, the Offsets
        postings flag). Decodes the offset streams written by
        build_index(offsets=True): starts are within-posting deltas like
        positions, lengths are raw FOR blocks."""
        if not self.manifest.get("offsets"):
            raise ValueError(
                "index was built without offsets (build_index(offsets=True))"
            )
        blocks = self.postings.filter(F.col("term").isin(list(terms))).select(
            "term", "n", "first_doc", "docs_bin", "tfs_bin",
            "pos_bin", "offs_bin", "olen_bin",
        )

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                terms_o, docs_o, pos_o, st_o, en_o = [], [], [], [], []
                for term, n, first_doc, db, tb, pb, ob, lb in zip(
                    pdf["term"], pdf["n"], pdf["first_doc"], pdf["docs_bin"],
                    pdf["tfs_bin"], pdf["pos_bin"], pdf["offs_bin"], pdf["olen_bin"],
                ):
                    n = int(n)
                    docs = np.int64(first_doc) + np.cumsum(
                        K.for_unpack(bytes(db), n)
                    ).astype(np.int64)
                    tfs = K.for_unpack(bytes(tb), n).astype(np.int64)
                    total = int(tfs.sum())
                    offs = np.concatenate(([0], np.cumsum(tfs)[:-1]))

                    def segmented(deltas):
                        cs = np.cumsum(deltas)
                        base = np.zeros(total, dtype=np.int64)
                        base[offs[1:]] = cs[offs[1:] - 1]
                        np.maximum.accumulate(base, out=base)
                        return cs - base

                    pos = segmented(K.for_unpack(bytes(pb), total).astype(np.int64))
                    starts = segmented(K.for_unpack(bytes(ob), total).astype(np.int64))
                    lens = K.for_unpack(bytes(lb), total).astype(np.int64)
                    terms_o.append(np.repeat(term, total))
                    docs_o.append(np.repeat(docs, tfs))
                    pos_o.append(pos)
                    st_o.append(starts)
                    en_o.append(starts + lens)
                if not terms_o:
                    continue
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_o),
                        "doc_id": np.concatenate(docs_o),
                        "pos": np.concatenate(pos_o),
                        "start": np.concatenate(st_o),
                        "end": np.concatenate(en_o),
                    }
                )

        return blocks.mapInPandas(
            decode, schema="term string, doc_id long, pos long, start long, end long"
        )

    def term_payloads(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, pos, payload) — one row per occurrence with its
        payload byte (clt/index/postings_enum.rs:70-76, the Payloads
        postings flag; written by build_index(payloads=...))."""
        if not self.manifest.get("payloads"):
            raise ValueError(
                "index was built without payloads (build_index(payloads=True))"
            )
        blocks = self.postings.filter(F.col("term").isin(list(terms))).select(
            "term", "n", "first_doc", "docs_bin", "tfs_bin", "pos_bin", "pay_bin"
        )

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                terms_o, docs_o, pos_o, pay_o = [], [], [], []
                for term, n, first_doc, db, tb, pb, yb in zip(
                    pdf["term"], pdf["n"], pdf["first_doc"], pdf["docs_bin"],
                    pdf["tfs_bin"], pdf["pos_bin"], pdf["pay_bin"],
                ):
                    n = int(n)
                    docs = np.int64(first_doc) + np.cumsum(
                        K.for_unpack(bytes(db), n)
                    ).astype(np.int64)
                    tfs = K.for_unpack(bytes(tb), n).astype(np.int64)
                    total = int(tfs.sum())
                    offs = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                    cs = np.cumsum(K.for_unpack(bytes(pb), total).astype(np.int64))
                    base = np.zeros(total, dtype=np.int64)
                    base[offs[1:]] = cs[offs[1:] - 1]
                    np.maximum.accumulate(base, out=base)
                    terms_o.append(np.repeat(term, total))
                    docs_o.append(np.repeat(docs, tfs))
                    pos_o.append(cs - base)
                    pay_o.append(np.frombuffer(bytes(yb), dtype=np.uint8).astype(np.int32))
                if not terms_o:
                    continue
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_o),
                        "doc_id": np.concatenate(docs_o),
                        "pos": np.concatenate(pos_o),
                        "payload": np.concatenate(pay_o),
                    }
                )

        return blocks.mapInPandas(
            decode, schema="term string, doc_id long, pos long, payload int"
        )

    def payload_score(self, term: str, fn: str = "sum") -> DataFrame:
        """(doc_id, score float) — the PayloadScoreQuery analog (Lucene's
        PayloadFunction lattice: min | max | sum | avg over the payload
        bytes of the term's occurrences in each doc), live docs only."""
        aggs = {
            "sum": F.sum("payload"),
            "max": F.max("payload"),
            "min": F.min("payload"),
            "avg": F.avg("payload"),
        }
        if fn not in aggs:
            raise ValueError(f"fn must be one of {sorted(aggs)}: {fn!r}")
        out = (
            self.term_payloads([term])
            .groupBy("doc_id")
            .agg(aggs[fn].cast("float").alias("score"))
        )
        return self._drop_deleted(out)

    def snippets(
        self,
        query: dict,
        text_df: DataFrame,
        k: int = 10,
        window: int = 30,
        prune: bool | None = None,
    ) -> DataFrame:
        """Top-k hits with a highlight snippet cut around the FIRST
        occurrence of any query term (the UnifiedHighlighter's offsets
        strategy, built on the Offsets postings flag): join hits with the
        min-(start,end) occurrence, then one JVM substring over the
        caller-provided stored source (doc_id, text) — no Python in the
        cut, no re-analysis of text at query time."""
        from lucene_rust_spark.oracle.bm25 import query_terms

        must, should, _mn, _msm = query_terms(query)
        terms = sorted(set(must) | set(should))
        hits = self.search_df(query, k, prune=prune)
        first = (
            self.term_offsets(terms)
            .groupBy("doc_id")
            .agg(F.min(F.struct("start", "end")).alias("fo"))
            .select("doc_id", F.col("fo.start").alias("start"), F.col("fo.end").alias("end"))
        )
        joined = hits.join(first, "doc_id", "left").join(text_df, "doc_id", "left")
        snip = F.substring(
            F.col("text"),
            (F.greatest(F.col("start") - window, F.lit(0)) + 1).cast("int"),
            (F.col("end") - F.col("start") + 2 * window).cast("int"),
        )
        return joined.select(
            "doc_id", "score", "start", "end", snip.alias("snippet")
        )

    def matches_df(self, query: dict, doc_ids: list[int] | None = None) -> DataFrame:
        """Match spans for docs matching `query` — the Matches API
        (clt/search/matches.rs, matches_iterator.rs [stubs]; Lucene 9
        Weight#matches): (doc_id, term, position, end_position,
        start_offset, end_offset), one row per occurrence / phrase
        window. See search/matches.py for the composition rules."""
        from lucene_rust_spark.search.matches import matches_df

        return matches_df(self, query, doc_ids)

    def matches(self, query: dict, doc_id: int):
        """Matches for one doc: {field: [MatchSpan, ...]} sorted by
        position, or None when the doc does not match
        (clt/search/matches.rs [stub]; Weight#matches returns null)."""
        from lucene_rust_spark.search.matches import doc_matches

        return doc_matches(self, query, doc_id)

    @staticmethod
    def _phrase_slots(query: dict) -> list[list[str]]:
        """Normalize phrase / multi_phrase / ngram_phrase ASTs to
        per-slot term lists (MultiPhraseQuery, clt/search/mod.rs:93
        [stub]: alternative terms per position). ngram_phrase keeps only
        every n-th gram plus the last (NGramPhraseQuery.rewrite,
        clt/search/n_gram_phrase_query.rs analog) — valid on n-gram
        token streams, where the kept grams' overlap implies the dropped
        ones; slot offsets come from _phrase_offsets."""
        if query.get("type") == "multi_phrase":
            return [sorted(set(s)) for s in query["slots"]]
        if query.get("type") == "ngram_phrase":
            terms = query["terms"]
            return [[terms[i]] for i in _ngram_keep(len(terms), int(query["n"]))]
        return [[t] for t in query["terms"]]

    @staticmethod
    def _phrase_offsets(query: dict, n_slots: int) -> list[int]:
        """Per-slot position offsets: consecutive for phrase/multi_phrase,
        the kept gram positions for ngram_phrase."""
        if query.get("type") == "ngram_phrase":
            return _ngram_keep(len(query["terms"]), int(query["n"]))
        return list(range(n_slots))

    def _phrase_candidates_pos(self, slots: list[list[str]], stats: dict) -> DataFrame:
        """Candidate-filtered positions frame (term, doc_id, pos, dlq) for
        phrase matching — doc-level pruning BEFORE touching positions. The
        downstream matchers enforce exact slot coverage, so any SUPERSET of
        the true candidate set is correct: when the rarest slot is small,
        decode its doc set on the driver and push a JVM InSet filter (no
        python stage, no broadcast exchange); otherwise compute the full
        slot conjunction. Without this pre-join, a common-term phrase
        shuffles the full position stream of every term through every
        chain join — the 100x-scale killer the round-1 audit flagged."""
        uniq = sorted({t for s in slots for t in s})
        rare_slot = min(slots, key=lambda s: sum(stats[t]["doc_freq"] for t in s))
        rare_total = sum(stats[t]["doc_freq"] for t in rare_slot)
        if rare_total <= 20_000:
            ids: set = set()
            for t in rare_slot:
                ids.update(self._term_docs_driver(t))
            in_list = ",".join(map(str, sorted(ids)))
            pos = self._positions(uniq).filter(
                F.expr(f"doc_id IN ({in_list})")
            ).persist()
        else:
            flat = self._term_docs(uniq)
            aggs = [
                F.max(F.when(F.col("term").isin(s), 1).otherwise(0)).alias(f"s{i}")
                for i, s in enumerate(slots)
            ]
            covered = flat.groupBy("doc_id").agg(*aggs)
            cond = F.lit(True)
            for i in range(len(slots)):
                cond = cond & (F.col(f"s{i}") == 1)
            cand = covered.filter(cond).select("doc_id")
            if rare_total <= 1_000_000:
                cand = F.broadcast(cand)
            pos = self._positions(uniq).join(cand, "doc_id", "left_semi").persist()
        return pos

    def _phrase_freq_lucene(self, query: dict) -> DataFrame | None:
        """(doc_id, freq double, dlq) under EXACT Lucene sloppy semantics
        (clt/search/mod.rs:137; the SloppyPhraseScorer pq algorithm): freq
        = sum of 1/(1+matchLength) over locally-minimal windows of adjusted
        positions with spread <= slop. Runs the shared sloppy.py kernel per
        candidate doc inside applyInPandas — candidates are already pruned
        to docs covering every slot, so the grouped stage is small."""
        from lucene_rust_spark.search.sloppy import (
            check_no_repeats,
            sloppy_freqs_for_doc,
        )

        slop = int(query.get("slop", 0) or 0)
        slots = self._phrase_slots(query)
        uniq = sorted({t for s in slots for t in s})
        stats = self.term_stats(uniq)
        slots = [[t for t in s if t in stats] for s in slots]
        if any(not s for s in slots):
            return None
        check_no_repeats(slots)
        pos = self._phrase_candidates_pos(slots, stats)

        def per_doc(pdf):
            freq = sloppy_freqs_for_doc(
                pdf["term"].to_numpy(), pdf["pos"].to_numpy(np.int64), slots, slop
            )
            if freq <= 0.0:
                return pd.DataFrame({"doc_id": [], "freq": [], "dlq": []})
            return pd.DataFrame(
                {
                    "doc_id": [int(pdf["doc_id"].iloc[0])],
                    "freq": [float(freq)],
                    "dlq": [int(pdf["dlq"].max())],
                }
            )

        out = pos.groupBy("doc_id").applyInPandas(
            per_doc, schema="doc_id long, freq double, dlq int"
        )
        self._scratch(pos)
        return out

    def _phrase_freq(self, query: dict) -> DataFrame | None:
        """(doc_id, freq, dlq) of phrase matches — Exact/SloppyPhraseMatcher
        shape (clt/search/mod.rs:42,99,137 [stub]): intersect at the DOC
        level first (cheap docs-only decode, no positions), then
        position-chain only within candidate docs. Without the doc-level
        pre-join, a common-term phrase shuffles the full position stream of
        every term through every chain join — the 100x-scale killer the
        round-1 audit flagged.

        Pinned slop semantics (FIXTURES.md; Lucene's sloppy matcher is an
        edit-distance machine — we pin the displacement-window form, exact
        for 2-term phrases and a documented superset for longer ones): an
        anchor position p0 of slot 0 matches iff every slot i has some
        position p_i of any of its terms with |p_i - (p0 + i)| <= slop;
        freq = number of matching anchors. slop=0 is exact adjacency.
        Returns None when any slot has no indexed term."""
        slop = int(query.get("slop", 0) or 0)
        slots = self._phrase_slots(query)
        uniq = sorted({t for s in slots for t in s})
        stats = self.term_stats(uniq)
        slots = [[t for t in s if t in stats] for s in slots]
        if any(not s for s in slots):
            return None
        pos = self._phrase_candidates_pos(slots, stats)
        offs = self._phrase_offsets(query, len(slots))
        chain = (
            pos.filter(F.col("term").isin(slots[0]))
            .select("doc_id", F.col("pos").alias("p0"), "dlq")
            .distinct()
        )
        for i, s in enumerate(slots[1:], start=1):
            o = offs[i]
            nxt = pos.filter(F.col("term").isin(s))
            if slop == 0:
                nxt = nxt.select("doc_id", (F.col("pos") - o).alias("p0"))
            else:
                # each position votes for every anchor within the slop
                # window — turns the |p_i - p0 - o| <= slop band join into
                # a plain equi-join (slop is small; 2*slop+1 rows each)
                nxt = nxt.select(
                    "doc_id",
                    F.explode(
                        F.sequence(F.col("pos") - o - slop, F.col("pos") - o + slop)
                    ).alias("p0"),
                )
            chain = chain.join(nxt, ["doc_id", "p0"], "left_semi")
        freq = chain.groupBy("doc_id").agg(
            F.count("*").alias("freq"), F.max("dlq").alias("dlq")
        )
        self._scratch(pos)
        return freq

    def _phrase_hits(self, query: dict) -> DataFrame:
        """PhraseQuery / MultiPhraseQuery (clt/search/mod.rs:101,93 [stub];
        Lucene semantics): tf = phrase_freq; idf = float32 sum of per-term
        idfs in ascending-term order over the distinct terms. The default
        freq is the pinned displacement-window anchor count (integer);
        slop_mode='lucene' uses the exact SloppyPhraseScorer float freq
        (sum of 1/(1+matchLength), sloppy.py)."""
        lucene_mode = (
            query.get("slop_mode") == "lucene"
            and query.get("type") != "ngram_phrase"
        )
        freq = (
            self._phrase_freq_lucene(query) if lucene_mode else self._phrase_freq(query)
        )
        if freq is None:
            return self._empty_result()
        uniq = sorted({t for s in self._phrase_slots(query) for t in s})
        stats = self.term_stats(uniq)
        uniq = [t for t in uniq if t in stats]
        idf_q = np.float32(0.0)
        for t in uniq:
            idf_q = np.float32(idf_q + np.float32(stats[t]["idf"]))
        sim = self.sim
        tf_dtype = np.float32 if lucene_mode else np.int64

        def score_kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                sc = sim.score(
                    pdf["freq"].to_numpy(tf_dtype),
                    pdf["dlq"].to_numpy(np.int64),
                    np.full(len(pdf), idf_q, dtype=np.float32),
                )
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "score": sc})

        return freq.mapInPandas(score_kernel, schema="doc_id long, score float")

    def _matching_docs(self, terms: list[str]) -> DataFrame:
        """doc_ids containing any of the terms (no scoring) — for MUST_NOT."""
        blocks = self._decode_coalesce(
            self.postings.filter(F.col("term").isin(list(terms))),
            self._est_postings(terms),
        ).select("n", "first_doc", "docs_bin")

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                parts = [
                    np.int64(fd) + np.cumsum(K.for_unpack(bytes(db), int(n))).astype(np.int64)
                    for n, fd, db in zip(pdf["n"], pdf["first_doc"], pdf["docs_bin"])
                ]
                yield pd.DataFrame({"doc_id": np.concatenate(parts)})

        return blocks.mapInPandas(decode, schema="doc_id long").distinct()

    def _doc_positions(self, terms: list[str], doc_id: int):
        """(term -> int64 positions array, dlq) for ONE doc — the
        positions analog of term_vector's zone-map block seek: one
        collected block per term that could contain the doc, positions
        delta-decoded only for the doc's slice. Returns (None, 0) when
        no term matches the doc. Feeds explain()'s phrase leaf."""
        did = int(doc_id)
        if not hasattr(self, "_blocks_pos_seek_sel"):
            self._blocks_pos_seek_sel = self.postings.select(
                "term", "n", "first_doc", "last_doc",
                "docs_bin", "tfs_bin", "dlq_bin", "pos_bin",
            )
        rows = (
            self._blocks_pos_seek_sel.filter(_term_in(terms))
            .filter(f"first_doc <= {did} AND last_doc >= {did}")
            .collect()
        )
        out: dict[str, np.ndarray] = {}
        dlq_out = 0
        for r in rows:
            n = int(r["n"])
            docs = np.int64(r["first_doc"]) + np.cumsum(
                K.for_unpack(bytes(r["docs_bin"]), n)
            ).astype(np.int64)
            i = int(np.searchsorted(docs, did))
            if i >= len(docs) or int(docs[i]) != did:
                continue
            tfs = K.for_unpack(bytes(r["tfs_bin"]), n).astype(np.int64)
            total = int(tfs.sum())
            pdeltas = K.for_unpack(bytes(r["pos_bin"]), total).astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(tfs)[:-1]))
            lo, hi = int(offs[i]), int(offs[i] + tfs[i])
            out[r["term"]] = np.cumsum(pdeltas[lo:hi])
            dlq_out = int(
                np.frombuffer(bytes(r["dlq_bin"]), dtype=np.uint8)[i]
            )
        if not out:
            return None, 0
        return out, dlq_out

    def explain(self, query: dict, doc_id: int) -> dict:
        """Explanation tree for one (query, doc) — IndexSearcher.explain
        (clt/search/explanation.rs). The tree's value equals search()'s
        float32 score for the doc (tested)."""
        from lucene_rust_spark.search.explain import explain as _explain

        return _explain(self, query, doc_id)

    def term_vector(self, doc_id: int) -> DataFrame:
        """(term string, tf int) for ONE doc — the TermVectors reader
        surface (clt/codecs/lucene90/mod.rs:25 term_vectors [stub];
        Lucene's per-doc term/freq access). This index stores no .tvd
        row-stream; the vector is DERIVED from the postings via the
        zone-map block seek: only blocks whose [first_doc, last_doc] span
        the doc are opened (one block per term that could contain it),
        and membership is decided inside the decode kernel. Lucene
        semantics: readable for tombstoned docs too, until a merge
        reclaims them."""
        did = int(doc_id)
        blocks = self.postings.filter(
            (F.col("first_doc") <= did) & (F.col("last_doc") >= did)
        ).select("term", "n", "first_doc", "docs_bin", "tfs_bin")

        def decode(batches, _d=did):
            for pdf in batches:
                terms, tfs = [], []
                for term, n, fd, db, tb in zip(
                    pdf["term"], pdf["n"], pdf["first_doc"], pdf["docs_bin"], pdf["tfs_bin"]
                ):
                    n = int(n)
                    docs = np.int64(fd) + np.cumsum(
                        K.for_unpack(bytes(db), n)
                    ).astype(np.int64)
                    i = int(np.searchsorted(docs, _d))
                    if i < n and docs[i] == _d:
                        terms.append(term)
                        tfs.append(int(K.for_unpack(bytes(tb), n)[i]))
                if terms:
                    yield pd.DataFrame({"term": terms, "tf": np.array(tfs, np.int32)})

        return blocks.mapInPandas(decode, schema="term string, tf int")

    def more_like_this(
        self, doc_id: int, k: int = 10, max_query_terms: int = 25
    ) -> list:
        """MoreLikeThis flow over the term-vector API (Lucene's
        queries/mlt, driven by TermVectors): pick the doc's top terms by
        tf * idf (ties broken by term asc), run them as a SHOULD boolean.
        The source doc itself ranks first (it matches every clause) —
        callers filter it if unwanted, as Lucene's MLT users do."""
        tv = self.term_vector(doc_id).collect()
        if not tv:
            return []
        stats = self.term_stats(sorted(r["term"] for r in tv))
        ranked = sorted(
            (
                (-(int(r["tf"]) * stats[r["term"]]["idf"]), r["term"])
                for r in tv
                if r["term"] in stats
            ),
        )[:max_query_terms]
        from lucene_rust_spark.oracle.bm25 import bool_query

        return self.search(bool_query(should=[t for _, t in ranked]), k)

    def term_postings(self, term: str) -> DataFrame:
        """(doc_id, tf, dlq) for one term — the PostingsEnum surface
        (clt/index/postings_enum.rs:4-6, flags=Freqs): decoded straight
        from the FOR blocks + stored norm bytes, no scoring. Deleted docs
        excluded (live-docs view)."""
        return self._postings_freqs([term])

    def _postings_freqs(self, terms: list[str]) -> DataFrame:
        """(doc_id, tf, dlq) rows for a term set (union of postings)."""
        blocks = self._decode_coalesce(
            self.postings.filter(F.col("term").isin(list(terms))),
            self._est_postings(terms),
        ).select("n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin")

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                doc_parts, tf_parts, dlq_parts = [], [], []
                for n, fd, db, tb, qb in zip(
                    pdf["n"], pdf["first_doc"], pdf["docs_bin"], pdf["tfs_bin"], pdf["dlq_bin"]
                ):
                    n = int(n)
                    docs = np.int64(fd) + np.cumsum(K.for_unpack(bytes(db), n)).astype(np.int64)
                    doc_parts.append(docs)
                    tf_parts.append(K.for_unpack(bytes(tb), n).astype(np.int32))
                    dlq_parts.append(np.frombuffer(bytes(qb), dtype=np.uint8).astype(np.int32))
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_parts),
                        "tf": np.concatenate(tf_parts),
                        "dlq": np.concatenate(dlq_parts),
                    }
                )

        out = blocks.mapInPandas(decode, schema="doc_id long, tf int, dlq int")
        return self._drop_deleted(out)

    def _term_docs_driver(self, term: str) -> list[int]:
        """Decode one term's doc_ids ON THE DRIVER: its packed blocks are
        ~df/128 small rows (a few MB even at df=100k), and a driver numpy
        decode avoids spinning up a whole python-worker stage just to
        produce a broadcast side — the TermStates-style driver gather."""
        rows = (
            self.postings.filter(F.col("term") == term)
            .select("n", "first_doc", "docs_bin")
            .collect()
        )
        out = []
        for r in rows:
            docs = np.int64(r["first_doc"]) + np.cumsum(
                K.for_unpack(bytes(r["docs_bin"]), int(r["n"]))
            ).astype(np.int64)
            out.append(docs)
        return np.concatenate(out).tolist() if out else []

    def _term_docs(self, terms: list[str]) -> DataFrame:
        """(doc_id, term) rows — one per posting, no scores, no norms.
        The cheap iterator used by count() and conjunction planning."""
        blocks = self._decode_coalesce(
            self.postings.filter(F.col("term").isin(list(terms))),
            self._est_postings(terms),
        ).select("term", "n", "first_doc", "docs_bin")

        def decode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                doc_parts, term_rep = [], []
                for term, n, fd, db in zip(
                    pdf["term"], pdf["n"], pdf["first_doc"], pdf["docs_bin"]
                ):
                    n = int(n)
                    docs = np.int64(fd) + np.cumsum(K.for_unpack(bytes(db), n)).astype(np.int64)
                    doc_parts.append(docs)
                    term_rep.append(np.repeat(term, n))
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(doc_parts), "term": np.concatenate(term_rep)}
                )

        return blocks.mapInPandas(decode, schema="doc_id long, term string")

    def matching_docs_df(self, query: dict) -> DataFrame:
        """The matching doc set (doc_id only) for any v1 query — NO scoring,
        NO top-k sort, deletes excluded. TotalHitCountCollector
        (clt/search/mod.rs:161) and ConstantScore wrappers are count/
        filter-shaped; ranking the world just to count it is a global-sort
        anti-pattern at scale."""
        return self._drop_deleted(self._match_docs_inner(query))

    def _match_docs_inner(self, query: dict) -> DataFrame:
        # sloppy ngram phrases rewrite to the full PhraseQuery here too —
        # without this the slop>0 ngram path would match on kept grams
        # with consecutive-slot offsets and return wrong (usually empty)
        # doc sets on the DataFrame path
        query = _normalize_ngram_phrase(query)
        qt = query.get("type")
        if qt == "match_all":
            return self.docmap.select("doc_id")
        if qt == "field_exists":
            return self._field_exists_docs()
        if qt in ("boost", "const_score"):
            return self.matching_docs_df(query["query"])
        if qt in CONSTANT_SCORE_TYPES or qt == "fuzzy":
            terms = self.expand_query_terms(query)
            if not terms:
                return self._empty_docs()
            return self._matching_docs(terms)
        if qt == "dismax":
            terms = sorted({c["term"] for c in query["queries"]})
            return self._matching_docs(terms)
        if qt == "synonym":
            return self._matching_docs(sorted(set(query["terms"])))
        if qt == "blended":
            return self._matching_docs(sorted({c["term"] for c in query["terms"]}))
        if qt == "indri_and":
            return self._matching_docs(sorted(set(query["terms"])))
        if qt in ("phrase", "multi_phrase", "ngram_phrase"):
            # ngram_phrase never takes the lucene sloppy kernel: its
            # sloppy_freqs_for_doc adjusts positions by consecutive slot
            # index, not the kept-gram offsets (same guard as _phrase_hits)
            freq = (
                self._phrase_freq_lucene(query)
                if query.get("slop_mode") == "lucene" and qt != "ngram_phrase"
                else self._phrase_freq(query)
            )
            return freq.select("doc_id") if freq is not None else self._empty_docs()

        must, should, must_not, msm = query_terms(query)
        must_set, should_set = sorted(set(must)), sorted(set(should))
        if msm > len(should_set):
            return self._empty_docs()
        terms = sorted(set(must_set) | set(should_set))
        stats = self.term_stats(terms)
        if any(t not in stats for t in must_set):
            return self._empty_docs()
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_docs()
        mn_terms = []
        if must_not:
            mn_stats = self.term_stats(sorted(set(must_not)))
            mn_terms = sorted(t for t in set(must_not) if t in mn_stats)
        if len(terms) == 1 and msm <= 1 and not mn_terms:
            return self._matching_docs(terms)
        # single pass: MUST/SHOULD counting and the MUST_NOT exclusion
        # (ReqExclScorer, clt/search/mod.rs:118) share one decode + groupBy
        flat = self._term_docs(sorted(set(terms) | set(mn_terms)))
        in_must = F.col("term").isin(must_set) if must_set else F.lit(False)
        in_should = F.col("term").isin(should_set) if should_set else F.lit(False)
        in_not = F.col("term").isin(mn_terms) if mn_terms else F.lit(False)
        grouped = flat.groupBy("doc_id").agg(
            F.sum(F.when(in_must, 1).otherwise(0)).alias("n_must"),
            F.sum(F.when(in_should, 1).otherwise(0)).alias("n_should"),
            F.sum(F.when(in_not, 1).otherwise(0)).alias("n_not"),
        )
        cond = F.lit(True)
        if must_set:
            cond = cond & (F.col("n_must") == len(must_set))
        if should_set and (msm or not must_set):
            cond = cond & (F.col("n_should") >= max(msm, 0 if must_set else 1))
        if mn_terms:
            cond = cond & (F.col("n_not") == 0)
        return grouped.filter(cond).select("doc_id")

    def _empty_docs(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long")

    @property
    def norms_df(self) -> DataFrame:
        """(doc_id, dl, dlq) — the per-doc norms store, lazily opened (the
        .nvd reader; only field-exists / diagnostics need the whole
        column, scoring reads norm bytes off the posting blocks)."""
        if self._norms_df is None:
            self._norms_df = self._read_store(self.manifest.get("norms_dir", "norms"))
        return self._norms_df

    def _field_exists_docs(self) -> DataFrame:
        """FieldExistsQuery (clt/search/mod.rs field_exists_query [stub];
        Lucene 9 semantics: matches docs with any indexed value for the
        field — for a tokenized text field, norms exist iff the doc
        produced >= 1 token). This searcher IS one field's sub-index
        (search/multifield.py routes the 'field' key), so the match set is
        the norms rows with dl > 0 — a pure columnar scan, no postings."""
        return self.norms_df.filter(F.col("dl") > 0).select("doc_id")

    # -- rewrite (MultiTermQuery expansion, clt/search/mod.rs:94) -------------

    def expand_query_terms(self, q: dict) -> list[str]:
        """MultiTermQuery expansion (clt/search/mod.rs:94) — the distributed
        analog of the reference's automaton terms-enum intersection
        (clt/index/automaton_terms_enum.rs:1-87, clt/util/automaton/
        operations.rs): a coarse prefilter is pushed into the term-sorted
        parquet scan (row-group min/max pruning plays the FST seek), and
        the exact automaton/DP membership test runs INSIDE mapInPandas over
        the dictionary partitions — only matching terms (≤ 1024 by the
        clause cap) ever reach the driver, at any dictionary size."""
        t = q["type"]
        td = self.terms
        if t == "prefix":
            cand = td.filter(F.col("term").startswith(q["prefix"]))
        elif t == "range":
            cond = F.lit(True)
            if q.get("lo") is not None:
                cond = cond & (F.col("term") >= q["lo"])
            if q.get("hi") is not None:
                cond = cond & (F.col("term") < q["hi"])
            cand = td.filter(cond)
        elif t == "fuzzy":
            k = int(q.get("max_edits", 2))
            n = len(q["term"])
            cand = td.filter(
                (F.length("term") >= n - k) & (F.length("term") <= n + k)
            )
        elif t == "in_set":
            cand = td.filter(F.col("term").isin(list(q["terms"])))
        else:  # wildcard / regexp: cheap prefix prefilter when available
            pat = q["pattern"]
            lit_prefix = ""
            # stop at ANY possibly-operator char of either grammar (Lucene
            # regexp adds " @ ~ & < > #; ^ $ are Lucene-literal but stopping
            # early is merely conservative — the exact matcher still runs)
            for ch in pat:
                if ch in '*?[](){}|.\\+^$"@~&<>#':
                    break
                lit_prefix += ch
            cand = td.filter(F.col("term").startswith(lit_prefix)) if lit_prefix else td

        qq = {k_: v for k_, v in q.items() if k_ != "boost"}
        cap = MAX_CLAUSE_COUNT + 1

        def kern(batches, _q=qq, _cap=cap):
            # per-partition cap: once any partition has emitted cap matches
            # the query is over the clause limit anyway, so never ship more
            # than cap rows per partition to the driver — a broad range
            # query fails fast instead of collecting the whole vocabulary
            left = _cap
            for pdf in batches:
                if left <= 0:
                    return
                hit = match_candidates(_q, pdf["term"].tolist())
                if hit:
                    hit = hit[:left]
                    left -= len(hit)
                    yield pd.DataFrame({"term": hit})

        expanded = cand.select("term").mapInPandas(kern, schema="term string").limit(cap)
        names = [r["term"] for r in expanded.collect()]
        if len(names) > MAX_CLAUSE_COUNT:
            raise ValueError(
                f"too many expansions: > {MAX_CLAUSE_COUNT} (TooManyClauses)"
            )
        return match_terms(q, sorted(names))

    # -- search ---------------------------------------------------------------

    def search_df(
        self,
        query: dict,
        k: int = 10,
        search_after: tuple | None = None,
        prune: bool | None = None,
        *,
        try_driver: bool = True,
    ) -> DataFrame:
        """Top-k as a DataFrame (doc_id long, score float), ordered by
        (score desc, doc_id asc). prune=None (default) auto-enables
        block-max WAND for pure-OR BM25 when the posting volume justifies
        it: the two-pass plan costs ~2 extra Spark jobs of fixed overhead,
        which only pays off once the exact path would decode+shuffle more
        than PRUNE_MIN_POSTINGS postings (measured crossover; at 100-TB
        head-term df this is always on, at test scale always off).
        Rank-identity is proven by the on/off equivalence tests either way.
        try_driver=False skips the driver-path attempt (search() passes it
        after its own attempt declined)."""
        query = _normalize_ngram_phrase(query)
        if query.get("type") == "boost":
            # BoostQuery (clt/search/mod.rs:14): multiply scores, float32.
            # search_after keys apply to the INNER (unboosted) scores —
            # pinned with the oracle — so finish before scaling.
            b = F.lit(float(query["boost"])).cast("float")
            inner = self.search_df(query["query"], k, search_after, prune)
            return inner.select("doc_id", (F.col("score") * b).cast("float").alias("score"))
        rows = self._driver_search_rows(query, k, search_after, prune) if try_driver else None
        if rows is not None:
            if not rows:
                return self._empty_result()
            from lucene_rust_spark.session import local_rows_df

            # literal LocalTableScan: collecting the driver-path result
            # costs no Spark job (r7; was parallelize -> a Python task)
            return local_rows_df(
                self.spark, rows, [("doc_id", "BIGINT"), ("score", "FLOAT")]
            )
        if query.get("type") in ("term", "bool"):
            top = self._bool_top_k(query, k, search_after, prune)
            if not isinstance(top, list):
                return top
            if not top:
                return self._empty_result()
            from lucene_rust_spark.session import local_rows_df

            return local_rows_df(
                self.spark, top, [("doc_id", "BIGINT"), ("score", "FLOAT")]
            )
        return self._finish(self.hits_df(query, k, search_after, prune), k, search_after)

    def _fused_hits(self, spec: dict) -> DataFrame:
        """hits_df's fused one-task plan of one query: ONE SQL string
        (block scan with `term IN (...)` and COALESCE(1), the spec as a
        literal column), then mapInPandas with the view's cached
        _fused_map column. Each py4j call costs ~0.5 ms and each DataFrame
        step its own JVM analysis, so the plan is one statement and the
        UDF is pickled once per view, not per query."""
        view, kernel = self._fused_udf()
        terms = sorted(set(spec["idf"]) | set(spec["not"]))
        sql = (
            "SELECT /*+ COALESCE(1) */ term, n, first_doc, docs_bin, tfs_bin, "
            f"dlq_bin, {sql_string(json.dumps(spec))} AS spec FROM {view} "
            f"WHERE {_term_in(terms)}"
        )
        # the JVM API directly: spark.sql() adds ~4 calls for its parameter
        # array, and DataFrame.mapInPandas takes a function, not a column
        jdf = self.spark._jsparkSession.sql(sql).mapInPandas(kernel._jc, False, None)
        return DataFrame(jdf, self.spark)

    def _fused_udf(self) -> tuple:
        """(temp view over the postings, UDF column of _fused_map) of
        this searcher view: built on the first fused hits_df, dropped by
        close() and refresh(). Its column names stay unresolved, so one
        column binds to every query's scan."""
        if self._fused is None:
            from pyspark.sql.functions import pandas_udf
            from pyspark.util import PythonEvalType

            kernel = pandas_udf(
                functools.partial(_fused_map, sim=self.sim),
                returnType=_HITS_SCHEMA,
                functionType=PythonEvalType.SQL_MAP_PANDAS_ITER_UDF,
            )(*[F.col(c) for c in _FUSED_COLS])
            view = f"lrs_blocks_{uuid.uuid4().hex}"
            self.postings.createTempView(view)
            self._fused = (view, kernel)
        return self._fused

    def _reader_job(self):
        """The reader task of this searcher view as a OneTaskJob: built on
        the first ranked distributed term/bool query, dropped by close()
        and refresh(). It carries the view's postings files, the
        similarity and the tombstone ids (a broadcast), so a query sends
        only its spec. Call only once _driver_tomb_ready() holds."""
        if self._reader is None:
            from lucene_rust_spark.session import OneTaskJob

            sc = self.spark.sparkContext
            tomb = None
            if self.tombstones is not None and len(self._tomb_ids):
                tomb = sc.broadcast(self._tomb_ids)
            # absolute: a worker's cwd need not be the driver's
            files = [
                os.path.abspath(f)
                for f in self._store_files(self.manifest.get("postings_dir", "postings"))
            ]
            fn = functools.partial(_reader_task, files=files, sim=self.sim, tomb=tomb)
            self._reader = (OneTaskJob(sc, fn), tomb)
        return self._reader[0]

    def _drop_fused(self) -> None:
        """Drop the view-bound fused plan pieces: hits_df's temp view and
        UDF column, the reader job and its tombstone broadcast. The
        workers' block cache keeps the files that did not change."""
        if self._fused is not None:
            self.spark.catalog.dropTempView(self._fused[0])
            self._fused = None
        if self._reader is not None:
            tomb = self._reader[1]
            self._reader = None
            if tomb is not None:
                tomb.destroy()

    def _driver_match(self, query: dict, prune) -> tuple | None:
        """Small-query driver execution core: when a term/bool query's
        total posting volume is at most DRIVER_EXEC_MAX_POSTINGS, its
        packed blocks are ~df/128 parquet rows — collect them and run the
        whole query in numpy on the driver (exactly what a single Lucene
        node does: read a handful of blocks). One Spark collect replaces
        the decode stage + shuffle + TakeOrdered, removing the ~0.3-0.5 s
        fixed job overhead that dominates small-query latency. Same
        kernels, same float32 ascending-term combine, same tie order —
        the golden suite runs through this path at test scale and stays
        byte-identical. Returns (live_doc_ids, scores_f32) or None to
        fall back to the distributed plan (big queries, forced WAND runs,
        oversized tombstone sets)."""
        if prune:  # an explicit prune=True run is asking for the WAND plan
            return None
        if query.get("type") not in ("term", "bool"):
            return None
        must, should, must_not, msm = query_terms(query)
        n_clauses = len(must) + len(should) + len(must_not)
        if n_clauses > MAX_CLAUSE_COUNT:
            raise ValueError(f"too many clauses: {n_clauses} > {MAX_CLAUSE_COUNT}")
        empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32))
        must_set, should_set = sorted(set(must)), sorted(set(should))
        if msm > len(should_set):
            return empty
        scoring = sorted(set(must_set) | set(should_set))
        mn_all = sorted(set(must_not))
        stats = self.term_stats(sorted(set(scoring) | set(mn_all)))
        if any(t not in stats for t in must_set):
            return empty
        scoring = [t for t in scoring if t in stats]
        if not scoring:
            return empty
        mn_terms = [t for t in mn_all if t in stats]
        all_terms = sorted(set(scoring) | set(mn_terms))
        total = sum(stats[t]["doc_freq"] for t in all_terms)
        if total > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        term_arrays = self._driver_collect_postings(all_terms)
        if term_arrays is None:
            return empty
        idf_map = {t: np.float32(stats[t]["idf"]) for t in stats}
        all_docs, acc = combine_bool_arrays(
            term_arrays, must_set, should_set, mn_terms, msm, idf_map, self.sim
        )
        docs_f, scores_f = self._drop_deleted_np(all_docs, acc)
        return docs_f, scores_f

    def _driver_collect_postings(
        self, terms: list[str], doc_id: int | None = None
    ) -> dict | None:
        """term -> (docs, tfs, dlqs) numpy arrays via one blocks collect
        (the driver path's read primitive); None when nothing matched.
        doc_id narrows to the blocks whose [first_doc, last_doc] zone map
        contains it (the skip-list seek — one block per term at any df).

        Full-term reads go through a bounded decoded-postings LRU (the
        LRUQueryCache / OS-page-cache analog: repeated hot terms skip the
        collect + unpack; scoring/combining/ranking still run per query).
        The cache lives on the searcher instance, so a refresh() — which
        re-runs the reader bootstrap — naturally drops it with the view."""
        if doc_id is None:
            cache = getattr(self, "_postings_lru", None)
            if cache is None:
                from collections import OrderedDict

                cache = self._postings_lru = OrderedDict()
                self._postings_lru_held = 0
            missing = [t for t in terms if t not in cache]
            if missing:
                fetched = self._collect_postings_uncached(missing, None)
                for t in missing:
                    arrs = (fetched or {}).get(t)
                    cache[t] = arrs
                    if arrs is not None:
                        # shared by every later query that hits the term:
                        # an in-place write would corrupt their scores
                        for a in arrs:
                            a.flags.writeable = False
                        self._postings_lru_held += len(arrs[0])
            out = {}
            for t in terms:  # touch before evicting so this query's terms stay
                arrs = cache[t]
                cache.move_to_end(t)
                if arrs is not None:
                    out[t] = arrs
            while self._postings_lru_held > DRIVER_POSTINGS_CACHE_MAX and len(
                cache
            ) > len(terms):
                _t, arrs = cache.popitem(last=False)
                if arrs is not None:
                    self._postings_lru_held -= len(arrs[0])
            return out or None
        return self._collect_postings_uncached(terms, doc_id)

    def _term_blocks(self, terms) -> DataFrame:
        """The packed block rows of `terms` (term, n, first_doc, last_doc,
        docs_bin, tfs_bin, dlq_bin): the driver path's collect and the
        fused plan's scan. Hot path: ONE pre-selected DataFrame + ONE
        expr-string filter. Each py4j call costs ~0.7 ms of socket
        round-trip; the naive isin(...).select(6 cols) chain spends
        ~15 ms per query building the plan before the job even starts."""
        if not hasattr(self, "_blocks_sel"):
            self._blocks_sel = self.postings.select(
                "term", "n", "first_doc", "last_doc",
                "docs_bin", "tfs_bin", "dlq_bin",
            )
        return self._blocks_sel.filter(_term_in(terms))

    def _collect_postings_uncached(
        self, terms: list[str], doc_id: int | None
    ) -> dict | None:
        from collections import defaultdict

        src = self._term_blocks(terms)
        if doc_id is not None:
            src = src.filter(
                f"first_doc <= {int(doc_id)} AND last_doc >= {int(doc_id)}"
            )
        rows = src.collect()
        if not rows:
            return None
        ns = np.fromiter((r["n"] for r in rows), dtype=np.int64, count=len(rows))
        docs_dec = K.for_unpack_batch([r["docs_bin"] for r in rows], ns)
        tfs_dec = K.for_unpack_batch([r["tfs_bin"] for r in rows], ns)
        chunks = defaultdict(list)
        for r, ddec, tdec in zip(rows, docs_dec, tfs_dec):
            docs = np.int64(r["first_doc"]) + np.cumsum(ddec).astype(np.int64)
            tfs = tdec.astype(np.int64)
            dlqs = np.frombuffer(bytes(r["dlq_bin"]), dtype=np.uint8).astype(np.int64)
            chunks[r["term"]].append((docs, tfs, dlqs))
        return {
            t: tuple(np.concatenate(x) for x in zip(*lst)) for t, lst in chunks.items()
        }

    def _driver_tomb_ready(self) -> bool:
        if self.tombstones is None:
            return True
        if self._tomb_count > 200_000:
            return False
        if not hasattr(self, "_tomb_ids"):
            self._tomb_ids = np.array(
                sorted(r["doc_id"] for r in self.tombstones.collect()), dtype=np.int64
            )
        return True

    def _drop_deleted_np(self, docs: np.ndarray, *aligned):
        if self.tombstones is None or not len(docs):
            return (docs, *aligned)
        live = ~np.isin(docs, self._tomb_ids)
        return (docs[live], *(a[live] for a in aligned))

    def _driver_synonym_rows(self, query: dict, k, search_after) -> list | None:
        """Driver path for SynonymQuery: blended stats, freq = sum tf."""
        terms = sorted(set(query["terms"]))
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return []
        if sum(stats[t]["doc_freq"] for t in terms) > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        arrs = self._driver_collect_postings(terms)
        if arrs is None:
            return []
        df_blend = max(stats[t]["doc_freq"] for t in terms)
        ttf_sum = sum(stats[t]["total_term_freq"] for t in terms)
        w = np.float32(self.sim.weight(df_blend, ttf_sum))
        all_docs = np.unique(np.concatenate([a[0] for a in arrs.values()]))
        freq = np.zeros(len(all_docs), dtype=np.int64)
        dlq = np.zeros(len(all_docs), dtype=np.int64)
        for t in terms:
            if t not in arrs:
                continue
            docs, tfs, dlqs = arrs[t]
            idx = np.searchsorted(all_docs, docs)
            freq[idx] += tfs
            np.maximum.at(dlq, idx, dlqs)
        scores = self.sim.score(freq, dlq, np.full(len(all_docs), w, np.float32))
        docs_f, scores_f = self._drop_deleted_np(all_docs, scores)
        return self._rank_rows(docs_f, scores_f, k, search_after)

    def _driver_dismax_rows(self, query: dict, k, search_after) -> list | None:
        """Driver path for DisjunctionMax: per-term scores combined with
        the pinned dismax fold (max + tie * f32-sum of others)."""
        terms = sorted({c["term"] for c in query["queries"]})
        tie = float(query.get("tie", 0.0))
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return []
        if sum(stats[t]["doc_freq"] for t in terms) > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        arrs = self._driver_collect_postings(terms)
        if arrs is None:
            return []
        per_doc: dict[int, list] = {}
        for t in sorted(arrs):  # ascending term — pinned combine order
            docs, tfs, dlqs = arrs[t]
            s = self.sim.score(
                tfs, dlqs, np.full(len(tfs), np.float32(stats[t]["idf"]), np.float32)
            )
            for d, v in zip(docs.tolist(), s):
                per_doc.setdefault(d, []).append(np.float32(v))
        docs_f = np.array(sorted(per_doc), dtype=np.int64)
        scores_f = np.array(
            [K.dismax_combine(per_doc[int(d)], tie) for d in docs_f], dtype=np.float32
        )
        docs_f, scores_f = self._drop_deleted_np(docs_f, scores_f)
        return self._rank_rows(docs_f, scores_f, k, search_after)

    @staticmethod
    def _rank_rows(docs_f, scores_f, k, search_after) -> list:
        docs_f, scores_f = _top_k(docs_f, scores_f, k, search_after)
        return [(int(d), float(np.float32(s))) for d, s in zip(docs_f, scores_f)]

    def _driver_phrase_rows(self, query: dict, k, search_after) -> list | None:
        """Driver path for phrase / multi-phrase / sloppy queries: decode
        docs AND positions of the phrase terms from the collected blocks,
        run the per-doc matcher in-process (pinned displacement window or
        the exact Lucene pq kernel for slop_mode='lucene'), score with the
        shared similarity kernel. Crossover on the POSITION volume (sum of
        the terms' total_term_freq) since the pos stream is what's decoded."""
        if not self.manifest.get("positions"):
            return None
        slop = int(query.get("slop", 0) or 0)
        slots = self._phrase_slots(query)
        slot_offs = self._phrase_offsets(query, len(slots))
        uniq = sorted({t for s in slots for t in s})
        stats = self.term_stats(uniq)
        slots = [[t for t in s if t in stats] for s in slots]
        if any(not s for s in slots):
            return []
        lucene_mode = (
            query.get("slop_mode") == "lucene"
            and query.get("type") != "ngram_phrase"
        )
        if lucene_mode:
            from lucene_rust_spark.search.sloppy import check_no_repeats

            check_no_repeats(slots)
        uniq = sorted({t for s in slots for t in s})
        if sum(stats[t]["total_term_freq"] for t in uniq) > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        if not hasattr(self, "_blocks_pos_sel"):
            self._blocks_pos_sel = self.postings.select(
                "term", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin", "pos_bin"
            )
        rows = self._blocks_pos_sel.filter(_term_in(uniq)).collect()
        # term -> {doc: positions array}; doc -> dlq
        term_pos: dict[str, dict] = {t: {} for t in uniq}
        doc_dlq: dict[int, int] = {}
        ns_arr = np.fromiter((r["n"] for r in rows), dtype=np.int64, count=len(rows))
        docs_dec = K.for_unpack_batch([r["docs_bin"] for r in rows], ns_arr)
        tfs_dec = K.for_unpack_batch([r["tfs_bin"] for r in rows], ns_arr)
        totals = np.fromiter(
            (int(t.sum()) for t in tfs_dec), dtype=np.int64, count=len(rows)
        )
        pos_dec = K.for_unpack_batch([r["pos_bin"] for r in rows], totals)
        for ri, r in enumerate(rows):
            docs = np.int64(r["first_doc"]) + np.cumsum(docs_dec[ri]).astype(np.int64)
            tfs = tfs_dec[ri].astype(np.int64)
            dlqs = np.frombuffer(bytes(r["dlq_bin"]), dtype=np.uint8)
            total = int(totals[ri])
            pdeltas = pos_dec[ri].astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(tfs)[:-1]))
            cs = np.cumsum(pdeltas)
            base = np.zeros(total, dtype=np.int64)
            base[offs[1:]] = cs[offs[1:] - 1]
            np.maximum.accumulate(base, out=base)
            pos = cs - base
            bounds = np.concatenate((offs, [total]))
            d = term_pos[r["term"]]
            for i, doc in enumerate(docs.tolist()):
                d[doc] = pos[bounds[i] : bounds[i + 1]]
                doc_dlq[doc] = int(dlqs[i])
        # candidates: docs covering every slot
        cand = None
        for s in slots:
            covered = set()
            for t in s:
                covered.update(term_pos[t])
            cand = covered if cand is None else cand & covered
        if not cand:
            return []
        idf_q = np.float32(0.0)
        for t in uniq:
            idf_q = np.float32(idf_q + np.float32(stats[t]["idf"]))
        hit_docs, freqs = [], []
        if lucene_mode:
            from lucene_rust_spark.search.sloppy import lucene_sloppy_freq

        for doc in sorted(cand):
            pos_by_slot = [
                np.unique(np.concatenate([term_pos[t].get(doc, _EMPTY_I64) for t in s]))
                for s in slots
            ]
            freq = phrase_doc_freq(pos_by_slot, slot_offs, slop, lucene_mode)
            if freq:
                hit_docs.append(doc)
                freqs.append(freq)
        if not hit_docs:
            return []
        docs_f = np.array(hit_docs, dtype=np.int64)
        tf = np.array(freqs, dtype=np.float32 if lucene_mode else np.int64)
        dlq = np.array([doc_dlq[d] for d in hit_docs], dtype=np.int64)
        scores_f = self.sim.score(tf, dlq, np.full(len(docs_f), idf_q, np.float32))
        docs_f, scores_f = self._drop_deleted_np(docs_f, scores_f)
        return self._rank_rows(docs_f, scores_f, k, search_after)

    def _driver_expansion_docs(self, query: dict) -> np.ndarray | None:
        """Live doc_ids matching a multi-term expansion query, via the
        driver path; None to fall back."""
        terms = self.expand_query_terms(query)  # raises TooManyClauses
        if not terms:
            return np.zeros(0, dtype=np.int64)
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return np.zeros(0, dtype=np.int64)
        if sum(stats[t]["doc_freq"] for t in terms) > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        arrs = self._driver_collect_postings(terms)
        if arrs is None:
            return np.zeros(0, dtype=np.int64)
        docs = np.unique(np.concatenate([a[0] for a in arrs.values()]))
        return self._drop_deleted_np(docs)[0]

    def _driver_search_rows(self, query: dict, k, search_after, prune) -> list | None:
        """[(doc_id, score_f32)] top-k via the driver path, or None."""
        query = _normalize_ngram_phrase(query)
        qt = query.get("type")
        if qt == "synonym":
            return self._driver_synonym_rows(query, k, search_after)
        if qt == "dismax":
            return self._driver_dismax_rows(query, k, search_after)
        if qt == "blended":
            return self._driver_blended_rows(query, k, search_after)
        if qt in ("phrase", "multi_phrase", "ngram_phrase"):
            return self._driver_phrase_rows(query, k, search_after)
        if qt == "fuzzy":
            # scoring rewrite first, then the bool driver path
            terms = self.expand_query_terms(query)
            if not terms:
                return []
            from lucene_rust_spark.oracle.bm25 import bool_query

            return self._driver_search_rows(
                bool_query(should=terms), k, search_after, prune
            )
        if qt in CONSTANT_SCORE_TYPES:
            docs = self._driver_expansion_docs(query)
            if docs is None:
                return None
            boost = np.float32(query.get("boost", 1.0))
            return self._rank_rows(
                docs, np.full(len(docs), boost, dtype=np.float32), k, search_after
            )
        m = self._driver_match(query, prune)
        if m is None:
            return None
        docs_f, scores_f = m
        return self._rank_rows(docs_f, scores_f, k, search_after)

    def hits_df(
        self,
        query: dict,
        k: int = 10,
        search_after: tuple | None = None,
        prune: bool | None = None,
    ) -> DataFrame:
        """Scored matches (doc_id long, score float) for any query —
        UNSORTED and before the live-docs filter; _finish() turns this
        into a top-k. k/search_after/prune only steer the WAND pruning
        decision (a pruned frame is still exact for docs that can reach
        the top k). Field-sort collectors consume this directly."""
        qt = query.get("type")
        if qt == "match_all":
            # MatchAllDocsQuery (clt/search/mod.rs:80)
            boost = float(np.float32(query.get("boost", 1.0)))
            return self.docmap.select(
                "doc_id", F.lit(boost).cast("float").alias("score")
            )
        if qt == "boost":
            b = F.lit(float(query["boost"])).cast("float")
            inner = self.hits_df(query["query"], k, search_after, bool(prune))
            return inner.select("doc_id", (F.col("score") * b).cast("float").alias("score"))
        if qt == "const_score":
            # ConstantScoreQuery (clt/search/mod.rs:24-26): matching doc set
            # only — no inner scoring, no rank-the-world inner top-k
            c = float(np.float32(query.get("score", 1.0)))
            return self.matching_docs_df(query["query"]).select(
                "doc_id", F.lit(c).cast("float").alias("score")
            )
        if qt == "field_exists":
            # FieldExistsQuery scores like ConstantScore (Lucene semantics)
            boost = float(np.float32(query.get("boost", 1.0)))
            return self._field_exists_docs().select(
                "doc_id", F.lit(boost).cast("float").alias("score")
            )
        if qt in CONSTANT_SCORE_TYPES:
            terms = self.expand_query_terms(query)
            if not terms:
                return self._empty_result()
            boost = float(np.float32(query.get("boost", 1.0)))
            return self._matching_docs(terms).select(
                "doc_id", F.lit(boost).cast("float").alias("score")
            )
        if qt == "fuzzy":
            # scoring-boolean rewrite over expanded terms
            terms = self.expand_query_terms(query)
            if not terms:
                return self._empty_result()
            from lucene_rust_spark.oracle.bm25 import bool_query

            query = bool_query(should=terms)
            qt = "bool"
        if qt == "dismax":
            return self._dismax_hits(query)
        if qt == "blended":
            return self._blended_hits(query)
        if qt == "indri_and":
            return self._indri_and_hits(query)
        if qt == "synonym":
            return self._synonym_hits(query)
        if qt in ("phrase", "multi_phrase", "ngram_phrase"):
            return self._phrase_hits(query)
        return self._bool_hits(query, k, search_after, prune)

    def _bool_plan(self, query: dict, prune) -> tuple | None:
        """(spec, stats, prune) of a term/bool query, or None when no doc
        can match. spec holds must, should, not (the MUST_NOT terms in the
        index), msm and the float32 idf per scoring term; prune=None is
        decided here from the scoring terms' posting volume."""
        auto_prune = prune is None
        prune = bool(prune)
        must, should, must_not, msm = query_terms(query)
        n_clauses = len(must) + len(should) + len(must_not)
        if n_clauses > MAX_CLAUSE_COUNT:
            raise ValueError(f"too many clauses: {n_clauses} > {MAX_CLAUSE_COUNT}")
        must_set, should_set = sorted(set(must)), sorted(set(should))
        if msm > len(should_set):
            # minimumNumberShouldMatch exceeding the SHOULD clause count can
            # never be satisfied (Lucene BooleanWeight returns no matches)
            return None
        scoring = sorted(set(must_set) | set(should_set))
        stats = self.term_stats(scoring)
        if any(t not in stats for t in must_set):
            return None
        scoring = [t for t in scoring if t in stats]
        if not scoring:
            return None
        if auto_prune:
            prune = (
                sum(stats[t]["doc_freq"] for t in scoring) >= self.PRUNE_MIN_POSTINGS
            )
        mn_terms: list[str] = []
        if must_not:
            mn_stats = self.term_stats(sorted(set(must_not)))
            mn_terms = sorted(t for t in set(must_not) if t in mn_stats)
            stats = {**stats, **mn_stats}
        spec = {
            "must": must_set,
            "should": should_set,
            "not": mn_terms,
            "msm": msm,
            "idf": {t: float(np.float32(stats[t]["idf"])) for t in scoring},
        }
        return spec, stats, prune

    @staticmethod
    def _fuses(plan: tuple) -> bool:
        """The one-task shape runs the query (fused plan or reader task):
        not pruned, and at most FUSED_MAX_POSTINGS postings to decode."""
        spec, stats, prune = plan
        est = sum(stats[t]["doc_freq"] for t in set(spec["idf"]) | set(spec["not"]))
        return not prune and est <= FUSED_MAX_POSTINGS

    def _bool_top_k(self, query: dict, k, search_after, prune) -> list | DataFrame:
        """Top-k of a term/bool query, (score desc, doc_id asc). Where the
        one-task shape runs and the view's tombstones fit the driver, the
        view's reader task ranks it — one Spark job of one task, no SQL
        plan — and this returns its [(doc_id, score)] rows. Otherwise it
        returns the ranked DataFrame: _finish over _bool_hits."""
        plan = self._bool_plan(query, prune)
        if plan is None:
            return []
        if self._fuses(plan) and self._driver_tomb_ready():
            after = None
            if search_after is not None:
                after = [float(np.float32(search_after[0])), int(search_after[1])]
            docs, scores = self._reader_job()({**plan[0], "k": int(k), "after": after})
            return list(zip(docs, scores))
        hits = self._bool_hits(query, k, search_after, prune, plan)
        return self._finish(hits, k, search_after)

    def _bool_hits(self, query: dict, k, search_after, prune, plan=None) -> DataFrame:
        """hits_df of a term/bool query: every match, unsorted and before
        the live-docs filter. plan: _bool_plan's result, when the caller
        already has it."""
        plan = plan or self._bool_plan(query, prune)
        if plan is None:
            return self._empty_result()
        spec, stats, prune = plan
        if self._fuses(plan):
            # fused one-task plan (r4): at this volume the decode coalesces
            # to one task anyway, so run decode AND the pinned combine in a
            # single mapInPandas — no groupBy exchange, no second stage
            # (the per-stage fixed cost dominated small distributed bools).
            # The combine is the SAME function the driver path runs.
            return self._fused_hits({**spec, "k": None, "after": None})
        must_set, should_set = spec["must"], spec["should"]
        mn_terms, msm = spec["not"], spec["msm"]
        scoring = sorted(spec["idf"])

        if (
            prune
            and isinstance(self.sim, BM25)
            and not mn_terms
            and msm == 0
            and not must_set
            and search_after is None
        ):
            from lucene_rust_spark.search.wand import wand_candidates

            blocks, cand = wand_candidates(self, scoring, stats, k)
            scored = self._scored_postings(scoring, stats, blocks=blocks)
            if cand is not None:
                scored = scored.join(
                    F.broadcast(cand), scored.doc_id == cand.cand, "left_semi"
                )
        else:
            # one decode over scoring AND excluded terms: the MUST_NOT check
            # (ReqExclScorer, clt/search/mod.rs:118) rides the same groupBy
            # instead of a separate anti-join exchange
            scored = self._scored_postings(sorted(set(scoring) | set(mn_terms)), stats)
            if must_set and (len(scoring) > 1 or mn_terms):
                # conjunction planning (leapfrog order, clt/search/mod.rs:21):
                # every hit must contain the rarest MUST term, so semi-join
                # its doc set onto the decoded rows map-side (broadcast hash)
                # — the groupBy shuffle then carries <= |rarest| docs per
                # term instead of the full disjunction of all clause terms.
                # doc_ids are unique within one term's postings: no distinct.
                rarest = min(must_set, key=lambda t: stats[t]["doc_freq"])
                rare_df = stats[rarest]["doc_freq"]
                if rare_df <= 20_000:
                    # small enough to decode on the driver: a JVM InSet
                    # filter rides the decode stage — no extra python
                    # stage, no broadcast exchange. One SQL string, not
                    # isin(list): py4j marshals python literals one at a
                    # time (~0.7 ms each — 0.7 s of plan-build for 1k ids)
                    ids = self._term_docs_driver(rarest)
                    scored = scored.filter(
                        F.expr(f"doc_id IN ({','.join(map(str, ids))})")
                    )
                elif rare_df <= 1_000_000:
                    rare = self._term_docs([rarest]).select("doc_id")
                    scored = scored.join(F.broadcast(rare), "doc_id", "left_semi")

        if len(scoring) == 1 and not mn_terms:
            hits = scored.select("doc_id", "score")
        else:
            in_must = F.col("term").isin(must_set) if must_set else F.lit(False)
            in_should = F.col("term").isin(should_set) if should_set else F.lit(False)
            in_not = F.col("term").isin(mn_terms) if mn_terms else F.lit(False)
            grouped = scored.groupBy("doc_id").agg(
                F.collect_list(
                    F.when(~in_not, F.struct("term", "score"))
                ).alias("parts"),
                F.sum(F.when(in_must, 1).otherwise(0)).alias("n_must"),
                F.sum(F.when(in_should, 1).otherwise(0)).alias("n_should"),
                F.sum(F.when(in_not, 1).otherwise(0)).alias("n_not"),
            )
            cond = F.lit(True)
            if must_set:
                cond = cond & (F.col("n_must") == len(must_set))
            if should_set and (msm or not must_set):
                cond = cond & (F.col("n_should") >= max(msm, 0 if must_set else 1))
            if mn_terms:
                cond = cond & (F.col("n_not") == 0)
            hits = grouped.filter(cond).select(
                "doc_id", _f32_fold(F.col("parts")).alias("score")
            )
        return hits

    def search(self, query: dict, k: int = 10, search_after: tuple | None = None, prune: bool | None = None):
        """Top-k as [(doc_id, score_f32)] — TopDocs analog. Small queries
        short-circuit through the driver path without materializing a
        DataFrame at all (no local-collect job)."""
        tried = query.get("type") in (
            "term", "bool", "synonym", "dismax", "blended", "phrase",
            "multi_phrase", "ngram_phrase", "fuzzy"
        ) or query.get("type") in CONSTANT_SCORE_TYPES
        if tried:
            rows = self._driver_search_rows(query, k, search_after, prune)
            if rows is not None:
                return rows
        if query.get("type") in ("term", "bool"):
            top = self._bool_top_k(query, k, search_after, prune)
            if isinstance(top, list):
                return top  # the reader task's rows
            rows = top.collect()
        else:
            # a declined driver attempt would decline again: don't repeat
            # its term-stats lookup and checks inside search_df
            rows = self.search_df(query, k, search_after, prune, try_driver=not tried).collect()
        return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in rows]

    def search_timed(
        self,
        query: dict,
        k: int = 10,
        *,
        timeout_ms: float,
        search_after: tuple | None = None,
        prune: bool | None = None,
        greedy: bool = False,
    ):
        """TimeLimitingCollector analog (clt/search/
        time_limiting_collector.rs, time_limiting_bulk_scorer.rs): run
        the search under a wall-clock budget; every Spark job the query
        launches runs in a one-shot job group that is CANCELLED
        cluster-wide on overrun, and TimeExceededException raises to the
        caller. greedy=True returns a completed-but-late result instead
        of discarding it (Lucene's greedy collector)."""
        from lucene_rust_spark.search.timelimit import run_with_time_budget

        return run_with_time_budget(
            self.spark,
            lambda: self.search(query, k, search_after, prune),
            timeout_ms,
            description=f"search {query.get('type')}",
            greedy=greedy,
        )

    def search_by_field(
        self, query: dict, sort: list[dict], k: int = 10, hits: DataFrame | None = None
    ) -> DataFrame:
        """TopFieldCollector (clt/search/mod.rs:157; comparators
        clt/search/field_comparator.rs; SortField semantics
        core/src/search/sort.rs:130-205): top-k of the matching docs
        ordered by stored docmap fields instead of relevance.

        Each sort spec: {"field": name | "_score" | "_doc",
        "reverse": bool (default False), "missing": "first" | "last" |
        number (default "last")}. Missing values substitute in NATURAL
        (ascending) order — "last" treats null as +inf — and reverse flips
        the whole comparator, so reverse + "last" places missing first
        (Lucene SortField.setMissingValue semantics). doc_id is the final
        tiebreak, matching the collector's stable doc-order tie rule.

        Scale shape: scores are only computed when a spec asks for _score
        (SortField::needs_score); otherwise the plan is the unscored match
        set joined to the docmap on doc_id (both sides doc_id-ranged) and
        Spark's TakeOrderedAndProject — per-partition heaps + driver merge,
        never a global sort of all matches. WAND pruning is unsound for
        field order (a low-scoring doc can win the field sort), so the
        exact path is forced."""
        specs = [dict(s) for s in sort]
        if not specs:
            raise ValueError("sort must name at least one field")
        need_score = any(s["field"] == "_score" for s in specs)
        if hits is not None:
            # replay path (CachingCollector / MultiCollector): a scored
            # frame from the same query — reuse instead of re-scoring
            hits = self._drop_deleted(hits)
        elif need_score:
            hits = self._drop_deleted(self.hits_df(query, k, prune=False))
        else:
            hits = self.matching_docs_df(query)
        field_cols = [
            s["field"] for s in specs if s["field"] not in ("_score", "_doc")
        ]
        seen: set = set()
        field_cols = [f for f in field_cols if not (f in seen or seen.add(f))]
        bad = [f for f in field_cols if f not in self.docmap.columns]
        if bad:
            raise ValueError(f"unknown sort fields (not in docmap): {bad}")
        base = (
            hits.join(self.docmap.select("doc_id", *field_cols), "doc_id", "left")
            if field_cols
            else hits
        )
        order = []
        for s in specs:
            f = s["field"]
            col = F.col("doc_id" if f == "_doc" else "score" if f == "_score" else f)
            rev = bool(s.get("reverse", f == "_score"))
            missing = s.get("missing", "last")
            if isinstance(missing, (int, float)) and not isinstance(missing, bool):
                col = F.coalesce(col, F.lit(missing))
                order.append(col.desc() if rev else col.asc())
            elif missing == "last":  # null = +inf in natural order
                order.append(col.desc_nulls_first() if rev else col.asc_nulls_last())
            elif missing == "first":  # null = -inf in natural order
                order.append(col.desc_nulls_last() if rev else col.asc_nulls_first())
            else:
                raise ValueError(f"missing must be 'first', 'last', or a number: {missing!r}")
        order.append(F.asc("doc_id"))
        out_cols = ["doc_id"] + (["score"] if need_score else []) + field_cols
        return base.orderBy(*order).limit(k).select(*out_cols)

    def facet_counts(self, query: dict, field: str, top_n: int = 10) -> DataFrame:
        """Facet counting over stored docmap fields — the
        SortedSetDocValuesFacetCounts analog (doc values declared at
        clt/codecs/lucene90/mod.rs:7-9 [stub]; the docmap IS the columnar
        per-doc store here): value counts of `field` over the MATCHING doc
        set, ordered (count desc, value asc), top_n rows. Unscored — the
        plan is match-set semi-join + hash aggregate, no sort of the
        world, no scoring."""
        if field not in self.docmap.columns:
            raise ValueError(f"unknown facet field (not in docmap): {field}")
        if query.get("type") in ("term", "bool"):
            m = self._driver_match(query, prune=None)
            if m is not None and len(m[0]) <= 20_000:
                # small match set: one pushed-IN docmap collect + a driver
                # Counter — the docmap is doc_id-range-sorted parquet, so
                # the IN filter prunes row groups (zone-map seek)
                from collections import Counter

                ids = m[0]
                if not len(ids):
                    return self.spark.createDataFrame(
                        [], f"{field} string, count long"
                    )
                rows = (
                    self.docmap.filter(
                        F.expr(f"doc_id IN ({','.join(map(str, ids.tolist()))})")
                    )
                    .select(field)
                    .collect()
                )
                c = Counter(r[field] for r in rows)
                # Spark ordering: count desc, field asc with nulls FIRST
                top = sorted(
                    c.items(),
                    key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""),
                )[:top_n]
                return self.spark.createDataFrame(
                    self.spark.sparkContext.parallelize(
                        [(v, int(n)) for v, n in top], 1
                    ),
                    f"{field} string, count long",
                )
        matches = self.matching_docs_df(query)
        return (
            self.docmap.select("doc_id", field)
            .join(matches, "doc_id", "left_semi")
            .groupBy(field)
            .agg(F.count("*").cast("long").alias("count"))
            .orderBy(F.desc("count"), F.asc(field))
            .limit(top_n)
        )

    def rescore(
        self,
        first_pass: DataFrame,
        rescore_query: dict,
        weight: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """QueryRescorer (Lucene's query rescoring API; Rescorer surface
        clt/search/mod.rs [stub]): combined = first_pass_score + weight *
        rescore_score for docs matching the rescore query, else the
        first-pass score alone — applied only to the first-pass window
        (`first_pass` = search_df(..., k=N)), then re-sorted to top-k.
        float32 combine, pinned order."""
        w = F.lit(float(np.float32(weight))).cast("float")
        rs = self.hits_df(rescore_query, k, prune=False).select(
            "doc_id", F.col("score").alias("rs")
        )
        combined = (
            first_pass.join(rs, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.col("score")
                    + (w * F.coalesce(F.col("rs"), F.lit(0.0).cast("float"))).cast("float")
                )
                .cast("float")
                .alias("score"),
            )
        )
        return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def rescore_by_sort(
        self, first_pass: DataFrame, sort: list[dict], k: int = 10
    ) -> DataFrame:
        """SortRescorer (clt/search/sort_rescorer.rs [stub]): re-order the
        first-pass window by stored docmap fields instead of combining
        scores — the cheap second pass for "top 100 by relevance, then
        newest first". Sort specs as in search_by_field (include
        {"field": "_score"} in the spec list to keep relevance in the
        output); delegates to its replay path, so the comparator,
        missing-value, and tie rules are identical by construction."""
        return self.search_by_field({}, sort, k=k, hits=first_pass)

    def count(self, query: dict) -> int:
        """TotalHitCountCollector (clt/search/mod.rs:161): exact hit count
        over the unscored matching doc set — no scoring, no global sort.
        Small term/bool queries count on the driver (same crossover as
        search: one blocks collect instead of decode + aggregate jobs)."""
        query = _normalize_ngram_phrase(query)
        qt = query.get("type")
        if qt in ("term", "bool"):
            m = self._driver_match(query, prune=None)
            if m is not None:
                return int(len(m[0]))
        elif qt in ("phrase", "multi_phrase", "ngram_phrase"):
            rows = self._driver_phrase_rows(query, self.doc_count, None)
            if rows is not None:
                return len(rows)
        elif qt == "synonym":
            rows = self._driver_synonym_rows(query, self.doc_count, None)
            if rows is not None:
                return len(rows)
        elif qt == "blended":
            rows = self._driver_blended_rows(query, self.doc_count, None)
            if rows is not None:
                return len(rows)
        elif qt in CONSTANT_SCORE_TYPES or qt == "fuzzy":
            docs = self._driver_expansion_docs(query)
            if docs is not None:
                return int(len(docs))
        return self.matching_docs_df(query).count()

    def count_with_threshold(self, query: dict, threshold: int = 1000) -> tuple[int, str]:
        """Early-terminating count (clt/search/index_searcher.rs:3-5
        TOTAL_HITS_THRESHOLD = 1000; TotalHits.Relation, clt/search/mod.rs:163):
        stop once `threshold + 1` matches are seen and report a lower bound.
        The limit() short-circuits the scan (Spark CollectLimit stops early),
        which is the point at 100-TB corpora where head terms match billions."""
        if query.get("type") in ("term", "bool"):
            m = self._driver_match(query, prune=None)
            if m is not None:
                n = len(m[0])
                if n > threshold:
                    return threshold, "GREATER_THAN_OR_EQUAL_TO"
                return n, "EQUAL_TO"
        n = self.matching_docs_df(query).limit(threshold + 1).count()
        if n > threshold:
            return threshold, "GREATER_THAN_OR_EQUAL_TO"
        return n, "EQUAL_TO"

    def fetch(self, hits_df: DataFrame) -> DataFrame:
        """Join top-k back to the doc map — the stored-fields fetch."""
        return hits_df.join(self.docmap, "doc_id", "inner")

    def _drop_deleted(self, df: DataFrame) -> DataFrame:
        """Live-docs filter (anti-join with tombstones) — Lucene semantics:
        deleted docs vanish from results/counts but collection stats (idf,
        avgdl) keep pre-delete values until a merge reclaims them."""
        if self.tombstones is None:
            return df
        t = self.tombstones
        if self._tomb_count <= 2_000_000:
            t = F.broadcast(t)
        return df.join(t, "doc_id", "left_anti")

    def _finish(self, hits: DataFrame, k: int, search_after: tuple | None) -> DataFrame:
        hits = self._drop_deleted(hits)
        if search_after is not None:
            s_a, d_a = float(np.float32(search_after[0])), int(search_after[1])
            hits = hits.filter(
                (F.col("score") < F.lit(s_a))
                | ((F.col("score") == F.lit(s_a)) & (F.col("doc_id") > F.lit(d_a)))
            )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _synonym_hits(self, query: dict) -> DataFrame:
        """SynonymQuery (clt/search/mod.rs:145 [stub]; Lucene 9 semantics):
        all terms scored as ONE pseudo-term with BLENDED statistics —
        doc_freq = max over the terms (not sum: synonyms co-occur), freq =
        sum of the doc's freqs across terms. Dismax is not a substitute:
        it scores each synonym with its own (often tiny) df."""
        terms = sorted(set(query["terms"]))
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_result()
        # blended stats: df = max (synonyms co-occur), ttf = sum (Lucene
        # blends totalTermFreq additively for the LM/IB/DFI families whose
        # per-term statistic is weight(df, ttf), not idf(df))
        df_blend = max(stats[t]["doc_freq"] for t in terms)
        ttf_sum = sum(stats[t]["total_term_freq"] for t in terms)
        idf = np.float32(self.sim.weight(df_blend, ttf_sum))
        freqs = (
            self._postings_freqs(terms)
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("freq"), F.max("dlq").alias("dlq"))
        )
        sim = self.sim

        def score_kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                sc = sim.score(
                    pdf["freq"].to_numpy(np.int64),
                    pdf["dlq"].to_numpy(np.int64),
                    np.full(len(pdf), idf, dtype=np.float32),
                )
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "score": sc})

        return freqs.mapInPandas(score_kernel, schema="doc_id long, score float")

    def _indri_and_hits(self, query: dict) -> DataFrame:
        """IndriAndQuery (clt/search/mod.rs:65-70 [stub]): the smoothed AND
        — docs matching >= 1 clause, every clause contributing (true score
        or the zero-frequency smoothed score). Small volumes run the fused
        one-task kernel (the same combine_indri_arrays as the oracle);
        larger ones a distributed plan whose per-term zero scores come
        from 256-entry lookup arrays built with the SAME float32 kernel."""
        from lucene_rust_spark.functions.similarities import IndriDirichlet

        if not isinstance(self.sim, IndriDirichlet):
            raise ValueError(
                "indri_and requires IndexSearcher(similarity='indri')"
            )
        terms = sorted(set(query["terms"]))
        st = self.term_stats(terms)
        terms = [t for t in terms if t in st]
        if not terms:
            return self._empty_result()
        cp_map = {t: float(np.float32(st[t]["idf"])) for t in terms}
        # term_stats stores weight() in the 'idf' slot for LM families
        sim = self.sim
        est = sum(st[t]["doc_freq"] for t in terms)
        if est <= FUSED_MAX_POSTINGS:
            blocks = (
                self.postings.filter(F.col("term").isin(terms))
                .select("term", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin")
                .coalesce(1)
            )

            def kern(batches, _terms=terms, _cp=cp_map, _sim=sim):
                from collections import defaultdict

                chunks = defaultdict(list)
                for pdf in batches:
                    for term, n, fd, db, tb, qb in zip(
                        pdf["term"], pdf["n"], pdf["first_doc"],
                        pdf["docs_bin"], pdf["tfs_bin"], pdf["dlq_bin"],
                    ):
                        n = int(n)
                        docs = np.int64(fd) + np.cumsum(
                            K.for_unpack(bytes(db), n)
                        ).astype(np.int64)
                        chunks[term].append(
                            (
                                docs,
                                K.for_unpack(bytes(tb), n).astype(np.int64),
                                np.frombuffer(bytes(qb), dtype=np.uint8).astype(np.int64),
                            )
                        )
                if not chunks:
                    return
                arrs = {
                    t: tuple(np.concatenate(x) for x in zip(*lst))
                    for t, lst in chunks.items()
                }
                docs, scores = combine_indri_arrays(arrs, _terms, _cp, _sim)
                yield pd.DataFrame({"doc_id": docs, "score": scores})

            return blocks.mapInPandas(kern, schema="doc_id long, score float")

        # distributed: matched rows carry (term, score, dlq); missing terms
        # contribute via per-term zero-score lookup arrays (same f32 kernel)
        scored = self._scored_postings(terms, st)
        grouped = scored.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "score"))
            ).alias("pmap"),
            F.max("dlq").alias("dlq"),
        )
        acc = F.lit(0.0)
        for t in sorted(terms):
            zero_arr = F.array(
                *[
                    F.lit(float(x))
                    for x in sim.zero_score(np.arange(256), np.float32(cp_map[t]))
                ]
            )
            contrib = F.coalesce(
                F.col("pmap")[t], F.element_at(zero_arr, F.col("dlq") + 1)
            )
            acc = (acc + contrib).cast("float")
        return grouped.select("doc_id", acc.alias("score"))

    def _blended_stats(self, query: dict):
        """Shared blend for BlendedTermQuery (clt/search/mod.rs:3 [stub];
        Lucene 9 semantics): df = max, ttf = max over the present terms
        (blend() equalizes term contexts upward), one shared weight, plus
        the per-term boosts. Returns (clauses, stats-with-blended-idf,
        tie) or None when nothing matched."""
        clauses = sorted(
            (c["term"], float(np.float32(c.get("boost", 1.0)))) for c in query["terms"]
        )
        if len({t for t, _ in clauses}) != len(clauses):
            raise ValueError("blended terms must be distinct")
        tie = float(query.get("tie", 0.01))
        st = self.term_stats([t for t, _ in clauses])
        present = [(t, b) for t, b in clauses if t in st]
        if not present:
            return None
        df_blend = max(st[t]["doc_freq"] for t, _ in present)
        ttf_blend = max(st[t]["total_term_freq"] for t, _ in present)
        w = float(np.float32(self.sim.weight(df_blend, ttf_blend)))
        stats = {t: {**st[t], "idf": w} for t, _ in present}
        return present, stats, tie

    def _blended_hits(self, query: dict) -> DataFrame:
        """BlendedTermQuery hits: per-term score = boost * bm25(tf, dlq,
        blended weight) in float32 (f32xf32 multiply is exact through the
        double intermediate), combined with the pinned dismax fold."""
        blend = self._blended_stats(query)
        if blend is None:
            return self._empty_result()
        present, stats, tie = blend
        boost_map = F.create_map(
            *[x for t, b in present for x in (F.lit(t), F.lit(b))]
        )
        scored = self._scored_postings([t for t, _ in present], stats).select(
            "doc_id",
            "term",
            (F.col("score") * boost_map[F.col("term")]).cast("float").alias("score"),
        )
        return (
            scored.groupBy("doc_id")
            .agg(F.collect_list(F.struct("term", "score")).alias("parts"))
            .select("doc_id", _dismax_fold(F.col("parts"), tie).alias("score"))
        )

    def _driver_blended_rows(self, query: dict, k, search_after) -> list | None:
        """Driver path for BlendedTermQuery (same crossover as dismax)."""
        blend = self._blended_stats(query)
        if blend is None:
            return []
        present, stats, tie = blend
        if sum(stats[t]["doc_freq"] for t, _ in present) > self.DRIVER_EXEC_MAX_POSTINGS:
            return None
        if not self._driver_tomb_ready():
            return None
        arrs = self._driver_collect_postings([t for t, _ in present])
        if arrs is None:
            return []
        per_doc: dict[int, list] = {}
        for t, b in present:  # ascending term — pinned combine order
            if t not in arrs:
                continue
            docs, tfs, dlqs = arrs[t]
            s = self.sim.score(
                tfs, dlqs, np.full(len(tfs), np.float32(stats[t]["idf"]), np.float32)
            )
            bf = np.float32(b)
            for d, v in zip(docs.tolist(), s):
                per_doc.setdefault(d, []).append(np.float32(bf * np.float32(v)))
        docs_f = np.array(sorted(per_doc), dtype=np.int64)
        scores_f = np.array(
            [K.dismax_combine(per_doc[int(d)], tie) for d in docs_f], dtype=np.float32
        )
        docs_f, scores_f = self._drop_deleted_np(docs_f, scores_f)
        return self._rank_rows(docs_f, scores_f, k, search_after)

    def _dismax_hits(self, query: dict) -> DataFrame:
        """DisjunctionMaxQuery (clt/search/mod.rs:32-33): max over per-term
        scores + tie * sum(others), float32, pinned order (kernels.dismax)."""
        terms = sorted({c["term"] for c in query["queries"]})
        tie = float(query.get("tie", 0.0))
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_result()
        scored = self._scored_postings(terms, stats)
        return (
            scored.groupBy("doc_id")
            .agg(F.collect_list(F.struct("term", "score")).alias("parts"))
            .select("doc_id", _dismax_fold(F.col("parts"), tie).alias("score"))
        )

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long, score float")
