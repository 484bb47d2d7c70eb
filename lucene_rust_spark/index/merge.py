"""Hierarchical segment merge — the SegmentMerger / MultiTermsEnum /
TieredMergePolicy analog (clt/index/mod.rs:140, :106 multi_terms_enum,
:92 doc_id_merger, :181 tiered_merge_policy — all [stub]; merge fan-in 10
observed in the reference golden index, core/tests/rfc_database.rs:96).

Because doc_id = (seg << 40) | local_row, per-term postings from different
segments are already in global docID order when segments are ordered — the
k-way sort-merge on term keys is exactly Spark's range shuffle, and docID
remapping (Lucene's docBase shifting) is unnecessary. Merging seg -> seg'
therefore reduces to: re-key blocks to the merged segment id, re-sort, and
re-pack runs so interior blocks are full 128-entry FOR blocks again
(compaction of tail blocks across old segment boundaries).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.index.build import (
    _BLOCK_SCHEMA,
    _pack_runs,
    block_term_stats,
    write_terms_dict,
)
from lucene_rust_spark.index.manifest import commit_manifest, read_manifest

# A reclaiming merge collects the tombstone ids to the driver (the
# SegmentMerger liveDocs view shipped into the repack kernel); beyond this
# bound the merge keeps the tombstones as filters instead (Lucene merges
# per-segment and never needs the global set at once — at 10^12-doc scale
# reclaim would run per segment group with per-group tombstone slices).
RECLAIM_MAX_TOMBSTONES = 20_000_000


def _repack_partition(batches, positions: bool = False, pfor: bool = False, offsets: bool = False, payloads: bool = False, tomb: np.ndarray | None = None):
    """Input: block rows sorted by (term, mseg, seg, block_no) — every
    (term, mseg) run is a globally docID-sorted sequence of packed blocks
    from fan_in source segments. Decode, concatenate, re-pack. Streaming
    with a carried tail run, like the build packer. With positions=True
    the per-posting position streams (pos_bin, within-posting deltas) are
    decoded to absolute positions and re-delta'd across the new block
    boundaries by _pack_runs — a merged positional index answers phrase
    queries identically to the unmerged one."""
    pend = None  # (terms, msegs, docs, tfs, dlqs[, pos, ostart, olen]) tail run

    def decode_rows(pdf: pd.DataFrame):
        terms, msegs, docs, tfs, dlqs, pos = [], [], [], [], [], []
        ostarts, olens, pays = [], [], []
        ns_arr = pdf["n"].to_numpy(np.int64)
        docs_dec = K.for_unpack_batch(list(pdf["docs_bin"]), ns_arr)
        tfs_dec = K.for_unpack_batch(list(pdf["tfs_bin"]), ns_arr)
        if positions:
            totals = np.fromiter(
                (int(x.sum()) for x in tfs_dec), dtype=np.int64, count=len(ns_arr)
            )
            pos_dec = K.for_unpack_batch(list(pdf["pos_bin"]), totals)
            if offsets:
                offs_dec = K.for_unpack_batch(list(pdf["offs_bin"]), totals)
                olen_dec = K.for_unpack_batch(list(pdf["olen_bin"]), totals)
        for ri, row in enumerate(zip(
            pdf["term"], pdf["mseg"], pdf["n"], pdf["first_doc"],
            pdf["docs_bin"], pdf["tfs_bin"], pdf["dlq_bin"],
            pdf["pos_bin"] if positions else pdf["term"],
            pdf["offs_bin"] if offsets else pdf["term"],
            pdf["olen_bin"] if offsets else pdf["term"],
            pdf["pay_bin"] if payloads else pdf["term"],
        )):
            term, mseg, n, first_doc, db, tb, qb, pb, ob, lb, yb = row
            n = int(n)
            d = np.int64(first_doc) + np.cumsum(docs_dec[ri]).astype(np.int64)
            t = tfs_dec[ri].astype(np.int64)
            q = np.frombuffer(bytes(qb), dtype=np.uint8).astype(np.int64)
            keep = None
            if tomb is not None and len(tomb):
                # merge-time reclaim (r4): tombstoned postings vanish from
                # the merged generation (Lucene SegmentMerger liveDocs)
                j = np.searchsorted(tomb, d)
                j_c = np.minimum(j, len(tomb) - 1)
                hit = (j < len(tomb)) & (tomb[j_c] == d)
                if hit.any():
                    keep = ~hit
            if positions:
                total = int(totals[ri])
                pdeltas = pos_dec[ri].astype(np.int64)
                # segmented cumsum → absolute positions (searcher._positions)
                offs = np.concatenate(([0], np.cumsum(t)[:-1]))
                cs = np.cumsum(pdeltas)
                base = np.zeros(total, dtype=np.int64)
                base[offs[1:]] = cs[offs[1:] - 1]
                np.maximum.accumulate(base, out=base)
                p_abs = cs - base
                o_abs = l_arr = y_arr = None
                if offsets:
                    odeltas = offs_dec[ri].astype(np.int64)
                    ocs = np.cumsum(odeltas)
                    obase = np.zeros(total, dtype=np.int64)
                    obase[offs[1:]] = ocs[offs[1:] - 1]
                    np.maximum.accumulate(obase, out=obase)
                    o_abs = ocs - obase
                    l_arr = olen_dec[ri].astype(np.int64)
                if payloads:
                    y_arr = np.frombuffer(bytes(yb), dtype=np.uint8).astype(np.int64)
                if keep is not None:
                    keep_occ = np.repeat(keep, t)
                    p_abs = p_abs[keep_occ]
                    if o_abs is not None:
                        o_abs, l_arr = o_abs[keep_occ], l_arr[keep_occ]
                    if y_arr is not None:
                        y_arr = y_arr[keep_occ]
                pos.append(p_abs)
                if offsets:
                    ostarts.append(o_abs)
                    olens.append(l_arr)
                if payloads:
                    pays.append(y_arr)
            if keep is not None:
                d, t, q = d[keep], t[keep], q[keep]
            if len(d) == 0:
                continue
            docs.append(d)
            tfs.append(t)
            dlqs.append(q)
            terms.append(np.repeat(term, len(d)))
            msegs.append(np.full(len(d), int(mseg), dtype=np.int64))
        if not docs:
            return None
        out = [
            np.concatenate(terms),
            np.concatenate(msegs),
            np.concatenate(docs),
            np.concatenate(tfs),
            np.concatenate(dlqs),
        ]
        if positions:
            out.append(np.concatenate(pos) if pos else np.zeros(0, dtype=np.int64))
        if offsets:
            out.append(np.concatenate(ostarts) if ostarts else np.zeros(0, dtype=np.int64))
            out.append(np.concatenate(olens) if olens else np.zeros(0, dtype=np.int64))
        if payloads:
            out.append(np.concatenate(pays) if pays else np.zeros(0, dtype=np.int64))
        return tuple(out)

    def split_tail(cols):
        terms, msegs = cols[0], cols[1]
        n = len(terms)
        same = (terms == terms[n - 1]) & (msegs == msegs[n - 1])
        return 0 if same.all() else n - int(same[::-1].argmin())

    def pack(cols):
        if positions:
            tfs = cols[3]
            po = np.concatenate(([0], np.cumsum(tfs)))
            kw = {}
            i = 6
            if offsets:
                kw["off_start_flat"], kw["off_len_flat"] = cols[6], cols[7]
                i = 8
            if payloads:
                kw["pay_flat"] = cols[i]
            return _pack_runs(*cols[:5], pos_flat=cols[5], pos_offsets=po, pfor=pfor, **kw)
        return _pack_runs(*cols, pfor=pfor)

    for pdf in batches:
        cols = decode_rows(pdf)
        if cols is None:
            continue
        if pend is not None:
            cols = tuple(np.concatenate((a, b)) for a, b in zip(pend, cols))
            pend = None
        ts = split_tail(cols[:5])
        pos_cut = int(cols[3][:ts].sum()) if positions else None
        pend = tuple(
            c[pos_cut:] if positions and i >= 5 else c[ts:] for i, c in enumerate(cols)
        )
        head = tuple(
            c[:pos_cut] if positions and i >= 5 else c[:ts] for i, c in enumerate(cols)
        )
        out = pack(head)
        if out is not None and len(out):
            yield out
    if pend is not None and len(pend[0]):
        out = pack(pend)
        if out is not None and len(out):
            yield out


def plan_tiered(segments: list[dict], fan_in: int) -> dict[int, int]:
    """Size-budgeted merge selection — the TieredMergePolicy analog
    (clt/index/mod.rs:181 [stub]; Lucene's published behavior: merge
    segments of SIMILAR size, never rewrite a giant to absorb dust).
    Returns seg -> mseg. Segments are sorted by size; a group greedily
    takes up to fan_in size-adjacent segments, where adjacency means the
    next segment is at most fan_in x the group's smallest — a lone giant
    ends up in a singleton group and its blocks pass through unmerged
    (bounded write amplification: each doc is rewritten O(log_fan_in n)
    times over the index's life, as in Lucene's tiered geometry).

    Any grouping is correctness-neutral here: doc_id embeds seg in its
    high bits, so ordering a group's blocks by (seg, block_no) is already
    global docID order — no docBase remapping, no adjacency requirement."""
    sized = sorted(segments, key=lambda s: (s["max_doc"], s["seg"]))
    mapping: dict[int, int] = {}
    i = 0
    while i < len(sized):
        group = [sized[i]]
        j = i + 1
        floor_sz = max(1, sized[i]["max_doc"])
        while (
            j < len(sized)
            and len(group) < fan_in
            and sized[j]["max_doc"] <= floor_sz * fan_in
        ):
            group.append(sized[j])
            j += 1
        mseg = min(s["seg"] for s in group)
        for s in group:
            mapping[s["seg"]] = mseg
        i = j
    return mapping


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    fan_in: int = 10,
    width: int | None = None,
    policy: str = "flat",
) -> dict:
    """Merge segments in place (new postings dir + manifest generation
    bump). policy='flat': seg -> seg // fan_in (every segment rewritten);
    policy='tiered': size-adjacent grouping via plan_tiered, singleton
    groups pass through without decode/repack. Norms/docmap are unchanged
    — docIDs are stable across merges (no docBase remapping, module doc)."""
    width = width or spark.sparkContext.defaultParallelism
    m = read_manifest(index_dir)
    assert m is not None
    from lucene_rust_spark.index.deletes import read_tombstones

    tomb_df = read_tombstones(spark, index_dir, kind="all")
    tomb_arr = None
    if tomb_df is not None:
        if tomb_df.count() <= RECLAIM_MAX_TOMBSTONES:
            tomb_arr = np.array(
                sorted(r["doc_id"] for r in tomb_df.collect()), dtype=np.int64
            )
    positions = bool(m.get("positions"))
    offsets = bool(m.get("offsets"))
    payloads = bool(m.get("payloads"))
    postings = spark.read.parquet(
        os.path.join(index_dir, m.get("postings_dir", "postings"))
    )
    if policy == "tiered":
        mapping = plan_tiered(m["segments"], fan_in)
        map_col = F.create_map(
            *[x for s_, t_ in sorted(mapping.items()) for x in (F.lit(s_), F.lit(t_))]
        )
        keyed = postings.withColumn("mseg", map_col[F.col("seg")].cast("int"))
        seg_of = lambda s: mapping[s["seg"]]  # noqa: E731
        from collections import Counter

        group_sizes = Counter(mapping.values())
        passthrough_msegs = [g for g, n in group_sizes.items() if n == 1]
    elif policy == "flat":
        keyed = postings.withColumn("mseg", (F.col("seg") / fan_in).cast("int"))
        seg_of = lambda s: s["seg"] // fan_in  # noqa: E731
        passthrough_msegs = []
    else:
        raise ValueError(f"unknown merge policy: {policy!r} (flat | tiered)")
    cols = ["term", "mseg", "n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin"]
    if positions:
        cols.append("pos_bin")
    if offsets:
        cols.extend(["offs_bin", "olen_bin"])
    if payloads:
        cols.append("pay_bin")

    pfor = m.get("codec") == "pfor"

    def repack(batches, _p=positions, _pf=pfor, _o=offsets, _y=payloads, _t=tomb_arr):
        return _repack_partition(batches, positions=_p, pfor=_pf, offsets=_o, payloads=_y, tomb=_t)

    if tomb_arr is not None and len(tomb_arr) and passthrough_msegs:
        # segments holding tombstoned docs must go through the repack
        # kernel so the reclaim filter runs (no passthrough for them)
        tomb_segs = {int(x) for x in np.unique(tomb_arr >> 40)}
        live_by_mseg: dict[int, set] = {}
        for s in m["segments"]:
            live_by_mseg.setdefault(seg_of(s), set()).add(s["seg"])
        passthrough_msegs = [
            g for g in passthrough_msegs if not (live_by_mseg.get(g, set()) & tomb_segs)
        ]
    # repartitionByRange's sampling pass would otherwise scan the postings
    # parquet a second time; one cached pass feeds both the sampler and
    # the shuffle (released right after the write)
    keyed = keyed.persist()
    to_repack = keyed
    passthrough = None
    if passthrough_msegs:
        # singleton groups: blocks keep their packing — re-keying seg is
        # the only change, so skip the decode/repack kernel entirely (the
        # "don't rewrite the giant" half of the tiered policy)
        pt_cond = F.col("mseg").isin(passthrough_msegs)
        passthrough = keyed.filter(pt_cond).withColumn(
            "seg", F.col("mseg")
        ).select(*[f.split(" ")[0] for f in _BLOCK_SCHEMA.split(", ")])
        to_repack = keyed.filter(~pt_cond)
    merged = (
        to_repack.repartitionByRange(width, "term")
        .sortWithinPartitions("term", "mseg", "seg", "block_no")
        .select(*cols)
        .mapInPandas(repack, schema=_BLOCK_SCHEMA)
    )
    if passthrough is not None:
        merged = merged.unionByName(passthrough)
    gen = m["generation"] + 1
    # merged blocks live under group=0 so the generation dir keeps the
    # build's partitioned layout — later streaming appends add sibling
    # group=<epoch> dirs and partition discovery stays consistent
    out_postings = os.path.join(index_dir, f"postings_g{gen}", "group=0")
    merged.write.mode("overwrite").parquet(out_postings)
    keyed.unpersist()

    manifest = dict(m)
    live_stats = None
    if tomb_arr is not None and len(tomb_arr):
        live_stats = _reclaim_stores(spark, index_dir, m, gen, tomb_df, width)
        manifest.update(live_stats["manifest_patch"])

    # merged segment records: group source segments by mseg; a reclaiming
    # merge replaces each source segment's stats with its LIVE recompute
    per_src = live_stats["per_seg"] if live_stats else None
    segs: dict[int, dict] = {}
    for s in m["segments"]:
        if per_src is not None:
            stats = per_src.get(
                s["seg"], {"max_doc": 0, "sum_ttf": 0, "sha": 0, "doc_base": s["doc_base"]}
            )
            src_doc, src_ttf, src_sha = stats["max_doc"], stats["sum_ttf"], stats["sha"]
            src_base = stats["doc_base"]
        else:
            src_doc, src_ttf = s["max_doc"], s["sum_ttf"]
            src_sha, src_base = int(s["content_sha256_xor"], 16), s["doc_base"]
        t = segs.setdefault(
            seg_of(s),
            {"seg": seg_of(s), "max_doc": 0, "sum_ttf": 0,
             "doc_base": src_base, "del_count": 0, "sha_acc": 0,
             "group": s.get("group", 0), "merged_from": []},
        )
        t["max_doc"] += src_doc
        t["sum_ttf"] += src_ttf
        t["doc_base"] = min(t["doc_base"], src_base)
        t["sha_acc"] ^= src_sha
        t["merged_from"].append(s["seg"])
    segments = []
    for seg in sorted(segs):
        t = segs[seg]
        t["content_sha256_xor"] = format(t.pop("sha_acc") & 0xFFFFFFFFFFFFFFFF, "016x")
        segments.append(t)

    manifest.update(
        {
            "generation": gen,
            "segments": segments,
            "postings_dir": f"postings_g{gen}",
            "merge_fan_in": fan_in,
        }
    )
    if live_stats:
        manifest["doc_count"] = sum(s["max_doc"] for s in segments)
        manifest["sum_total_term_freq"] = sum(s["sum_ttf"] for s in segments)
    commit_manifest(index_dir, manifest)
    return manifest


def _reclaim_stores(spark, index_dir, m, gen, tomb_df, width):
    """Fold the tombstones into every store for the new generation
    (Lucene merge reclaim, hard AND soft): norms/docmap are rewritten
    minus the deleted docs, the terms dict is re-derived from the merged
    postings' block METADATA (sum n / sum_tf — no decode), and the
    manifest records the folded tombstone dirs so new readers skip them
    while old-generation readers still apply them."""
    import glob as _glob

    from lucene_rust_spark.index.deletes import SOFT_TOMBSTONE_DIR, TOMBSTONE_DIR

    tomb = F.broadcast(tomb_df)
    norms_dir = m.get("norms_dir", "norms")
    docmap_dir = m.get("docmap_dir", "docmap")
    norms_new = (
        spark.read.parquet(os.path.join(index_dir, norms_dir))
        .select("doc_id", "dl", "dlq")
        .join(tomb, "doc_id", "left_anti")
    )
    norms_new.repartitionByRange(max(1, width // 4), "doc_id").sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(
        os.path.join(index_dir, f"norms_g{gen}", "group=0")
    )
    dm_cols = ["doc_id", "repo", "path", "commit", "lang", "content_sha256"]
    docmap_new = (
        spark.read.parquet(os.path.join(index_dir, docmap_dir))
        .select(*dm_cols)
        .join(tomb, "doc_id", "left_anti")
    )
    docmap_new.repartitionByRange(max(1, width // 4), "doc_id").sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(
        os.path.join(index_dir, f"docmap_g{gen}", "group=0")
    )

    # per-source-seg live stats (seg = doc_id high bits — stable across
    # merges) for the segment records + manifest counters
    from lucene_rust_spark.index.build import PARTITION_SHIFT

    seg_col = F.shiftright("doc_id", PARTITION_SHIFT).alias("src_seg")
    dm = (
        spark.read.parquet(os.path.join(index_dir, f"docmap_g{gen}"))
        .groupBy(seg_col)
        .agg(
            F.count("*").alias("max_doc"),
            F.min("doc_id").alias("doc_base"),
            F.bit_xor(
                F.conv(F.substring("content_sha256", 1, 15), 16, 10).cast("long")
            ).alias("sha"),
        )
        .collect()
    )
    nm = (
        spark.read.parquet(os.path.join(index_dir, f"norms_g{gen}"))
        .groupBy(seg_col)
        .agg(F.sum("dl").alias("ttf"))
        .collect()
    )
    ttf_by_seg = {int(r["src_seg"]): int(r["ttf"]) for r in nm}
    per_seg = {
        int(r["src_seg"]): {
            "max_doc": int(r["max_doc"]),
            "doc_base": int(r["doc_base"]),
            "sha": int(r["sha"]) & 0xFFFFFFFFFFFFFFFF,
            "sum_ttf": ttf_by_seg.get(int(r["src_seg"]), 0),
        }
        for r in dm
    }

    # the per-group terms partials are now stale (they include reclaimed
    # docs): the MERGED postings' block metadata (no decode) becomes the
    # index's one partial, which later appends and imports sum with
    # theirs, and the terms dict is written from it
    import shutil

    partial = os.path.join(index_dir, "terms_partial")
    shutil.rmtree(partial, ignore_errors=True)
    merged_postings = spark.read.parquet(os.path.join(index_dir, f"postings_g{gen}"))
    block_term_stats(merged_postings).write.mode("overwrite").parquet(
        os.path.join(partial, "group=0")
    )
    write_terms_dict(
        spark.read.parquet(os.path.join(partial, "group=0")),
        os.path.join(index_dir, f"terms_g{gen}"),
        max(1, width // 8),
    )

    folded = [
        os.path.relpath(d, index_dir)
        for pat in (TOMBSTONE_DIR, SOFT_TOMBSTONE_DIR)
        for d in sorted(_glob.glob(os.path.join(index_dir, pat, "gen=*")))
    ]
    patch = {
        "norms_dir": f"norms_g{gen}",
        "docmap_dir": f"docmap_g{gen}",
        "terms_dir": f"terms_g{gen}",
        "del_count": 0,
        "soft_del_count": 0,
        "reclaimed_tombstone_dirs": sorted(
            set(m.get("reclaimed_tombstone_dirs", ())) | set(folded)
        ),
    }
    return {"per_seg": per_seg, "manifest_patch": patch}
