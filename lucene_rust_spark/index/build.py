"""Distributed index build — the IndexWriter/DWPT analog (SURVEY.md §2.3).

Reference surface: clt/index/mod.rs:77-82 (IndexWriter/DocumentsWriter, stubs),
clt/index/mod.rs:57-59 (TermsHash/FreqProxTermsWriter — our map-side per-doc
term counting), clt/index/index_sorter.rs:24-57 (canonical sort before docID
assignment), core/index/segment_index.rs:14-20 (pending→commit manifest rename).

Spark mapping (SURVEY.md §3.2):
  repartition-by-key shuffle  = routing docs to DWPTs
  per-partition build         = DWPT flush → immutable segment
  posting blocks of 128       = Lucene90 FOR blocks (for_util.rs:1)
  parquet sorted by term      = blocktree/FST terms dict (row-group stats seek)
  manifest.json atomic rename = segments_N two-phase commit

A group build is one Spark job: route docs by part, then one mapInArrow
flush task per partition runs the DWPT kernel (tokenize+count, SmallFloat
norm quantization, block packing) and writes its segments' store files
with pyarrow, as a Lucene DWPT flushes its own segment. Term-range order
across files is the merge's job (index/merge.py).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.functions.analysis import tokenize_series, tokenize_spans_series
from lucene_rust_spark.index.manifest import commit_manifest, read_manifest

PARTITION_SHIFT = 40

# --- docID assignment -------------------------------------------------------

# the docID order keys besides content: the DWPT kernel lexsorts them as
# object arrays, where a None cannot be ordered against a str
META_COLUMNS = ("commit", "path", "repo")


def reject_null_metadata(source: DataFrame) -> None:
    """Raise ValueError naming a metadata column that holds a NULL, before
    the build's jobs start (inside the DWPT task it would surface as a
    TypeError from np.lexsort). Columns the schema declares non-nullable
    need no look; the rest cost one limit-1 probe job, whose IS NULL
    filter a parquet scan answers from row-group null counts."""
    cols = [f.name for f in source.schema.fields if f.name in META_COLUMNS and f.nullable]
    if not cols:
        return
    hit = (
        source.filter(" OR ".join(f"`{c}` IS NULL" for c in cols))
        .select(*[F.col(c).isNull().alias(c) for c in cols])
        .limit(1)
        .collect()
    )
    if hit:
        col = next(c for c in cols if hit[0][c])
        raise ValueError(
            f"NULL in metadata column {col!r}: docIDs are ordered by "
            f"{', '.join(META_COLUMNS)}, which must all be non-NULL"
        )


def with_partition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic partition key — pinned to match oracle.partition_of:
    int(sha1(repo \\x00 path \\x00 commit)[:15 hex], 16) % P. Computed
    JVM-side (sha1/conv are builtin), no Python."""
    h = F.sha1(
        F.encode(
            F.concat(F.col("repo"), F.lit("\x00"), F.col("path"), F.lit("\x00"), F.col("commit")),
            "UTF-8",
        )
    )
    part = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % num_partitions).cast("int")
    return df.withColumn("part", part)


# --- SmallFloat norm decode as SQL -------------------------------------------

def dl_decode_sql(col: str = "dlq") -> str:
    """SmallFloat byte4ToInt as a pure SQL expression (inverse of
    kernels.int_to_byte4) — shared shape with the DuckDB oracle so
    quantized-norm scores are recomputable exactly on both sides."""
    n = K.NUM_FREE_VALUES
    e = f"({col} - {n})"
    return f"""
CASE WHEN {col} < {n} THEN {col}
ELSE {n} + (CASE WHEN {e} < 8 THEN {e} & 15
            ELSE shiftleft(({e} & 7) | 8, shiftright({e}, 3) - 1) END)
END"""


# --- posting block packing (FOR blocks of 128; for_util.rs:1) ----------------

def block_impacts(tfs: np.ndarray, dlqs: np.ndarray) -> tuple[list[int], list[int]]:
    """Per-block competitive impacts (clt/codecs/mod.rs:5
    competitive_impact_accumulator [stub]; Lucene 9 semantics): the pareto
    frontier of (tf, dlq) pairs actually PRESENT in the block. A pair is
    competitive iff no other pair has tf' >= tf AND dlq' <= dlq. The score
    upper bound max over the frontier is far tighter than the
    (max_tf, min_dlq) corner — which combines a tf and a norm from two
    DIFFERENT docs and prunes nothing on randomly-ordered corpora."""
    order = np.lexsort((dlqs, -tfs))  # tf desc, dlq asc
    ts, qs = tfs[order], dlqs[order]
    runmin = np.minimum.accumulate(qs)
    keep = np.empty(len(qs), dtype=bool)
    keep[0] = True
    keep[1:] = qs[1:] < runmin[:-1]  # strictly improves the best norm so far
    return ts[keep].astype(np.int32).tolist(), qs[keep].astype(np.int32).tolist()


def block_impacts_batch(
    tfs: np.ndarray, dlqs: np.ndarray, bstarts: np.ndarray, bends: np.ndarray
) -> list:
    """[block_impacts(tfs[s:e], dlqs[s:e]) for s, e], vectorized: one global
    stable argsort (block-major, tf desc, dlq asc — dlq is a byte so the
    composite integer key is exact) + the offset trick for a segmented
    running min. Requires the slices to tile the arrays (the _pack_runs
    block layout); output identical to per-block block_impacts."""
    nb = len(bstarts)
    if nb == 0:
        return []
    ns = (bends - bstarts).astype(np.int64)
    B = np.repeat(np.arange(nb, dtype=np.int64), ns)
    maxtf = int(tfs.max())
    key = (B * (maxtf + 1) + (maxtf - tfs)) * 256 + dlqs
    order = np.argsort(key, kind="stable")
    ts, qs = tfs[order], dlqs[order]
    # B[order] == B: the key is block-major and the slices tile the input
    w = B * 256 - qs
    runmin = B * 256 - np.maximum.accumulate(w)
    keep = np.empty(len(ts), dtype=bool)
    keep[0] = True
    keep[1:] = (qs[1:] < runmin[:-1]) | (B[1:] != B[:-1])
    kt = ts[keep].astype(np.int32)
    kq = qs[keep].astype(np.int32)
    cnt = np.add.reduceat(keep.astype(np.int64), bstarts)
    offs = np.concatenate(([0], np.cumsum(cnt)))
    return [
        (kt[offs[i] : offs[i + 1]].tolist(), kq[offs[i] : offs[i + 1]].tolist())
        for i in range(nb)
    ]


def _pack_runs(
    term_arr, seg_arr, docs, tfs, dlqs, term_values=None,
    pos_flat=None, pos_offsets=None, pfor=False,
    off_start_flat=None, off_len_flat=None, pay_flat=None,
) -> pd.DataFrame | None:
    """Vectorized block packing for a (term, seg, doc_id)-sorted slice that
    contains only COMPLETE runs. Block boundaries + per-block stats are
    computed with numpy reduceat over the whole slice; only the 3 bit-pack
    calls per block remain per-block Python."""
    n = len(docs)
    if n == 0:
        return None
    change = np.flatnonzero((term_arr[1:] != term_arr[:-1]) | (seg_arr[1:] != seg_arr[:-1]))
    run_starts = np.concatenate(([0], change + 1))
    run_ends = np.concatenate((change + 1, [n]))
    bstarts = np.concatenate(
        [np.arange(s, e, K.BLOCK_SIZE, dtype=np.int64) for s, e in zip(run_starts, run_ends)]
    )
    nblocks_per_run = ((run_ends - run_starts) + K.BLOCK_SIZE - 1) // K.BLOCK_SIZE
    bends = np.minimum(bstarts + K.BLOCK_SIZE, np.repeat(run_ends, nblocks_per_run))
    first_block_of_run = np.concatenate(([0], np.cumsum(nblocks_per_run)[:-1]))
    block_no = np.arange(len(bstarts)) - np.repeat(first_block_of_run, nblocks_per_run)
    # per-block aggregates (blocks tile the slice, so reduceat segments align)
    max_tf = np.maximum.reduceat(tfs, bstarts)
    sum_tf = np.add.reduceat(tfs, bstarts)
    min_dlq = np.minimum.reduceat(dlqs, bstarts)
    # doc deltas: global diff, zeroed at block starts (first_doc is absolute)
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[bstarts] = 0
    deltas_u = deltas.astype(np.uint64)
    tfs_u = tfs.astype(np.uint64)
    dlq_u8 = dlqs.astype(np.uint8)
    pack = K.pfor_pack if pfor else K.for_pack
    if pfor:
        docs_bin = [pack(deltas_u[s:e]) for s, e in zip(bstarts, bends)]
        tfs_bin = [pack(tfs_u[s:e]) for s, e in zip(bstarts, bends)]
    else:
        docs_bin = K.for_pack_batch(deltas_u, bstarts, bends)
        tfs_bin = K.for_pack_batch(tfs_u, bstarts, bends)
    dlq_bin = [dlq_u8[s:e].tobytes() for s, e in zip(bstarts, bends)]
    impacts = block_impacts_batch(tfs, dlqs, bstarts, bends)
    if pos_flat is not None:
        # positions: within-posting delta encode (reset at posting starts),
        # one FOR-packed blob per block (the .pos stream analog,
        # clt/codecs/lucene90/mod.rs:17 [stub])
        pdeltas = np.empty(len(pos_flat), dtype=np.int64)
        if len(pos_flat):
            pdeltas[0] = pos_flat[0]
            pdeltas[1:] = pos_flat[1:] - pos_flat[:-1]
            starts_of_postings = pos_offsets[:-1]
            pdeltas[starts_of_postings] = pos_flat[starts_of_postings]
        pdeltas_u = pdeltas.astype(np.uint64)
        if pfor:
            pos_bin = [
                pack(pdeltas_u[pos_offsets[s] : pos_offsets[e]])
                for s, e in zip(bstarts, bends)
            ]
        else:
            pos_bin = K.for_pack_batch(
                pdeltas_u, pos_offsets[bstarts], pos_offsets[bends]
            )
    else:
        pos_bin = [b""] * len(bstarts)
    if off_start_flat is not None:
        # char offsets per occurrence (postings_enum.rs:63-67 Offsets flag):
        # starts delta-encoded within each posting exactly like positions
        # (strictly increasing per doc), token lengths FOR-packed raw
        odeltas = np.empty(len(off_start_flat), dtype=np.int64)
        if len(off_start_flat):
            odeltas[0] = off_start_flat[0]
            odeltas[1:] = off_start_flat[1:] - off_start_flat[:-1]
            starts_of_postings = pos_offsets[:-1]
            odeltas[starts_of_postings] = off_start_flat[starts_of_postings]
        odeltas_u = odeltas.astype(np.uint64)
        olen_u = off_len_flat.astype(np.uint64)
        if pfor:
            offs_bin = [
                pack(odeltas_u[pos_offsets[s] : pos_offsets[e]])
                for s, e in zip(bstarts, bends)
            ]
            olen_bin = [
                pack(olen_u[pos_offsets[s] : pos_offsets[e]])
                for s, e in zip(bstarts, bends)
            ]
        else:
            offs_bin = K.for_pack_batch(
                odeltas_u, pos_offsets[bstarts], pos_offsets[bends]
            )
            olen_bin = K.for_pack_batch(
                olen_u, pos_offsets[bstarts], pos_offsets[bends]
            )
    else:
        offs_bin = [b""] * len(bstarts)
        olen_bin = [b""] * len(bstarts)
    if pay_flat is not None:
        # payloads (postings_enum.rs:70-76 Payloads flag): one raw byte
        # per occurrence, stored like the norm bytes — no packing needed
        pay_u8 = pay_flat.astype(np.uint8)
        pay_bin = [
            pay_u8[pos_offsets[s] : pos_offsets[e]].tobytes()
            for s, e in zip(bstarts, bends)
        ]
    else:
        pay_bin = [b""] * len(bstarts)
    out_terms = term_arr[bstarts] if term_values is None else term_values[term_arr[bstarts]]
    return pd.DataFrame(
        {
            "term": out_terms,
            "seg": seg_arr[bstarts].astype(np.int32),
            "block_no": block_no.astype(np.int32),
            "n": (bends - bstarts).astype(np.int32),
            "first_doc": docs[bstarts],
            "last_doc": docs[bends - 1],
            "max_tf": max_tf.astype(np.int32),
            "min_dlq": min_dlq.astype(np.int32),
            "sum_tf": sum_tf.astype(np.int64),
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dlq_bin": dlq_bin,
            "pos_bin": pos_bin,
            "offs_bin": offs_bin,
            "olen_bin": olen_bin,
            "pay_bin": pay_bin,
            "imp_tf": [i[0] for i in impacts],
            "imp_dlq": [i[1] for i in impacts],
        }
    )


# --- ASCII fast path: tokenize without Python string objects ----------------
# The pinned analyzer is `\w+` runs (unicode), <=255 chars, lowercase. On
# pure-ASCII text `(?U)\w` is exactly [0-9A-Za-z_] and lowercasing is the
# 0x20-bit flip, so the whole token stream can be produced by byte-LUT
# classification + run detection in numpy and dictionary-encoded by Arrow —
# no per-token Python objects (guide §4.2). Non-ASCII batches (or analyzer
# options the LUT can't express) fall back to the regex path, so the token
# stream is byte-identical by construction (tests/test_build_fastpath.py).

_WORD_LUT = np.zeros(256, dtype=bool)
for _a, _b in ((48, 58), (65, 91), (97, 123)):
    _WORD_LUT[_a:_b] = True
_WORD_LUT[ord("_")] = True
_LOWER_LUT = np.arange(256, dtype=np.uint8)
_LOWER_LUT[65:91] += 32

_MAX_TOKEN_LENGTH = 255  # analysis.MAX_TOKEN_LENGTH (StandardAnalyzer default)


def _ascii_token_stream(arr):
    """Token stream of an all-ASCII null-free pa.StringArray: returns
    (codes int64[ntok], tok_doc int64[ntok], uniques object[nuniq],
    tok_per_doc int64[ndocs]) with tokens in document order, filtered to
    <=255 chars and lowercased — the tokenize_series contract."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ndocs = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    offs = offs[arr.offset : arr.offset + ndocs + 1].astype(np.int64)
    base = int(offs[0])
    total = int(offs[-1]) - base
    empty_i = np.zeros(0, dtype=np.int64)
    if total == 0:
        return empty_i, empty_i, np.zeros(0, dtype=object), np.zeros(ndocs, dtype=np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[base : base + total]
    offs = offs - base
    wc = _WORD_LUT[data]
    d8 = np.diff(wc.view(np.int8), prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(d8 == 1)
    ends = np.flatnonzero(d8 == -1)
    # a word-char run crossing a doc boundary is two tokens, not one
    inner = np.unique(offs[1:-1])  # empty docs repeat a boundary: split once
    if len(inner):
        span = inner[(inner > 0) & (inner < total)]
        span = span[wc[span - 1] & wc[span]]
        if len(span):
            starts = np.sort(np.concatenate((starts, span)))
            ends = np.sort(np.concatenate((ends, span)))
    tok_doc = np.searchsorted(offs, starts, side="right") - 1
    lens = ends - starts
    keep = lens <= _MAX_TOKEN_LENGTH
    if not keep.all():
        starts, lens, tok_doc = starts[keep], lens[keep], tok_doc[keep]
    ntok = len(starts)
    if ntok == 0:
        return empty_i, empty_i, np.zeros(0, dtype=object), np.zeros(ndocs, dtype=np.int64)
    tok_per_doc = np.bincount(tok_doc, minlength=ndocs).astype(np.int64)
    nbytes = int(lens.sum())
    cum = np.concatenate(([0], np.cumsum(lens)))
    # chunked int32 gather: the naive repeat+arange index is 16 bytes per
    # token byte — hundreds of MB of fresh pages per batch on a lazily
    # backed VM (OPTIMIZATION_r07.md §2); chunking keeps the peak ~10 MB
    tok_data = np.empty(nbytes, dtype=np.uint8)
    step = 1 << 19  # tokens per chunk
    for c0 in range(0, ntok, step):
        c1 = min(c0 + step, ntok)
        b0, b1 = int(cum[c0]), int(cum[c1])
        idx = np.repeat(
            (starts[c0:c1] - cum[c0:c1]).astype(np.int64), lens[c0:c1]
        ) + np.arange(b0, b1, dtype=np.int64)
        tok_data[b0:b1] = _LOWER_LUT[data[idx]]
    sarr = pa.StringArray.from_buffers(
        ntok, pa.py_buffer(cum.astype(np.int32)), pa.py_buffer(tok_data)
    )
    dc = pc.dictionary_encode(sarr)
    codes = dc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = np.asarray(dc.dictionary.to_pylist(), dtype=object)
    return codes, tok_doc, uniques, tok_per_doc


def _count_batch_arrow(doc_ids: np.ndarray, parts: np.ndarray, arr, positions: bool = False):
    """Fast-path _count_batch over a pa.StringArray (ASCII, no nulls, simple
    word break, no stop words/char filters/offsets/payloads). Returns the
    same tuple as _count_batch."""
    codes, tok_doc, uniques, tok_per_doc = _ascii_token_stream(arr)
    dl = tok_per_doc
    dlq = K.int_to_byte4(dl)
    total = len(codes)
    if total == 0:
        empty = np.zeros(0, dtype=np.int64)
        return (empty, empty.astype(np.int32), empty.astype(np.uint8),
                empty, empty.astype(np.int32), np.zeros(0, dtype=object), empty, dl,
                empty, empty, empty.astype(np.uint8))
    n_u = len(uniques)
    key = tok_doc * n_u + codes
    if positions:
        doc_starts = np.concatenate(([0], np.cumsum(tok_per_doc)[:-1]))
        pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(doc_starts, tok_per_doc)
        order = np.argsort(key, kind="stable")
        uk, counts = np.unique(key[order], return_counts=True)
        pos_flat = pos_in_doc[order]
    else:
        uk, counts = np.unique(key, return_counts=True)
        pos_flat = np.zeros(0, dtype=np.int64)
    pair_doc_idx = uk // n_u
    pair_code = (uk % n_u).astype(np.int64)
    z = np.zeros(0, dtype=np.int64)
    return (
        doc_ids[pair_doc_idx],
        parts[pair_doc_idx].astype(np.int32),
        dlq[pair_doc_idx].astype(np.uint8),
        pair_code,
        counts.astype(np.int32),
        uniques,
        pos_flat,
        dl,
        z,
        z,
        z.astype(np.uint8),
    )


def _count_batch(
    doc_ids: np.ndarray, parts: np.ndarray, content: pd.Series, positions: bool = False,
    stop_words=None, char_filters=None, word_break="simple", offsets: bool = False,
    payload_fn=None,
):
    """Vectorized per-batch term counting → flat (doc, seg, dlq, code, tf)
    pair arrays + batch vocab. With positions=True also returns the ragged
    per-pair token-position stream (pos_flat sorted ascending within each
    pair, counts == tf give the offsets); offsets=True adds the aligned
    per-occurrence char-offset streams (start, len)."""
    if offsets:
        spans = tokenize_spans_series(
            content, stop_words=stop_words, char_filters=char_filters, word_break=word_break
        )
        toks = spans.map(lambda sp: [t for t, _, _ in sp])
    else:
        toks = tokenize_series(content, stop_words=stop_words, char_filters=char_filters, word_break=word_break)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    dl = lens
    dlq = K.int_to_byte4(dl)
    total = int(lens.sum())
    if total == 0:
        empty = np.zeros(0, dtype=np.int64)
        return (empty, empty.astype(np.int32), empty.astype(np.uint8),
                empty, empty.astype(np.int32), np.zeros(0, dtype=object), empty, dl,
                empty, empty, empty.astype(np.uint8))
    all_tokens = np.empty(total, dtype=object)
    starts_all = np.zeros(total, dtype=np.int64) if offsets else None
    ends_all = np.zeros(total, dtype=np.int64) if offsets else None
    pos = 0
    if offsets:
        for sp in spans:
            n = len(sp)
            for j, (t, a, b) in enumerate(sp):
                all_tokens[pos + j] = t
                starts_all[pos + j] = a
                ends_all[pos + j] = b
            pos += n
    else:
        for t in toks:
            n = len(t)
            all_tokens[pos : pos + n] = t
            pos += n
    codes, uniques = pd.factorize(all_tokens)
    n_u = len(uniques)
    doc_idx_rep = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lens)
    key = doc_idx_rep * n_u + codes
    if positions:
        doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(doc_starts, lens)
        order = np.argsort(key, kind="stable")  # ascending positions per pair
        uk, counts = np.unique(key[order], return_counts=True)
        pos_flat = pos_in_doc[order]
    else:
        uk, counts = np.unique(key, return_counts=True)
        pos_flat = np.zeros(0, dtype=np.int64)
    if offsets:
        off_start_flat = starts_all[order]
        off_len_flat = (ends_all - starts_all)[order]
    else:
        off_start_flat = np.zeros(0, dtype=np.int64)
        off_len_flat = np.zeros(0, dtype=np.int64)
    if payload_fn is not None:
        pay_flat = np.asarray(
            payload_fn(all_tokens, pos_in_doc), dtype=np.uint8
        )[order]
    else:
        pay_flat = np.zeros(0, dtype=np.uint8)
    pair_doc_idx = uk // n_u
    pair_code = (uk % n_u).astype(np.int64)
    return (
        doc_ids[pair_doc_idx],
        parts[pair_doc_idx].astype(np.int32),
        dlq[pair_doc_idx].astype(np.uint8),
        pair_code,
        counts.astype(np.int32),
        np.asarray(uniques, dtype=object),
        pos_flat,
        dl,
        off_start_flat,
        off_len_flat,
        pay_flat,
    )


def _utf16_len_arrow(arr) -> np.ndarray:
    """Per-string UTF-16 code-unit counts of a pa.StringArray (JVM chars,
    the pinned content_len unit, FIXTURES.md §1): codepoints + one extra
    per supplementary char, computed from the UTF-8 buffer. Spark's
    length() counts codepoints instead, so the two differ on astral
    text."""
    ndocs = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    offs = offs[arr.offset : arr.offset + ndocs + 1].astype(np.int64)
    base = int(offs[0])
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[base : int(offs[-1])]
    offs = offs - base
    # all-ASCII batch (the common case): UTF-16 units == bytes — one max()
    # pass instead of building per-byte class arrays
    if len(data) == 0 or int(data.max()) < 0x80:
        return (offs[1:] - offs[:-1]).astype(np.int64)
    # per byte: 1 for any lead byte, +1 more for a 4-byte lead (surrogate
    # pair), 0 for continuation bytes. int32 throughout: a batch is far
    # below 2^31 units, and narrow temps matter on this host (§2)
    unit = np.ones(len(data), dtype=np.int32)
    unit[(data & 0xC0) == 0x80] = 0
    unit[data >= 0xF0] = 2
    c = np.concatenate(([np.int32(0)], np.cumsum(unit, dtype=np.int32)))
    return (c[offs[1:]] - c[offs[:-1]]).astype(np.int64)


def _sha256_arrow(arr) -> np.ndarray:
    """Per-string sha256 hexdigests of a pa.StringArray (== Spark's
    sha2(col, 256) over the UTF-8 bytes)."""
    import hashlib

    ndocs = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    offs = offs[arr.offset : arr.offset + ndocs + 1].astype(np.int64)
    mv = memoryview(arr.buffers()[2])
    out = np.empty(ndocs, dtype=object)
    for i in range(ndocs):
        out[i] = hashlib.sha256(mv[offs[i] : offs[i + 1]]).hexdigest()
    return out


def _dwpt_partition(batches, positions: bool = False, stop_words=None, char_filters=None, pfor=False, word_break="simple", offsets: bool = False, payload_fn=None, sort_key=None):
    """The DocumentsWriterPerThread analog (clt/index/mod.rs:33): this task
    holds complete segments (docs are hash-routed by part), accumulates
    per-doc term counts across Arrow batches, then sorts (term, seg,
    doc_id) ONCE in numpy and packs FOR blocks. Memory is bounded by the
    segment size (num_partitions is the flush-by-RAM knob).

    docIDs are assigned HERE: the task holds complete segments, so the
    per-part rank is local. RecordBatches arrive with (part, repo, path,
    commit, lang, content[, content_sha256]) and no doc_id; pairs are
    counted against task-local row ids and remapped once the task's
    ordering (the oracle's canonical (part[, content_len], repo, path,
    commit) — Python string order == Spark's UTF8_BINARY, content_len in
    UTF-16 code units) is known.

    Returns None for a task without rows, else (postings, norms, docmap)
    for its segments, straight from one content pass: postings is a
    pandas frame of postings block rows in string (term, seg,
    block_no) order, or None when no doc has a token; norms (doc_id, dl,
    dlq) and docmap (doc_id, repo, path, commit, lang, content_sha256) are
    Arrow tables in doc_id order, one row per doc, token-less ones
    included."""
    import pyarrow as pa
    import pyarrow.compute as pc

    acc = []
    pos_acc = []
    ostart_acc, olen_acc, pay_acc = [], [], []
    norm_parts, norm_dls = [], []
    vocab: dict = {}
    vocab_list: list = []
    row_base = 0
    meta_repo, meta_path, meta_commit, meta_lang = [], [], [], []
    meta_sha, meta_clen = [], []
    # analyzer options the byte-LUT fast path can express (ASCII checked per
    # batch below); anything else routes through the regex path unchanged
    fast_ok = (
        stop_words is None
        and not char_filters
        and word_break in (None, "simple")
        and not offsets
        and payload_fn is None
    )
    for rb in batches:
        nrows = rb.num_rows
        b_doc_ids = np.arange(row_base, row_base + nrows, dtype=np.int64)
        row_base += nrows
        b_parts = rb.column("part").to_numpy().astype(np.int64)
        carr = rb.column("content")
        meta_repo.append(rb.column("repo").to_numpy(zero_copy_only=False))
        meta_path.append(rb.column("path").to_numpy(zero_copy_only=False))
        meta_commit.append(rb.column("commit").to_numpy(zero_copy_only=False))
        meta_lang.append(rb.column("lang").to_numpy(zero_copy_only=False))
        if "content_sha256" in rb.schema.names:
            meta_sha.append(rb.column("content_sha256").to_numpy(zero_copy_only=False))
        else:
            meta_sha.append(_sha256_arrow(carr))
        if sort_key == "content_len":
            meta_clen.append(_utf16_len_arrow(carr))
        use_fast = (
            fast_ok
            and pa.types.is_string(carr.type)
            and carr.null_count == 0
            and len(carr) > 0
            and bool(pc.all(pc.string_is_ascii(carr)).as_py())
        )
        if use_fast:
            (docs_b, segs_b, dlqs_b, codes_b, tfs_b, uniques_b, pos_b, dl_b,
             ostart_b, olen_b, pay_b) = _count_batch_arrow(
                b_doc_ids, b_parts, carr, positions
            )
        else:
            (docs_b, segs_b, dlqs_b, codes_b, tfs_b, uniques_b, pos_b, dl_b,
             ostart_b, olen_b, pay_b) = _count_batch(
                b_doc_ids, b_parts, carr.to_pandas(), positions,
                stop_words=stop_words, char_filters=char_filters, word_break=word_break,
                offsets=offsets, payload_fn=payload_fn,
            )
        norm_parts.append(b_parts)
        norm_dls.append(dl_b)
        pos_acc.append(pos_b)
        ostart_acc.append(ostart_b)
        olen_acc.append(olen_b)
        pay_acc.append(pay_b)
        # remap batch-local term codes into the task-level vocabulary
        remap = np.empty(len(uniques_b), dtype=np.int32)
        for j, term in enumerate(uniques_b):
            c = vocab.get(term)
            if c is None:
                c = len(vocab_list)
                vocab[term] = c
                vocab_list.append(term)
            remap[j] = c
        acc.append((docs_b, segs_b, dlqs_b, remap[codes_b] if len(codes_b) else codes_b, tfs_b))

    if not row_base:
        return None
    # the task holds complete segments: assign docIDs with the oracle's
    # canonical ordering, then remap the task-local row ids everywhere
    part_all = np.concatenate(norm_parts).astype(np.int64)
    repo_all = np.concatenate(meta_repo)
    path_all = np.concatenate(meta_path)
    commit_all = np.concatenate(meta_commit)
    keys = [commit_all, path_all, repo_all]
    if sort_key == "content_len":
        keys.append(np.concatenate(meta_clen))
    keys.append(part_all)
    order_a = np.lexsort(tuple(keys))
    sp = part_all[order_a]
    seg_starts = np.concatenate(([0], np.flatnonzero(np.diff(sp)) + 1))
    seg_lens = np.diff(np.concatenate((seg_starts, [len(sp)])))
    rank = np.arange(len(sp), dtype=np.int64) - np.repeat(seg_starts, seg_lens)
    doc_map = np.empty(row_base, dtype=np.int64)
    doc_map[order_a] = (sp << PARTITION_SHIFT) | rank
    # part is the last (primary) lexsort key and rank counts up within
    # it, so order_a is doc_id order
    sorted_ids = doc_map[order_a]
    docmap = pa.table(
        {
            "doc_id": pa.array(sorted_ids, type=pa.int64()),
            "repo": pa.array(repo_all[order_a], type=pa.string()),
            "path": pa.array(path_all[order_a], type=pa.string()),
            "commit": pa.array(commit_all[order_a], type=pa.string()),
            "lang": pa.array(np.concatenate(meta_lang)[order_a], type=pa.string()),
            "content_sha256": pa.array(np.concatenate(meta_sha)[order_a], type=pa.string()),
        }
    )
    dl = np.concatenate(norm_dls).astype(np.int64)[order_a]
    norms = pa.table(
        {
            "doc_id": pa.array(sorted_ids, type=pa.int64()),
            "dl": pa.array(dl.astype(np.int32)),
            "dlq": pa.array(K.int_to_byte4(dl).astype(np.int32)),
        }
    )

    docs = np.concatenate([doc_map[a[0]] for a in acc])
    if len(docs) == 0:
        return None, norms, docmap
    # narrow dtypes (guide §2.3): codes/segs/tfs fit int32 and dlq is a
    # byte — halving the task's peak working set halves its first-touch
    # footprint on lazily-backed hosts (§2); _pack_runs widens locally
    # where the math needs it
    segs = np.concatenate([a[1] for a in acc]).astype(np.int32)
    dlqs = np.concatenate([a[2] for a in acc]).astype(np.uint8)
    codes = np.concatenate([a[3] for a in acc]).astype(np.int32)
    tfs = np.concatenate([a[4] for a in acc]).astype(np.int32)
    del acc
    # renumber term codes by string rank (Python str order == UTF-8 byte
    # order, the parquet statistics' order), so one integer lexsort puts
    # the blocks in the (term, seg, block_no) order the file is written in
    vocab_arr = np.asarray(vocab_list, dtype=object)
    by_term = np.argsort(vocab_arr)
    term_rank = np.empty(len(by_term), dtype=np.int32)
    term_rank[by_term] = np.arange(len(by_term), dtype=np.int32)
    codes = term_rank[codes]
    order = np.lexsort((docs, segs, codes))
    pos_flat = pos_offsets = None
    off_start_flat = off_len_flat = pay_flat = None
    if positions:
        # ragged reorder of per-pair position slices, fully vectorized;
        # the offset streams are aligned 1:1 with the position stream, so
        # they reuse the same gather index
        raw = np.concatenate(pos_acc) if pos_acc else np.zeros(0, dtype=np.int64)
        old_off = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
        lens_o = tfs[order].astype(np.int64)
        new_off = np.concatenate(([0], np.cumsum(lens_o)))
        gather = np.repeat(old_off[:-1][order] - new_off[:-1], lens_o) + np.arange(
            int(lens_o.sum()), dtype=np.int64
        )
        pos_flat = raw[gather]
        pos_offsets = new_off
        if offsets:
            off_start_flat = np.concatenate(ostart_acc)[gather]
            off_len_flat = np.concatenate(olen_acc)[gather]
        if payload_fn is not None:
            pay_flat = np.concatenate(pay_acc)[gather]
    postings = _pack_runs(
        codes[order], segs[order], docs[order], tfs[order], dlqs[order],
        term_values=vocab_arr[by_term], pos_flat=pos_flat, pos_offsets=pos_offsets,
        pfor=pfor, off_start_flat=off_start_flat, off_len_flat=off_len_flat,
        pay_flat=pay_flat,
    )
    return postings, norms, docmap


# --- the flush: store files written by the build task -------------------------

# postings rows per row group: each row group is term-sorted with term
# min/max statistics, so a reader seeks within a file that spans the
# task's whole vocabulary (search/block_reader.py, Spark's row-group filter)
POSTINGS_ROW_GROUP_ROWS = 1 << 16
# write_terms_dict sums up to this many terms-partial rows on the driver.
# The driver path was the faster one at every size measured (4 cores,
# 32 partial files: 1.8M rows 2.3 s against Spark's 11-24 s, 16M rows
# 18.5 s against 49 s), so the bound is its memory: the pyarrow hash
# group-by peaked at ~380 B of driver RSS per row when most rows are
# distinct terms, 1.65 GB at 4M rows. Above it the Spark plan runs.
TERM_PARTIALS_DRIVER_MAX_ROWS = 4_000_000


def _store_schemas() -> dict:
    """Arrow schemas of the four stores a flush writes, and of the terms
    dict; the postings one is also the merge's block schema."""
    import pyarrow as pa

    partial = pa.schema(
        [("term", pa.string()), ("doc_freq", pa.int64()),
         ("total_term_freq", pa.int64()), ("n_blocks", pa.int64())]
    )
    return {
        "postings": pa.schema(
            [
                ("term", pa.string()),
                ("seg", pa.int32()),
                ("block_no", pa.int32()),
                ("n", pa.int32()),
                ("first_doc", pa.int64()),
                ("last_doc", pa.int64()),
                ("max_tf", pa.int32()),
                ("min_dlq", pa.int32()),
                ("sum_tf", pa.int64()),
                ("docs_bin", pa.binary()),
                ("tfs_bin", pa.binary()),
                ("dlq_bin", pa.binary()),
                ("pos_bin", pa.binary()),
                ("offs_bin", pa.binary()),
                ("olen_bin", pa.binary()),
                ("pay_bin", pa.binary()),
                ("imp_tf", pa.list_(pa.int32())),
                ("imp_dlq", pa.list_(pa.int32())),
            ]
        ),
        "norms": pa.schema([("doc_id", pa.int64()), ("dl", pa.int32()), ("dlq", pa.int32())]),
        "docmap": pa.schema(
            [("doc_id", pa.int64())]
            + [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content_sha256")]
        ),
        "terms_partial": partial,
        "terms": partial.append(pa.field("ordinal", pa.int64())),
    }


# pyarrow write options per store (snappy, Spark's codec too). Statistics
# only where a reader filters; dictionaries where values repeat (most
# postings blocks hold one doc, so even their binary columns do), never
# on the unique docmap strings
_WRITE_OPTS = {
    "postings": dict(
        row_group_size=POSTINGS_ROW_GROUP_ROWS,
        write_statistics=["term", "seg", "block_no", "first_doc", "last_doc"],
    ),
    "norms": dict(use_dictionary=["dlq"], write_statistics=["doc_id"]),
    "docmap": dict(use_dictionary=["repo", "lang"], write_statistics=["doc_id"]),
    "terms_partial": dict(
        use_dictionary=["doc_freq", "total_term_freq", "n_blocks"], write_statistics=["term"]
    ),
}
_WRITE_OPTS["terms"] = _WRITE_OPTS["terms_partial"]


def _write_store(table, store: str, path: str, attempt: int) -> int:
    """Write one store file under a per-attempt temp name (a dot file:
    Spark's reader and the commit snapshot skip it), rename it into place
    and return its size — a retried or speculative attempt replaces the
    file whole."""
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.{attempt}.tmp")
    pq.write_table(table, tmp, compression="snappy", store_schema=False, **_WRITE_OPTS[store])
    os.replace(tmp, path)
    return os.path.getsize(path)


def _term_partial(blocks):
    """(term, doc_freq, total_term_freq, n_blocks) of a task's postings
    table, term-sorted — block_term_stats computed in the flush task."""
    import pyarrow as pa

    agg = blocks.group_by("term").aggregate(
        [("n", "sum"), ("sum_tf", "sum"), ("n", "count")]
    ).sort_by("term")
    return pa.table(
        [agg["term"], agg["n_sum"].cast(pa.int64()), agg["sum_tf_sum"], agg["n_count"]],
        schema=_store_schemas()["terms_partial"],
    )


def _flush_partition(batches, dirs: dict, **kernel_kw):
    """mapInArrow task of a group build — the DWPT flush: run the kernel
    over this task's complete segments and write their store files
    itself, one file per store (dirs: store -> group dir) named by the
    partition id. Yields one row per segment (seg, max_doc,
    doc_base, sum_ttf, sha_xor) and one per written file (store, rows,
    bytes)."""
    import pyarrow as pa
    from pyspark import TaskContext

    out = _dwpt_partition(batches, **kernel_kw)
    if out is None:
        return
    postings, norms, docmap = out
    schemas = _store_schemas()
    tables = {"norms": norms, "docmap": docmap}
    if postings is not None:
        blocks = pa.Table.from_pandas(postings, schema=schemas["postings"], preserve_index=False)
        tables["postings"] = blocks
        tables["terms_partial"] = _term_partial(blocks)
    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}.parquet"
    rows = [
        {"store": store, "rows": t.num_rows,
         "bytes": _write_store(t, store, os.path.join(dirs[store], name), ctx.taskAttemptId())}
        for store, t in tables.items()
    ]
    # per-segment stats: docs are in doc_id order, so segments are runs
    ids = norms.column("doc_id").to_numpy()
    seg = ids >> PARTITION_SHIFT
    starts = np.concatenate(([0], np.flatnonzero(np.diff(seg)) + 1))
    sha = np.fromiter(
        (int(h[:15], 16) if h else 0 for h in docmap.column("content_sha256").to_pylist()),
        dtype=np.int64, count=len(ids),
    )
    counts = np.diff(np.concatenate((starts, [len(ids)])))
    ttf = np.add.reduceat(norms.column("dl").to_numpy().astype(np.int64), starts)
    xor = np.bitwise_xor.reduceat(sha, starts)
    rows += [
        {"seg": int(seg[s]), "max_doc": int(c), "doc_base": int(ids[s]),
         "sum_ttf": int(t), "sha_xor": int(x)}
        for s, c, t, x in zip(starts, counts, ttf, xor)
    ]
    yield pa.RecordBatch.from_pylist(rows, schema=_flush_pa_schema())


def _flush_pa_schema():
    """A flush task's output rows: one per segment (store NULL), one per
    written file (seg NULL)."""
    import pyarrow as pa

    return pa.schema(
        [("seg", pa.int32()), ("max_doc", pa.int64()), ("doc_base", pa.int64()),
         ("sum_ttf", pa.int64()), ("sha_xor", pa.int64()), ("store", pa.string()),
         ("rows", pa.int64()), ("bytes", pa.int64())]
    )


# --- build -------------------------------------------------------------------


def _check_build_options(sort_key, codec, word_break, positions, offsets, payloads) -> None:
    """Reject unsupported build options on the driver, before any Spark
    job: an unknown sort_key or word_break would otherwise raise only
    inside a DWPT task, and an unknown codec would silently write FOR
    blocks under a bogus manifest name."""
    if sort_key not in (None, "content_len"):
        raise ValueError(f"unknown sort_key {sort_key!r} (supported: 'content_len')")
    if codec not in ("for", "pfor"):
        raise ValueError(f"unknown codec {codec!r} (for | pfor)")
    if word_break not in (None, "simple", "uax29"):
        raise ValueError(f"unknown word_break {word_break!r} (simple | uax29)")
    if offsets and not positions:
        raise ValueError("offsets=True requires positions=True")
    if payloads and not positions:
        raise ValueError("payloads require positions=True")


def stage_corpus(
    spark: SparkSession,
    source,
    out_dir: str,
    num_partitions: int,
    num_groups: int,
    shard: int = 0,
    n_shards: int = 1,
    resume: bool = True,
) -> dict:
    """Stage the corpus ONCE, bucketed by checkpoint group — the map side
    of the build's single corpus shuffle, materialized to disk: compute
    the deterministic partition key + per-row sha256 and write rows under
    staged/shard=S/grp=G (write.partitionBy, no shuffle). Every group job
    afterwards reads ONLY its grp=G files, partition-pruned.

    Why: the round-1 scaling bench measured 0.35 efficiency because each
    of G concurrent group builders re-scanned and re-hashed the FULL
    corpus and threw away (G-1)/G of it; staged reads make the per-group
    work 1/G of the corpus, which is what lets N -> 4N executors scale.

    Shard-parallel: shard s of n_shards processes input files s::n_shards
    (disjoint file sets — exactly how a cluster's map tasks split a scan).
    `source` is a parquet path (shardable) or a DataFrame (n_shards=1)."""
    os.makedirs(os.path.join(out_dir, "checkpoints"), exist_ok=True)
    ck = os.path.join(out_dir, "checkpoints", f"stage_{shard}.json")
    if resume and os.path.exists(ck):
        with open(ck) as f:
            return json.load(f)
    if isinstance(source, str):
        if n_shards > 1:
            files = sorted(glob.glob(os.path.join(source, "*.parquet")))
            if not files:
                raise FileNotFoundError(f"no parquet files under {source}")
            src = spark.read.parquet(*files[shard::n_shards])
        else:
            src = spark.read.parquet(source)
    else:
        assert n_shards == 1, "DataFrame source cannot be file-sharded"
        src = source
    d = with_partition(src, num_partitions)
    d = d.withColumn("grp", (F.col("part") % num_groups).cast("int")).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )
    dest = os.path.join(out_dir, "staged", f"shard={shard}")
    d.write.mode("overwrite").partitionBy("grp").parquet(dest)
    stats = {"shard": shard, "n_shards": n_shards}
    with open(ck + ".tmp", "w") as f:
        json.dump(stats, f)
    os.replace(ck + ".tmp", ck)
    return stats


def _staged_group(spark: SparkSession, out_dir: str, g: int) -> DataFrame | None:
    paths = sorted(glob.glob(os.path.join(out_dir, "staged", "shard=*", f"grp={g}")))
    if not paths:
        return None
    return spark.read.parquet(*paths)


def block_term_stats(blocks: DataFrame, *by: str) -> DataFrame:
    """(*by, term, doc_freq, total_term_freq, n_blocks) from postings
    block rows' metadata (n, sum_tf) — no decode. The map side of the
    terms dict: a group's partial, or the whole dict of merged postings."""
    return blocks.groupBy(*by, "term").agg(
        F.sum("n").cast("long").alias("doc_freq"),
        F.sum("sum_tf").cast("long").alias("total_term_freq"),
        F.count("*").cast("long").alias("n_blocks"),
    )


def term_partial_dirs(index_dir: str) -> list[str]:
    """Every group's terms partial dir under index_dir, sorted."""
    return sorted(glob.glob(os.path.join(index_dir, "terms_partial", "group=*")))


def postings_without_partials(index_dir: str, m: dict) -> list[str]:
    """The committed postings files of manifest m when one of their
    group=G dirs has no terms_partial/group=G, else []. An index whose
    last reclaiming merge ran under older code has no partial at all
    (that merge deleted them), and summing the partials that later
    writers add would give a terms dict of only their docs."""
    from lucene_rust_spark.index.manifest import committed_files, store_dirs

    files = committed_files(index_dir, m, store_dirs(m)["postings_dir"])
    groups = {os.path.relpath(f, index_dir).split(os.sep)[1] for f in files}
    partials = os.path.join(index_dir, "terms_partial")
    if all(os.path.isdir(os.path.join(partials, g)) for g in groups):
        return []
    return files


def ensure_term_partials(spark: SparkSession, index_dir: str, m: dict) -> None:
    """Give every committed postings group of manifest m a terms partial
    before a writer sums them. When one is missing
    (postings_without_partials), every partial is rewritten from the
    committed postings' block metadata, one per postings group dir, so
    the partials count each posting exactly once."""
    from lucene_rust_spark.index.manifest import store_dirs

    files = postings_without_partials(index_dir, m)
    if not files:
        return
    root = os.path.join(index_dir, "terms_partial")
    shutil.rmtree(root, ignore_errors=True)
    base = os.path.join(index_dir, store_dirs(m)["postings_dir"])
    blocks = spark.read.option("basePath", base).parquet(*files)
    block_term_stats(blocks, "group").write.partitionBy("group").parquet(root)


def write_terms_dict(
    spark: SparkSession, partial_dirs: list, out_path: str, n_range_parts: int
) -> None:
    """Sum the terms partials under partial_dirs (block_term_stats rows;
    groups hold disjoint docs, so df/ttf/blocks add up) into the
    term-sorted dict with dense global ordinals (OrdinalMap,
    clt/index/ordinal_map.rs:1-527) at out_path, replacing it. The one
    finalize of build, append, import and reclaiming merge, so every
    dict keeps one schema.

    The partials' footers give their row count without a Spark job. Up
    to TERM_PARTIALS_DRIVER_MAX_ROWS rows the dict is summed, sorted and
    written on the driver with pyarrow as one file. Above it, range
    partitions of n_range_parts are term-ordered, so ordinal = partition
    offset + local rank — two vocab-sized passes (local ranks, then
    per-partition counts collected to offsets), never a single-partition
    global sort."""
    import pyarrow.dataset as ds

    files = [f for d in partial_dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    partials = ds.dataset(files, schema=_store_schemas()["terms_partial"], format="parquet")
    if partials.count_rows() <= TERM_PARTIALS_DRIVER_MAX_ROWS:
        _write_terms_dict_driver(partials.to_table(), out_path)
        return

    def _local_rank(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = 0
        for pdf in batches:
            pdf = pdf.assign(pid=pid, local_ord=np.arange(base, base + len(pdf)))
            base += len(pdf)
            yield pdf

    agg = spark.read.parquet(*partial_dirs).groupBy("term").agg(
        F.sum("doc_freq").cast("long").alias("doc_freq"),
        F.sum("total_term_freq").cast("long").alias("total_term_freq"),
        F.sum("n_blocks").cast("long").alias("n_blocks"),
    )
    ranged = agg.repartitionByRange(max(1, n_range_parts), "term").sortWithinPartitions(
        "term"
    )
    schema = "term string, doc_freq long, total_term_freq long, n_blocks long, pid int, local_ord long"
    loc = ranged.mapInPandas(_local_rank, schema=schema).persist()
    counts = {
        r["pid"]: r["n"]
        for r in loc.groupBy("pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(*[x for p in offsets for x in (F.lit(p), F.lit(offsets[p]))])
    (
        loc.withColumn("ordinal", (off_map[F.col("pid")] + F.col("local_ord")).cast("long"))
        .drop("pid", "local_ord")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    loc.unpersist()


def _write_terms_dict_driver(partials, out_path: str) -> None:
    """The dict of a partials table, summed and term-sorted (UTF-8 byte
    order, as Spark sorts strings) by pyarrow, written as one file."""
    import pyarrow as pa

    agg = partials.group_by("term").aggregate(
        [("doc_freq", "sum"), ("total_term_freq", "sum"), ("n_blocks", "sum")]
    ).sort_by("term")
    terms = pa.table(
        [agg["term"], agg["doc_freq_sum"], agg["total_term_freq_sum"], agg["n_blocks_sum"],
         pa.array(np.arange(agg.num_rows, dtype=np.int64))],
        schema=_store_schemas()["terms"],
    )
    shutil.rmtree(out_path, ignore_errors=True)
    os.makedirs(out_path)
    _write_store(terms, "terms", os.path.join(out_path, "part-00000.parquet"), 0)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    num_partitions: int = 32,
    num_groups: int = 1,
    resume: bool = True,
    shuffle_width: int | None = None,
    positions: bool = False,
    cleanup_staged: bool = True,
    stop_words=None,
    char_filters=None,
    codec: str = "for",
    word_break: str = "simple",
    offsets: bool = False,
    payloads=None,
    sort_key: str | None = None,
) -> dict:
    """Build the full index under out_dir. Returns the committed manifest.
    payloads: None (off) | True (default token-type payload byte per
    occurrence) | a vectorized callable (tokens, positions) -> uint8[].

    Three checkpointed phases (each resumable, north_rule resumability;
    the checkpoint files are the SegmentCommitInfo analogs):
      1. stage:    one corpus pass -> staged/shard=S/grp=G (part + sha256)
      2. groups:   num_groups independent jobs, each reading ONLY its
                   grp=G staged files (partition-pruned — no redundant
                   scans across concurrent group builders)
      3. finalize: global terms dict + manifest commit
    On a cluster, phases 1 and 2 are what N vs 4N executors parallelize."""
    _check_build_options(sort_key, codec, word_break, positions, offsets, payloads)
    reject_null_metadata(spark.read.parquet(source) if isinstance(source, str) else source)
    t_start = time.time()
    # shuffle_width = physical task fan-out for the heavy stages; decoupled
    # from num_partitions (the logical segment count) so CPU-bound kernel
    # stages always use every core regardless of AQE coalescing
    width = shuffle_width or spark.sparkContext.defaultParallelism
    metrics = {"op": "build"}
    if num_groups > 1:
        # staging pays for itself by making every group job read only its
        # 1/G slice; with a single group it would be a pure extra
        # write+read of the corpus, so the group job scans source directly
        t0 = time.perf_counter()
        stage_corpus(spark, source, out_dir, num_partitions, num_groups, resume=resume)
        metrics["stage_s"] = round(time.perf_counter() - t0, 3)
        src_for_groups = None
    else:
        src_for_groups = (
            spark.read.parquet(source) if isinstance(source, str) else source
        )
    group_stats = []
    for g in range(num_groups):
        gs = build_group_job(
            spark, src_for_groups, out_dir, g, num_groups, num_partitions,
            width=width, positions=positions, resume=resume,
            stop_words=stop_words, char_filters=char_filters, codec=codec,
            word_break=word_break, offsets=offsets, payloads=payloads,
            sort_key=sort_key,
        )
        group_stats.append(gs)

    # global term dictionary (the OrdinalMap/global-terms analog,
    # clt/index/ordinal_map.rs): merge the per-group partials — the
    # postings-sized map side ran INSIDE each (parallel) group job, so
    # this serial tail is only O(vocab × groups), not O(postings)
    t0 = time.perf_counter()
    # every group job wrote its partial
    n_range = max(1, min(num_partitions // 8, 64))
    write_terms_dict(spark, term_partial_dirs(out_dir), os.path.join(out_dir, "terms"), n_range)
    metrics["terms_dict_s"] = round(time.perf_counter() - t0, 3)
    # flush_s and the per-store files/rows/bytes sum the group checkpoints
    # (a resumed group reports its original flush)
    metrics["flush_s"] = round(sum(gs.get("flush_s", 0.0) for gs in group_stats), 3)
    metrics["stores"] = _sum_stores(gs.get("stores", {}) for gs in group_stats)

    doc_count = sum(gs["doc_count"] for gs in group_stats)
    sum_ttf = sum(gs["sum_ttf"] for gs in group_stats)
    manifest = {
        "format_version": 2,  # v2: per-block competitive impacts (imp_tf/imp_dlq)
        "positions": bool(positions),
        "stop_words": sorted(stop_words) if stop_words else None,
        "word_break": word_break,
        "offsets": bool(offsets),
        "payloads": bool(payloads),
        "char_filters": [list(cf) for cf in char_filters] if char_filters else None,
        "codec": codec,
        "sort_key": sort_key,
        "payload_fn": _payload_name(payloads),
        "doc_count": doc_count,
        "sum_total_term_freq": sum_ttf,
        "num_partitions": num_partitions,
        "num_groups": num_groups,
        "segments": sorted(
            (s for gs in group_stats for s in gs["segments"]), key=lambda s: s["seg"]
        ),
        "content_sha256_xor": _xor_hexes(gs["content_sha256_xor"] for gs in group_stats),
        "build_wall_sec": round(time.time() - t_start, 3),
        "generation": _next_generation(out_dir),
        "files": ["postings", "norms", "docmap", "terms"],
        "metrics": metrics,
    }
    commit_manifest(out_dir, manifest)
    if cleanup_staged:
        # the staged corpus is build scaffolding — once the manifest is
        # committed it is never read again (resume re-stages if needed)
        import shutil

        shutil.rmtree(os.path.join(out_dir, "staged"), ignore_errors=True)
        for f in glob.glob(os.path.join(out_dir, "checkpoints", "stage_*.json")):
            os.remove(f)
    return manifest


def build_group_job(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    g: int,
    num_groups: int,
    num_partitions: int,
    width: int | None = None,
    positions: bool = False,
    resume: bool = True,
    stop_words=None,
    char_filters=None,
    codec: str = "for",
    word_break: str = "simple",
    offsets: bool = False,
    payloads=None,
    sort_key: str | None = None,
) -> dict:
    """Build exactly one checkpoint group and write its checkpoint — the
    unit of distributed work: independent group-builder processes (or a
    resumed driver) each run one of these; build_index(resume=True)
    afterwards finalizes terms + manifest from the checkpoints.

    Reads the group's staged slice (partition-pruned) when staging ran;
    falls back to scan+filter of `source` only when no staged data exists
    (legacy path — O(corpus) per group, avoid for multi-group builds)."""
    _check_build_options(sort_key, codec, word_break, positions, offsets, payloads)
    width = width or spark.sparkContext.defaultParallelism
    os.makedirs(os.path.join(out_dir, "checkpoints"), exist_ok=True)
    ck_path = os.path.join(out_dir, "checkpoints", f"group_{g}.json")
    if resume and os.path.exists(ck_path):
        with open(ck_path) as f:
            return json.load(f)
    docs = _staged_group(spark, out_dir, g)
    if docs is None:
        if source is None:
            # staging ran but this group received no rows (tiny corpus)
            if glob.glob(os.path.join(out_dir, "staged", "shard=*")):
                gs = {"group": g, "doc_count": 0, "sum_ttf": 0, "segments": [],
                      "content_sha256_xor": format(0, "016x")}
                with open(ck_path + ".tmp", "w") as f:
                    json.dump(gs, f)
                os.replace(ck_path + ".tmp", ck_path)
                return gs
            raise FileNotFoundError(f"no staged corpus under {out_dir}/staged")
        docs = with_partition(source, num_partitions)
        if num_groups > 1:
            docs = docs.filter(F.col("part") % num_groups == g)
    gs = _build_group(
        docs, out_dir, g, num_groups, width, positions=positions,
        stop_words=stop_words, char_filters=char_filters, codec=codec,
        word_break=word_break, offsets=offsets, payloads=payloads,
        sort_key=sort_key,
    )
    with open(ck_path + ".tmp", "w") as f:
        json.dump(gs, f)
    os.replace(ck_path + ".tmp", ck_path)  # atomic per-group checkpoint
    return gs


def _build_group(
    docs_with_part: DataFrame, out_dir: str, g: int, num_groups: int, width: int,
    positions: bool = False,
    postings_dirname: str = "postings",
    stop_words=None, char_filters=None, codec: str = "for",
    word_break: str = "simple", offsets: bool = False, payloads=None,
    sort_key: str | None = None,
    norms_dirname: str = "norms", docmap_dirname: str = "docmap",
) -> dict:
    """Build one checkpoint group from its (pre-filtered) slice of the
    corpus in ONE Spark job: the slice's content is hash-shuffled by part
    (no sort) straight into the flush tasks (_flush_partition), each of
    which holds complete segments, assigns their docIDs and writes their
    postings, norms, docmap and terms partial files itself; the driver
    collects one small row per segment and per file. The doc map reuses
    the staged per-row sha256 when present. The *_dirname arguments route
    the writes into the index's CURRENT store generations (merge
    compactions move stores to *_gN dirs; appends land beside them)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from lucene_rust_spark.functions.analysis import resolve_payload_fn

    names = {"postings": postings_dirname, "norms": norms_dirname,
             "docmap": docmap_dirname, "terms_partial": "terms_partial"}
    dirs = {k: os.path.join(out_dir, v, f"group={g}") for k, v in names.items()}
    # the group's files are replaced whole, as write.mode("overwrite") did:
    # an interrupted attempt's part or temp files must not survive a rerun
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cols = ["part", "repo", "path", "commit", "lang", "content"]
    if "content_sha256" in docs_with_part.columns:
        cols.append("content_sha256")
    routed = docs_with_part.select(*cols).repartition(width, "part")
    kernel_kw = dict(
        positions=positions,
        stop_words=frozenset(stop_words) if stop_words else None,
        char_filters=tuple(tuple(c) for c in char_filters) if char_filters else None,
        pfor=(codec == "pfor"), word_break=word_break, offsets=offsets,
        payload_fn=resolve_payload_fn(payloads)[0], sort_key=sort_key,
    )

    def flush(batches, _dirs=dirs, _kw=kernel_kw):
        return _flush_partition(batches, _dirs, **_kw)

    t0 = time.perf_counter()
    rows = routed.mapInArrow(flush, schema=from_arrow_schema(_flush_pa_schema())).collect()
    stores = {k: {"files": 0, "rows": 0, "bytes": 0} for k in dirs}
    segments = []
    for r in rows:
        if r["store"] is not None:
            st = stores[r["store"]]
            st["files"] += 1
            st["rows"] += r["rows"]
            st["bytes"] += r["bytes"]
            continue
        segments.append(
            {
                "seg": r["seg"],
                "max_doc": r["max_doc"],
                "sum_ttf": r["sum_ttf"],
                "doc_base": r["doc_base"],
                "del_count": 0,
                "content_sha256_xor": format(r["sha_xor"] & 0xFFFFFFFFFFFFFFFF, "016x"),
                "group": g,
            }
        )
    # a store no task wrote (no docs, or no tokens) gets one empty file,
    # as Spark's empty write did, so every group dir stays readable
    schemas = _store_schemas()
    for k, st in stores.items():
        if not st["files"]:
            st["files"] = 1
            st["bytes"] = _write_store(
                schemas[k].empty_table(), k, os.path.join(dirs[k], "part-00000.parquet"), 0
            )
    segments.sort(key=lambda s: s["seg"])
    return {
        "group": g,
        "doc_count": sum(s["max_doc"] for s in segments),
        "sum_ttf": sum(s["sum_ttf"] for s in segments),
        "segments": segments,
        "content_sha256_xor": _xor_hexes(s["content_sha256_xor"] for s in segments),
        "flush_s": round(time.perf_counter() - t0, 3),
        "stores": stores,
    }


def _sum_stores(per_group) -> dict:
    """Sum per-store {files, rows, bytes} counts over groups' flush stats."""
    out: dict = {}
    for stores in per_group:
        for k, st in stores.items():
            acc = out.setdefault(k, {"files": 0, "rows": 0, "bytes": 0})
            for f in acc:
                acc[f] += st[f]
    return out


def _payload_name(payloads) -> str | None:
    from lucene_rust_spark.functions.analysis import resolve_payload_fn

    return resolve_payload_fn(payloads)[1]


def _xor_hexes(hexes) -> str:
    """Order-independent roll-up of 64-bit hex digests (agg order in Spark
    is nondeterministic, so the combiner must be commutative)."""
    acc = 0
    for h in hexes:
        acc ^= int(h, 16)
    return format(acc & 0xFFFFFFFFFFFFFFFF, "016x")


def _next_generation(out_dir: str) -> int:
    m = read_manifest(out_dir)
    return (m["generation"] + 1) if m else 1
