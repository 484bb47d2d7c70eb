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

Everything stays JVM-side except three Arrow kernels: tokenize+count,
SmallFloat norm quantization (inside the same kernel), and block packing.
"""

from __future__ import annotations

import glob
import json
import os
import time

_DEBUG = bool(os.environ.get("LRS_BUILD_DEBUG"))


def _dbg(label, t0):
    if _DEBUG:
        print(f"[build] {label}: {time.time()-t0:.1f}s", flush=True)
    return time.time()

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.functions.analysis import tokenize_series, tokenize_spans_series
from lucene_rust_spark.index.manifest import commit_manifest, read_manifest

PARTITION_SHIFT = 40
NORM_TERM = ""  # sentinel term for norm blocks riding the DWPT output
                # (real terms are never empty: the tokenizer drops them)
DOCMAP_TERM = "\x01docmap"  # sentinel rows carrying the doc map as an Arrow
                            # IPC blob in docs_bin (tokens are \w+ runs, so
                            # a control char can never collide with a term)

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

_BLOCK_SCHEMA = (
    "term string, seg int, block_no int, n int, first_doc long, last_doc long, "
    "max_tf int, min_dlq int, sum_tf long, docs_bin binary, tfs_bin binary, "
    "dlq_bin binary, pos_bin binary, offs_bin binary, olen_bin binary, "
    "pay_bin binary, imp_tf array<int>, imp_dlq array<int>"
)


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
    """mapInArrow kernel — the DocumentsWriterPerThread analog
    (clt/index/mod.rs:33): this task holds complete segments (docs are
    hash-routed by part), accumulates per-doc term counts across Arrow
    batches, then sorts (term, seg, doc_id) ONCE in numpy and emits
    FOR-packed block rows. Only packed blocks leave the task, so the
    downstream shuffle carries ~n_postings/128 rows. Memory is bounded by
    the segment size (num_partitions is the flush-by-RAM knob).

    Norms ride the same output as NORM_TERM sentinel blocks (docs_bin =
    packed doc deltas, tfs_bin = packed exact dl, dlq_bin = norm bytes):
    one content pass produces postings AND norms, instead of a second
    full-corpus tokenize just to count tokens.

    docIDs are assigned HERE: the task holds complete segments, so the
    per-part rank is local. RecordBatches arrive with (part, repo, path,
    commit, lang, content[, content_sha256]) and no doc_id; pairs are
    counted against task-local row ids and remapped once the task's
    ordering (the oracle's canonical (part[, content_len], repo, path,
    commit) — Python string order == Spark's UTF8_BINARY, content_len in
    UTF-16 code units) is known. The doc map (doc_id, repo, path, commit,
    lang, content_sha256) leaves the task as one DOCMAP_TERM sentinel row
    holding an Arrow IPC blob, so ONE content pass and ONE (unsorted)
    content shuffle produce postings + norms + docmap."""
    import pyarrow as pa
    import pyarrow.compute as pc

    acc = []
    pos_acc = []
    ostart_acc, olen_acc, pay_acc = [], [], []
    norm_docs, norm_parts, norm_dls = [], [], []
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
        norm_docs.append(b_doc_ids)
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

    if row_base:
        # the task holds complete segments: assign docIDs with the oracle's
        # canonical ordering, then remap the task-local row ids everywhere
        part_all = np.concatenate(norm_parts).astype(np.int64)
        repo_all = np.concatenate(meta_repo)
        path_all = np.concatenate(meta_path)
        commit_all = np.concatenate(meta_commit)
        lang_all = np.concatenate(meta_lang)
        sha_all = np.concatenate(meta_sha)
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
        acc = [(doc_map[a0], a1, a2, a3, a4) for (a0, a1, a2, a3, a4) in acc]
        norm_docs = [doc_map[x] for x in norm_docs]
        dm = pa.record_batch(
            {
                "doc_id": pa.array(doc_map, type=pa.int64()),
                "repo": pa.array(repo_all, type=pa.string()),
                "path": pa.array(path_all, type=pa.string()),
                "commit": pa.array(commit_all, type=pa.string()),
                "lang": pa.array(lang_all, type=pa.string()),
                "content_sha256": pa.array(sha_all, type=pa.string()),
            }
        )
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, dm.schema) as w:
            w.write_batch(dm)
        yield pd.DataFrame(
            {
                "term": [DOCMAP_TERM],
                "seg": np.zeros(1, dtype=np.int32),
                "block_no": np.zeros(1, dtype=np.int32),
                "n": np.array([row_base], dtype=np.int32),
                "first_doc": np.zeros(1, dtype=np.int64),
                "last_doc": np.zeros(1, dtype=np.int64),
                "max_tf": np.zeros(1, dtype=np.int32),
                "min_dlq": np.zeros(1, dtype=np.int32),
                "sum_tf": np.zeros(1, dtype=np.int64),
                "docs_bin": [sink.getvalue().to_pybytes()],
                "tfs_bin": [b""],
                "dlq_bin": [b""],
                "pos_bin": [b""],
                "offs_bin": [b""],
                "olen_bin": [b""],
                "pay_bin": [b""],
                "imp_tf": [[]],
                "imp_dlq": [[]],
            }
        )

    # norm sentinel blocks — every doc, including token-less ones
    nd = np.concatenate(norm_docs) if norm_docs else np.zeros(0, dtype=np.int64)
    if len(nd):
        npart = np.concatenate(norm_parts).astype(np.int64)
        ndl = np.concatenate(norm_dls).astype(np.int64)
        ndlq = K.int_to_byte4(ndl).astype(np.int64)
        order_n = np.lexsort((nd, npart))
        out = _pack_runs(
            np.zeros(len(nd), dtype=np.int64)[order_n],
            npart[order_n],
            nd[order_n],
            ndl[order_n],
            ndlq[order_n],
            term_values=np.asarray([NORM_TERM], dtype=object),
            pfor=pfor,
        )
        if out is not None and len(out):
            yield out

    if not acc:
        return
    docs = np.concatenate([a[0] for a in acc])
    if len(docs) == 0:
        return
    # narrow dtypes (guide §2.3): codes/segs/tfs fit int32 and dlq is a
    # byte — halving the task's peak working set halves its first-touch
    # footprint on lazily-backed hosts (§2); _pack_runs widens locally
    # where the math needs it
    segs = np.concatenate([a[1] for a in acc]).astype(np.int32)
    dlqs = np.concatenate([a[2] for a in acc]).astype(np.uint8)
    codes = np.concatenate([a[3] for a in acc]).astype(np.int32)
    tfs = np.concatenate([a[4] for a in acc]).astype(np.int32)
    del acc
    # integer lexsort (term-code, seg, doc) — string order is applied later
    # by the global term-range shuffle, so code order inside a task is fine
    order = np.lexsort((docs, segs, codes))
    vocab_arr = np.asarray(vocab_list, dtype=object)
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
    out = _pack_runs(
        codes[order], segs[order], docs[order], tfs[order], dlqs[order],
        term_values=vocab_arr, pos_flat=pos_flat, pos_offsets=pos_offsets,
        pfor=pfor, off_start_flat=off_start_flat, off_len_flat=off_len_flat,
        pay_flat=pay_flat,
    )
    if out is not None and len(out):
        step = 65536
        for i in range(0, len(out), step):
            yield out.iloc[i : i + step]


def _block_pa_schema():
    """Arrow schema matching _BLOCK_SCHEMA (mapInArrow output contract)."""
    import pyarrow as pa

    return pa.schema(
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
    )


def _dwpt_partition_arrow(batches, **kw):
    """mapInArrow wrapper for _dwpt_partition: RecordBatches in (content
    never materialized as Python strings on the fast path), RecordBatches
    out."""
    import pyarrow as pa

    schema = _block_pa_schema()
    for out in _dwpt_partition(batches, **kw):
        yield pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)


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


def block_term_stats(blocks: DataFrame) -> DataFrame:
    """(term, doc_freq, total_term_freq, n_blocks) from postings block
    rows' metadata (n, sum_tf) — no decode. The map side of the terms
    dict: a group's partial, or the whole dict of merged postings."""
    return blocks.groupBy("term").agg(
        F.sum("n").cast("long").alias("doc_freq"),
        F.sum("sum_tf").cast("long").alias("total_term_freq"),
        F.count("*").cast("long").alias("n_blocks"),
    )


def sum_term_partials(spark: SparkSession, partial_dirs: list) -> DataFrame:
    """Sum the per-group terms partials (block_term_stats outputs) under
    partial_dirs into one (term, doc_freq, total_term_freq, n_blocks) row
    per term: groups hold disjoint docs, so df/ttf/blocks add up."""
    return spark.read.parquet(*partial_dirs).groupBy("term").agg(
        F.sum("doc_freq").cast("long").alias("doc_freq"),
        F.sum("total_term_freq").cast("long").alias("total_term_freq"),
        F.sum("n_blocks").cast("long").alias("n_blocks"),
    )


def write_terms_dict(agg: DataFrame, out_path: str, n_range_parts: int) -> None:
    """Write a term-sorted dict with dense global ordinals (OrdinalMap,
    clt/index/ordinal_map.rs:1-527). agg must have columns (term, doc_freq,
    total_term_freq, n_blocks). Range partitions are term-ordered, so
    ordinal = partition offset + local rank — two vocab-sized passes (local
    ranks, then per-partition counts collected to offsets), never a
    single-partition global sort. Shared by build finalize and streaming
    append so built and appended dicts keep one schema."""

    def _local_rank(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = 0
        for pdf in batches:
            pdf = pdf.assign(pid=pid, local_ord=np.arange(base, base + len(pdf)))
            base += len(pdf)
            yield pdf

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
    if num_groups > 1:
        # staging pays for itself by making every group job read only its
        # 1/G slice; with a single group it would be a pure extra
        # write+read of the corpus, so the group job scans source directly
        stage_corpus(spark, source, out_dir, num_partitions, num_groups, resume=resume)
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
    t_terms = time.time()
    # every group job that has docs wrote its partial
    partial_dirs = sorted(glob.glob(os.path.join(out_dir, "terms_partial", "group=*")))
    write_terms_dict(
        sum_term_partials(spark, partial_dirs),
        os.path.join(out_dir, "terms"),
        max(1, min(num_partitions // 8, 64)),
    )
    _dbg("terms", t_terms)

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


def _unpack_docmap_blocks(batches):
    """DOCMAP_TERM sentinel rows → docmap RecordBatches (inverse of the
    DWPT kernel's Arrow IPC serialization)."""
    import pyarrow as pa

    for rb in batches:
        col = rb.column("docs_bin")
        for i in range(len(col)):
            with pa.ipc.open_stream(col[i].as_py()) as reader:
                yield from reader


def _unpack_norm_blocks(batches):
    """Sentinel norm blocks → (doc_id, dl, dlq) rows."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        ns = pdf["n"].to_numpy(np.int64)
        docs_dec = K.for_unpack_batch(list(pdf["docs_bin"]), ns)
        dl_dec = K.for_unpack_batch(list(pdf["tfs_bin"]), ns)
        doc_parts, dl_parts, dlq_parts = [], [], []
        for ri, (fd, qb) in enumerate(zip(pdf["first_doc"], pdf["dlq_bin"])):
            docs = np.int64(fd) + np.cumsum(docs_dec[ri]).astype(np.int64)
            doc_parts.append(docs)
            dl_parts.append(dl_dec[ri].astype(np.int32))
            dlq_parts.append(np.frombuffer(bytes(qb), dtype=np.uint8).astype(np.int32))
        yield pd.DataFrame(
            {
                "doc_id": np.concatenate(doc_parts),
                "dl": np.concatenate(dl_parts),
                "dlq": np.concatenate(dlq_parts),
            }
        )


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
    corpus. The slice's content is read EXACTLY ONCE: it is hash-shuffled
    by part (no sort) straight into the DWPT kernel, which assigns docIDs
    locally (it holds complete segments) and emits postings, sentinel norm
    blocks and the doc map in one pass; the doc map reuses the staged
    per-row sha256 when present. postings_dirname routes the postings
    write into the index's CURRENT postings generation (streaming appends
    after a merge compaction)."""
    spark = docs_with_part.sparkSession

    def gdir(name: str) -> str:
        # route writes into the index's CURRENT store generations (merge
        # compactions move postings/norms/docmap to *_gN dirs; appends
        # must land beside them, not in the superseded originals)
        name = {"postings": postings_dirname, "norms": norms_dirname,
                "docmap": docmap_dirname}.get(name, name)
        return os.path.join(out_dir, name, f"group={g}")

    t = time.time()
    # ONE content shuffle (hash by part, no sort): each task holds
    # complete segments; the kernel assigns docIDs and emits postings,
    # norms AND the doc map in a single pass over the content
    cols = ["part", "repo", "path", "commit", "lang", "content"]
    if "content_sha256" in docs_with_part.columns:
        cols.append("content_sha256")
    routed = docs_with_part.select(*cols).repartition(width, "part")

    sw = frozenset(stop_words) if stop_words else None
    cf = tuple(tuple(c) for c in char_filters) if char_filters else None

    from lucene_rust_spark.functions.analysis import resolve_payload_fn

    pfn, _ = resolve_payload_fn(payloads)

    def dwpt(batches, _p=positions, _sw=sw, _cf=cf, _pf=(codec == "pfor"), _wb=word_break, _of=offsets, _pl=pfn, _sk=sort_key):
        return _dwpt_partition_arrow(
            batches, positions=_p, stop_words=_sw, char_filters=_cf, pfor=_pf,
            word_break=_wb, offsets=_of, payload_fn=_pl, sort_key=_sk,
        )

    # persist before repartitionByRange: the range sampling pass would
    # otherwise re-run the whole DWPT kernel a second time
    blocks = routed.mapInArrow(dwpt, schema=_BLOCK_SCHEMA).persist()
    if _DEBUG:
        blocks.count()
        t = _dbg("dwpt kernel (materialize)", t)
    # postings: packed blocks → ONE shuffle of block rows into global
    # term-range order (the hierarchical merge: Spark's range shuffle IS
    # the k-way term merge, SURVEY.md §2.3)
    sentinel = F.col("term").isin([NORM_TERM, DOCMAP_TERM])
    (
        blocks.filter(~sentinel)
        .repartitionByRange(width, "term")
        .sortWithinPartitions("term", "seg", "block_no")
        .write.mode("overwrite")
        .parquet(gdir("postings"))
    )
    if _DEBUG:
        t = _dbg("postings shuffle+write", t)
    # doc map: deserialize the kernel's IPC sentinel rows and lay out
    # by docID range (metadata-only shuffle)
    (
        blocks.filter(F.col("term") == DOCMAP_TERM)
        .select("docs_bin")
        .mapInArrow(
            _unpack_docmap_blocks,
            schema="doc_id long, repo string, path string, commit string,"
            " lang string, content_sha256 string",
        )
        .repartitionByRange(max(1, width // 4), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(gdir("docmap"))
    )
    if _DEBUG:
        t = _dbg("docmap write", t)
    # per-group terms partial (map side of the global dictionary agg,
    # computed here so it parallelizes across group builders and the
    # finalize tail only merges vocab-sized partials)
    block_term_stats(blocks.filter(~sentinel)).write.mode("overwrite").parquet(
        gdir("terms_partial")
    )
    if _DEBUG:
        t = _dbg("terms_partial", t)
    norm_blocks = blocks.filter(F.col("term") == NORM_TERM)
    (
        norm_blocks.select("n", "first_doc", "docs_bin", "tfs_bin", "dlq_bin")
        .mapInPandas(_unpack_norm_blocks, schema="doc_id long, dl int, dlq int")
        .repartitionByRange(max(1, width // 4), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(gdir("norms"))
    )
    if _DEBUG:
        t = _dbg("norms write", t)
    # per-segment total term freq straight from block metadata
    seg_ttf = {
        int(r["seg"]): int(r["ttf"])
        for r in norm_blocks.groupBy("seg").agg(F.sum("sum_tf").alias("ttf")).collect()
    }
    blocks.unpersist()
    t = _dbg("postings+norms", t)

    # the written docmap is KB-per-group metadata; part = docID high bits
    seg_rows = (
        spark.read.parquet(gdir("docmap"))
        .withColumn("part", F.shiftright("doc_id", PARTITION_SHIFT))
        .groupBy("part")
        .agg(
            F.count("*").alias("max_doc"),
            F.min("doc_id").alias("doc_base"),
            F.bit_xor(F.conv(F.substring("content_sha256", 1, 15), 16, 10).cast("long")).alias(
                "sha_xor"
            ),
        )
        .collect()
    )
    t = _dbg("seg_stats", t)
    segments = [
        {
            "seg": int(r["part"]),
            "max_doc": int(r["max_doc"]),
            "sum_ttf": seg_ttf.get(int(r["part"]), 0),
            "doc_base": int(r["doc_base"]),
            "del_count": 0,
            "content_sha256_xor": format(int(r["sha_xor"]) & 0xFFFFFFFFFFFFFFFF, "016x"),
            "group": g,
        }
        for r in sorted(seg_rows, key=lambda r: r["part"])
    ]
    return {
        "group": g,
        "doc_count": sum(s["max_doc"] for s in segments),
        "sum_ttf": sum(s["sum_ttf"] for s in segments),
        "segments": segments,
        "content_sha256_xor": _xor_hexes(s["content_sha256_xor"] for s in segments),
    }


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
