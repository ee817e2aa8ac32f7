"""SPIMI-style per-partition posting-list segment builder.

The reference's collator is a batch UDF that turns raw rows into a padded,
deduplicated columnar batch (reference angle_emb/angle.py:124-244); our
analog turns a *doc-range segment* of tokenized turns into sorted,
delta+varint-encoded posting blocks — all inside one Arrow-batched
applyInPandas, vectorized with numpy (no per-row Python).

Segment identity is data-derived (segment_id = doc_id // segment_docs),
NOT TaskContext-derived — so a rebuilt segment is byte-identical no matter
which executor builds it, which is what makes checkpoint/resume and the
kill/rerun test possible. Segments cover disjoint, ascending docID ranges,
so the global posting order per term is (segment_id, block_in_seg) with no
re-sort at merge time.

Block rows (one per <=BLOCK_SIZE docs of one term in one segment):
    term, segment_id, block_in_seg, first_doc, last_doc, n_postings,
    max_tf, min_dl, sum_tf, max_impact (idf-free BM25 bound for
    block-max WAND), docs_bin (delta+varint), tfs_bin (varint of tf-1),
    dls_bin (varint), pos_bin (positional indexes only, else empty)

max_impact is ADVISORY: it bakes in the avgdl at encode time, which goes
stale once streamed delta segments land (streaming/maintain.py). The
query side must — and query/wand.py does — recompute block bounds from
(max_tf, min_dl) with the CURRENT corpus avgdl before pruning on them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from angle_spark.codec import (
    B,
    BLOCK_SIZE,
    K1,
    encode_varints_with_lengths,
)
from angle_spark.index import schema

DEFAULT_SEGMENT_DOCS = 100_000


def _segment_blocks(
    pdf: pd.DataFrame, avgdl: float, block_size: int, positional: bool = False
) -> pd.DataFrame:
    """One segment's docs -> encoded posting block rows (pure pandas/numpy).

    positional=True additionally emits pos_bin: per posting, the 0-based
    token positions of the term within the doc, delta+varint with an
    absolute restart at each posting (decoded with the tf array as group
    lengths — codec.decode_positions). Off by default: positions roughly
    double index size and only phrase retrieval reads them."""
    empty = pd.DataFrame(
        {
            "term": pd.Series(dtype="string"),
            "segment_id": pd.Series(dtype="int64"),
            "block_in_seg": pd.Series(dtype="int32"),
            "first_doc": pd.Series(dtype="int64"),
            "last_doc": pd.Series(dtype="int64"),
            "n_postings": pd.Series(dtype="int32"),
            "max_tf": pd.Series(dtype="int32"),
            "min_dl": pd.Series(dtype="int64"),
            "sum_tf": pd.Series(dtype="int64"),
            "max_impact": pd.Series(dtype="float64"),
            "docs_bin": pd.Series(dtype=object),
            "tfs_bin": pd.Series(dtype=object),
            "dls_bin": pd.Series(dtype=object),
            "pos_bin": pd.Series(dtype=object),
        }
    )
    seg_id = int(pdf["segment_id"].iloc[0])
    lens = pdf["tokens"].map(len).to_numpy(dtype=np.int64)
    if lens.sum() == 0:
        return empty
    terms = np.concatenate(pdf["tokens"].to_numpy())
    docs = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens)
    dls = np.repeat(pdf["dl"].to_numpy(dtype=np.int64), lens)
    # 0-based position of each token within its doc (aligned with terms)
    row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    tok_pos = np.arange(len(terms), dtype=np.int64) - np.repeat(row_starts, lens)

    # factorize terms -> int codes; all grouping in pure numpy (a pandas
    # string-key groupby here is 10x slower — this is the executor hot loop)
    uniq_terms, codes = np.unique(terms, return_inverse=True)
    # np.lexsort is stable, so within a (code, doc) run token positions
    # stay ascending — which is what lets pos deltas encode unsigned
    order = np.lexsort((docs, codes))
    codes, docs, dls, tok_pos = codes[order], docs[order], dls[order], tok_pos[order]
    # run boundaries where (code, doc) changes -> tf = run length
    new_run = np.concatenate(
        ([True], (codes[1:] != codes[:-1]) | (docs[1:] != docs[:-1]))
    )
    starts = np.flatnonzero(new_run)
    tfs = np.diff(np.append(starts, len(codes)))
    p_codes, p_docs, p_dls = codes[starts], docs[starts], dls[starts]

    # block boundaries: every block_size postings within a term run
    n_post = len(p_codes)
    new_term = np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
    term_starts = np.flatnonzero(new_term)
    term_counts = np.diff(np.append(term_starts, n_post))
    pos_in_term = np.arange(n_post) - np.repeat(term_starts, term_counts)
    block_in_seg = pos_in_term // block_size
    new_block = new_term.copy()
    new_block[1:] |= block_in_seg[1:] != block_in_seg[:-1]
    bstart = np.flatnonzero(new_block)
    bend = np.append(bstart[1:], n_post)  # exclusive

    # delta-encode docIDs with an absolute restart at every block start
    deltas = np.diff(p_docs, prepend=np.int64(0))
    deltas[bstart] = p_docs[bstart]

    # ONE varint encode per stream per segment; blocks are byte slices
    docs_bytes, dlen = encode_varints_with_lengths(deltas.astype(np.uint64))
    tfs_bytes, tlen = encode_varints_with_lengths(tfs.astype(np.uint64) - np.uint64(1))
    dls_bytes, llen = encode_varints_with_lengths(p_dls.astype(np.uint64))
    doff = np.concatenate(([0], np.cumsum(dlen)))
    toff = np.concatenate(([0], np.cumsum(tlen)))
    loff = np.concatenate(([0], np.cumsum(llen)))

    # per-block aggregates, all reduceat (no per-term Python loop)
    imp = tfs.astype(np.float64)
    imp = imp * (K1 + 1.0) / (imp + K1 * (1.0 - B + B * p_dls.astype(np.float64) / avgdl))
    max_impact = np.maximum.reduceat(imp, bstart)
    max_tf = np.maximum.reduceat(tfs, bstart)
    min_dl = np.minimum.reduceat(p_dls, bstart)
    sum_tf = np.add.reduceat(tfs, bstart)

    mv_d, mv_t, mv_l = memoryview(docs_bytes), memoryview(tfs_bytes), memoryview(dls_bytes)
    docs_bin = [bytes(mv_d[doff[s] : doff[e]]) for s, e in zip(bstart, bend, strict=False)]
    tfs_bin = [bytes(mv_t[toff[s] : toff[e]]) for s, e in zip(bstart, bend, strict=False)]
    dls_bin = [bytes(mv_l[loff[s] : loff[e]]) for s, e in zip(bstart, bend, strict=False)]

    if positional:
        # per-posting position runs live in the TOKEN stream (length =
        # sum tf); delta with an absolute restart at every posting start
        pdeltas = np.diff(tok_pos, prepend=np.int64(0))
        pdeltas[starts] = tok_pos[starts]
        pos_bytes, plen = encode_varints_with_lengths(pdeltas.astype(np.uint64))
        # block b covers postings [bstart, bend) -> token range
        # [starts[bstart], starts[bend]) with a sentinel at the end
        tok_bound = np.append(starts, len(codes))
        poff = np.concatenate(([0], np.cumsum(plen)))
        mv_p = memoryview(pos_bytes)
        pos_bin = [
            bytes(mv_p[poff[tok_bound[s]] : poff[tok_bound[e]]])
            for s, e in zip(bstart, bend, strict=False)
        ]
    else:
        pos_bin = [b""] * len(bstart)

    return pd.DataFrame(
        {
            "term": uniq_terms[p_codes[bstart]],
            "segment_id": np.full(len(bstart), seg_id, dtype=np.int64),
            "block_in_seg": block_in_seg[bstart].astype(np.int32),
            "first_doc": p_docs[bstart],
            "last_doc": p_docs[bend - 1],
            "n_postings": (bend - bstart).astype(np.int32),
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int64),
            "sum_tf": sum_tf.astype(np.int64),
            "max_impact": max_impact,
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dls_bin": dls_bin,
            "pos_bin": pos_bin,
        }
    )


def _pa_binary_from_stream(stream: bytes, value_offsets: np.ndarray):
    """Zero-copy Arrow binary array over one encoded byte stream.

    Blocks partition the posting sequence, so consecutive blocks' byte
    extents are contiguous — the whole stream is ONE Arrow data buffer
    and the per-block slices are just an offsets array. No per-block
    ``bytes`` objects are ever materialized (guide §4.2: re-slice, don't
    copy)."""
    import pyarrow as pa

    offs = np.ascontiguousarray(value_offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        len(offs) - 1,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(stream)],
    )


def _segment_blocks_arrow(tbl, avgdl: float, block_size: int, positional: bool = False):
    """Arrow rendition of :func:`_segment_blocks` — value-identical block
    rows (possibly in a different row order; every writer sorts by
    (term, block_in_seg) before committing).

    Why it exists (guide §4.1/§4.2): applyInPandas materializes the
    ``tokens array<string>`` column as per-row Python lists of Python str
    objects — tens of millions of object allocations per build. The Arrow
    path keeps tokens in Arrow buffers end to end: ``flatten()`` is
    zero-copy, ``dictionary_encode`` factorizes terms in native code, and
    all grouping runs over the int32 code array. Term strings only
    surface for the final one-string-per-block column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _empty():
        return pa.table(
            {
                "term": pa.array([], type=pa.string()),
                "segment_id": pa.array([], type=pa.int64()),
                "block_in_seg": pa.array([], type=pa.int32()),
                "first_doc": pa.array([], type=pa.int64()),
                "last_doc": pa.array([], type=pa.int64()),
                "n_postings": pa.array([], type=pa.int32()),
                "max_tf": pa.array([], type=pa.int32()),
                "min_dl": pa.array([], type=pa.int64()),
                "sum_tf": pa.array([], type=pa.int64()),
                "max_impact": pa.array([], type=pa.float64()),
                "docs_bin": pa.array([], type=pa.binary()),
                "tfs_bin": pa.array([], type=pa.binary()),
                "dls_bin": pa.array([], type=pa.binary()),
                "pos_bin": pa.array([], type=pa.binary()),
            }
        )

    if tbl.num_rows == 0:
        return _empty()
    seg_id = tbl.column("segment_id")[0].as_py()
    toks = tbl.column("tokens").combine_chunks()
    doc_np = tbl.column("doc_id").to_numpy().astype(np.int64)
    dl_np = tbl.column("dl").to_numpy().astype(np.int64)
    lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens.astype(np.float64)).astype(np.int64)
    if lens.sum() == 0:
        return _empty()
    flat = toks.flatten()
    dic = flat.dictionary_encode()
    codes = dic.indices.to_numpy().astype(np.int64)
    uniq = dic.dictionary
    docs = np.repeat(doc_np, lens)
    dls = np.repeat(dl_np, lens)
    row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    tok_pos = np.arange(len(codes), dtype=np.int64) - np.repeat(row_starts, lens)

    order = np.lexsort((docs, codes))
    codes, docs, dls, tok_pos = codes[order], docs[order], dls[order], tok_pos[order]
    new_run = np.concatenate(
        ([True], (codes[1:] != codes[:-1]) | (docs[1:] != docs[:-1]))
    )
    starts = np.flatnonzero(new_run)
    tfs = np.diff(np.append(starts, len(codes)))
    p_codes, p_docs, p_dls = codes[starts], docs[starts], dls[starts]

    n_post = len(p_codes)
    new_term = np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
    term_starts = np.flatnonzero(new_term)
    term_counts = np.diff(np.append(term_starts, n_post))
    pos_in_term = np.arange(n_post) - np.repeat(term_starts, term_counts)
    block_in_seg = pos_in_term // block_size
    new_block = new_term.copy()
    new_block[1:] |= block_in_seg[1:] != block_in_seg[:-1]
    bstart = np.flatnonzero(new_block)
    bend = np.append(bstart[1:], n_post)

    deltas = np.diff(p_docs, prepend=np.int64(0))
    deltas[bstart] = p_docs[bstart]

    docs_bytes, dlen = encode_varints_with_lengths(deltas.astype(np.uint64))
    tfs_bytes, tlen = encode_varints_with_lengths(tfs.astype(np.uint64) - np.uint64(1))
    dls_bytes, llen = encode_varints_with_lengths(p_dls.astype(np.uint64))
    doff = np.concatenate(([0], np.cumsum(dlen)))
    toff = np.concatenate(([0], np.cumsum(tlen)))
    loff = np.concatenate(([0], np.cumsum(llen)))

    imp = tfs.astype(np.float64)
    imp = imp * (K1 + 1.0) / (imp + K1 * (1.0 - B + B * p_dls.astype(np.float64) / avgdl))
    max_impact = np.maximum.reduceat(imp, bstart)
    max_tf = np.maximum.reduceat(tfs, bstart)
    min_dl = np.minimum.reduceat(p_dls, bstart)
    sum_tf = np.add.reduceat(tfs, bstart)

    bbound = np.append(bstart, n_post)
    docs_bin = _pa_binary_from_stream(docs_bytes, doff[bbound])
    tfs_bin = _pa_binary_from_stream(tfs_bytes, toff[bbound])
    dls_bin = _pa_binary_from_stream(dls_bytes, loff[bbound])

    if positional:
        pdeltas = np.diff(tok_pos, prepend=np.int64(0))
        pdeltas[starts] = tok_pos[starts]
        pos_bytes, plen = encode_varints_with_lengths(pdeltas.astype(np.uint64))
        tok_bound = np.append(starts, len(codes))
        poff = np.concatenate(([0], np.cumsum(plen)))
        pos_bin = _pa_binary_from_stream(pos_bytes, poff[tok_bound[bbound]])
    else:
        pos_bin = _pa_binary_from_stream(b"", np.zeros(len(bstart) + 1, dtype=np.int32))

    return pa.table(
        {
            "term": pc.take(uniq, pa.array(p_codes[bstart], type=pa.int64())).cast(
                pa.string()
            ),
            "segment_id": pa.array(
                np.full(len(bstart), seg_id, dtype=np.int64), type=pa.int64()
            ),
            "block_in_seg": pa.array(
                block_in_seg[bstart].astype(np.int32), type=pa.int32()
            ),
            "first_doc": pa.array(p_docs[bstart], type=pa.int64()),
            "last_doc": pa.array(p_docs[bend - 1], type=pa.int64()),
            "n_postings": pa.array((bend - bstart).astype(np.int32), type=pa.int32()),
            "max_tf": pa.array(max_tf.astype(np.int32), type=pa.int32()),
            "min_dl": pa.array(min_dl.astype(np.int64), type=pa.int64()),
            "sum_tf": pa.array(sum_tf.astype(np.int64), type=pa.int64()),
            "max_impact": pa.array(max_impact, type=pa.float64()),
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dls_bin": dls_bin,
            "pos_bin": pos_bin,
        }
    )


def _by_segment(docs: DataFrame, segment_docs: int):
    """docs(doc_id, tokens, dl) grouped by their segment: uniform
    doc-count slices, so the shuffle is unskewed regardless of term skew
    (skew shows up only as bigger posting lists *within* a segment,
    which blocks cap at block_size docs each)."""
    return docs.select(
        "doc_id",
        "tokens",
        "dl",
        (F.col("doc_id") / F.lit(segment_docs)).cast("long").alias("segment_id"),
    ).groupBy("segment_id")


def build_segments(
    docs: DataFrame,
    avgdl: float,
    segment_docs: int = DEFAULT_SEGMENT_DOCS,
    block_size: int = BLOCK_SIZE,
    positional: bool = False,
) -> DataFrame:
    """docs(doc_id, tokens, dl) -> encoded block rows.

    groupBy(segment_id).applyInArrow gives each segment to exactly one
    task. The per-segment encoder is the Arrow rendition
    (_segment_blocks_arrow) — value-identical to the pandas rendition
    (_segment_blocks, kept as the cross-checked reference), without ever
    materializing the token strings as Python objects (guide §4).
    """

    def fn(key, tbl):
        return _segment_blocks_arrow(tbl, avgdl, block_size, positional)

    return _by_segment(docs, segment_docs).applyInArrow(fn, schema=schema.BLOCKS)


# per-segment lineage facts, known to the encoder once a segment's
# blocks exist; hi is the segment's largest docID with a token
_STATS_FIELDS = ("segment_id", "term_count", "bytes", "token_count", "hi")
_SEG_STATS = ", ".join(f"{f}: bigint" for f in _STATS_FIELDS)


def _with_segment_stats(blocks):
    """``blocks`` (one segment's encoder output) plus a ``seg_stats``
    struct column: the segment's stats on the first row, null on the
    rest — so one collect_list over the column yields one struct per
    segment, at a per-row cost that does not grow with the segment count."""
    import pyarrow as pa
    import pyarrow.compute as pc

    typ = pa.struct([(f, pa.int64()) for f in _STATS_FIELDS])
    n = blocks.num_rows
    if not n:
        return blocks.append_column("seg_stats", pa.nulls(0, typ))
    bins = ("docs_bin", "tfs_bin", "dls_bin", "pos_bin")
    first = (
        blocks.column("segment_id")[0].as_py(),
        # a term's blocks are numbered 0.. within its segment
        pc.sum(pc.equal(blocks.column("block_in_seg"), 0)).as_py(),
        sum(pc.sum(pc.binary_length(blocks.column(c))).as_py() or 0 for c in bins),
        pc.sum(blocks.column("sum_tf")).as_py(),
        pc.max(blocks.column("last_doc")).as_py(),
    )
    kids = [pa.array(np.r_[v, np.zeros(n - 1, dtype=np.int64)]) for v in first]
    null = np.ones(n, dtype=bool)
    null[0] = False
    stats = pa.StructArray.from_arrays(kids, fields=list(typ), mask=pa.array(null))
    return blocks.append_column("seg_stats", stats)


def write_segments(
    docs: DataFrame,
    avgdl: float,
    segment_docs: int,
    block_size: int,
    positional: bool,
    path: str,
    fmt: str,
    mode: str,
) -> dict:
    """Encode docs(doc_id, tokens, dl) into segment blocks, write them
    under ``path`` partitioned by segment_id, and return the lineage
    facts of every segment written: ``{segment_id: Row(segment_id,
    term_count, bytes, token_count, hi)}``.

    The facts come back from the write job itself: the encoder attaches
    them to each segment's first block row, a Spark ``Observation``
    collects them as the rows stream into the writer, and the column is
    dropped before it reaches the files. So the tokenize and encode run
    once per write — no re-read of the committed files and no second
    execution of the encode to aggregate lineage. A segment whose docs
    have no tokens writes no blocks and has no entry (its facts are 0).
    A task retry re-observes the same deterministic struct, so the map
    keyed by segment_id is exact either way."""
    from pyspark.sql import Observation

    from angle_spark.index.build import _write

    def fn(key, tbl):
        return _with_segment_stats(_segment_blocks_arrow(tbl, avgdl, block_size, positional))

    blocks = _by_segment(docs, segment_docs).applyInArrow(
        fn, schema=f"{schema.BLOCKS}, seg_stats struct<{_SEG_STATS}>"
    )
    obs = Observation()
    observed = blocks.observe(obs, F.collect_list("seg_stats").alias("seg_stats"))
    # write STRAIGHT from the applyInArrow output: each grouped task
    # already holds whole segments (the groupBy(segment_id) shuffle IS
    # the partitioning). The leading segment_id sort key keeps one open
    # file per partition dir during the dynamic-partition write;
    # (term, block_in_seg) after it preserves the row-group min/max term
    # stats the query scan prunes on.
    _write(
        observed.drop("seg_stats").sortWithinPartitions(
            "segment_id", "term", "block_in_seg"
        ),
        path,
        fmt,
        mode,
        partition_by=["segment_id"],
    )
    return {int(r["segment_id"]): r for r in obs.get["seg_stats"]}


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """block row -> (doc_ids, tfs, dls); used by the WAND scorer and tests."""
    from angle_spark.codec import decode_doc_deltas, decode_tfs, decode_varints

    return (
        decode_doc_deltas(row["docs_bin"]),
        decode_tfs(row["tfs_bin"]),
        decode_varints(row["dls_bin"]).astype(np.int64),
    )
