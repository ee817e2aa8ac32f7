"""Resegment an index in place of a rebuild (the ES ``_shrink`` /
``_split`` APIs, Lucene addIndexes/forceMerge re-layout).

Changes the index's segment granularity (``segment_docs``) WITHOUT the
corpus: postings are decoded from the existing blocks, regrouped by the
new data-derived segment boundary (segment_id = doc_id // segment_docs —
the same rule the builder uses), and re-encoded into <=block_size
posting blocks. Because docIDs are dense and segments are doc ranges,
the output is BYTE-IDENTICAL to what a fresh build at the new
``segment_docs`` would produce (tests assert bitwise block equality) —
but the job reads O(index) instead of O(corpus) and never tokenizes:
at transcript scale the index is the compressed minority of the bytes,
and re-tokenization is the dominant build cost being skipped.

Shape: one mapInArrow decode pass straight off the Arrow column buffers
(_decode_slices_arrow; each block splits into its new-segment slices — a
block can span a boundary only when splitting to SMALLER segments), one
shuffle keyed (new segment, term-hash bucket), one applyInPandas
re-encode vectorized across the bucket's terms.
No driver collect, no corpus scan. Shrinking
(fewer, larger segments) is the ES _shrink direction — fewer tasks per
query batch, bigger per-task decode cache reuse; splitting (_split) is
the parallelism-raising direction for an index that outgrew its layout.

The destination is written as a fully-merged index (merged/ +
term_stats/ + lineage + corpus_stats.json, merged_docs == n_docs):
resegmenting is compaction-class maintenance, so folding any delta
state is required anyway — callers compact first (merge_index) if
delta runs exist; this function refuses otherwise rather than silently
dropping them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark import fsio
from angle_spark.codec import (
    B,
    K1,
    decode_doc_deltas,
    decode_positions,
    decode_tfs,
    decode_varints,
    encode_varints_with_lengths,
)
from angle_spark.index import schema
from angle_spark.index.build import (
    IndexMeta,
    _merged_layout,
    _read_table,
    _write,
    load_index,
)

_SLICE_SCHEMA = (
    "term string, segment_id long, first_doc long, "
    "docs_raw binary, tfs_raw binary, dls_raw binary, pos_raw binary"
)


def _bin_col_view(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow binary column -> (flat uint8 data, cumulative per-row end
    byte offsets), zero-copy — the input shape of
    codec.decode_varints_concat_bounds. ``large_binary`` (what Spark
    sends under spark.sql.execution.arrow.useLargeVarTypes=true) carries
    int64 offsets; any other type raises instead of being misread."""
    import pyarrow as pa

    col = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if pa.types.is_large_binary(col.type):
        off_type = np.int64
    elif pa.types.is_binary(col.type):
        off_type = np.int32
    else:
        raise TypeError(f"expected an Arrow binary column, got {col.type}")
    off = np.frombuffer(col.buffers()[1], dtype=off_type)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return data[off[0] : off[-1]], off[1:] - off[0]


def _decode_slices_arrow(it, segment_docs_new: int, positional: bool):
    """mapInArrow pass 1: block rows -> per-(term, new segment) decoded
    posting slices (raw int64 arrays — transient shuffle payload).

    Vectorized across each Arrow batch's blocks (guide §4.2 — the pandas
    rendition below loops ``itertuples`` with per-block decode calls):
    every stream family decodes in ONE concat pass straight off the
    Arrow column buffers, and the slice payloads go back out as ONE data
    buffer + offsets per stream (no per-slice ``bytes`` objects)."""
    import pyarrow as pa

    from angle_spark.codec import (
        decode_doc_deltas_concat_bounds,
        decode_varints_concat_bounds,
    )
    from angle_spark.index.spimi import _pa_binary_from_stream

    out_fields = [
        ("term", pa.string()), ("segment_id", pa.int64()),
        ("first_doc", pa.int64()), ("docs_raw", pa.binary()),
        ("tfs_raw", pa.binary()), ("dls_raw", pa.binary()),
        ("pos_raw", pa.binary()),
    ]
    for batch in it:
        if batch.num_rows == 0:
            continue
        names = batch.schema.names
        col = {n: batch.column(names.index(n)) for n in names}
        docs, dcounts = decode_doc_deltas_concat_bounds(
            *_bin_col_view(col["docs_bin"])
        )
        n = len(docs)
        if n == 0:
            continue
        tfs, _ = decode_varints_concat_bounds(*_bin_col_view(col["tfs_bin"]))
        tfs = tfs.astype(np.int64) + 1
        dls, _ = decode_varints_concat_bounds(*_bin_col_view(col["dls_bin"]))
        dls = dls.astype(np.int64)
        if positional:
            pdeltas, _ = decode_varints_concat_bounds(
                *_bin_col_view(col["pos_bin"])
            )
            # positions restart absolute at every posting
            pbounds = np.concatenate(([0], np.cumsum(tfs)))
            pcs = np.cumsum(pdeltas.astype(np.int64))
            pcarry = np.zeros(n, dtype=np.int64)
            if n > 1:
                pcarry[1:] = pcs[pbounds[1:-1] - 1]
            pos = pcs - np.repeat(pcarry, tfs)

        segs = docs // segment_docs_new
        blk = np.repeat(np.arange(len(dcounts), dtype=np.int64), dcounts)
        newslice = np.ones(n, dtype=bool)
        newslice[1:] = (blk[1:] != blk[:-1]) | (segs[1:] != segs[:-1])
        s_start = np.flatnonzero(newslice)
        s_bound = np.append(s_start, n)

        arrays = [
            col["term"].take(pa.array(blk[s_start], type=pa.int64())),
            pa.array(segs[s_start], type=pa.int64()),
            pa.array(docs[s_start], type=pa.int64()),
            _pa_binary_from_stream(docs.tobytes(), s_bound * 8),
            _pa_binary_from_stream(tfs.tobytes(), s_bound * 8),
            _pa_binary_from_stream(dls.tobytes(), s_bound * 8),
            _pa_binary_from_stream(
                pos.tobytes(), pbounds[s_bound] * 8
            )
            if positional
            else _pa_binary_from_stream(
                b"", np.zeros(len(s_start) + 1, dtype=np.int32)
            ),
        ]
        yield pa.record_batch(
            arrays, schema=pa.schema(out_fields)
        )


def _decode_slices(
    it, segment_docs_new: int, positional: bool
):
    """mapInPandas pass 1: block rows -> per-(term, new segment) decoded
    posting slices. Reference rendition — production uses
    _decode_slices_arrow (value-identical; unit-pinned in
    tests/test_r06_vectorized_internals.py)."""
    for pdf in it:
        out = {
            "term": [],
            "segment_id": [],
            "first_doc": [],
            "docs_raw": [],
            "tfs_raw": [],
            "dls_raw": [],
            "pos_raw": [],
        }
        for row in pdf.itertuples(index=False):
            docs = decode_doc_deltas(row.docs_bin)
            tfs = decode_tfs(row.tfs_bin).astype(np.int64)
            dls = decode_varints(row.dls_bin).astype(np.int64)
            if positional:
                pos, pbounds = decode_positions(row.pos_bin, tfs)
                pos = pos.astype(np.int64)
            segs = docs // segment_docs_new
            # boundaries where the new segment changes (docs ascending)
            cut = np.flatnonzero(np.diff(segs)) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(docs)]))
            for s, e in zip(starts, ends, strict=False):
                out["term"].append(row.term)
                out["segment_id"].append(int(segs[s]))
                out["first_doc"].append(int(docs[s]))
                out["docs_raw"].append(docs[s:e].tobytes())
                out["tfs_raw"].append(tfs[s:e].tobytes())
                out["dls_raw"].append(dls[s:e].tobytes())
                out["pos_raw"].append(
                    pos[pbounds[s] : pbounds[e]].tobytes()
                    if positional
                    else b""
                )
        yield pd.DataFrame(out)


# term-hash buckets per new segment for the re-encode grouping: block
# bytes depend only on a term's OWN postings, so the grouping granularity
# is free — coarse enough to amortize per-group pandas overhead, fine
# enough to keep every core busy (segments x 128 groups)
ENCODE_TERM_BUCKETS = 128


def _encode_bucket(
    key, pdf: pd.DataFrame, avgdl: float, block_size: int, positional: bool
) -> pd.DataFrame:
    """applyInPandas pass 2: ONE (new segment, term-hash bucket)'s slices
    -> re-encoded posting blocks for EVERY term in the bucket,
    bit-identical to a fresh build's (same block boundaries, same delta
    restarts, same aggregates — tests assert bitwise equality).

    Vectorized across terms (r6, guide §4.1): the round-5 shape keyed the
    group on (term, new segment) — one applyInPandas group per vocabulary
    term per segment, whose per-group overhead dominated the stage
    (probe: 109k groups / 40k docs, encode ~6s of the 8s leg). Grouping
    by (segment, term-hash bucket) amortizes that overhead ~128x; the
    encode itself is the same one-varint-pass-per-stream block math as
    the SPIMI builder (index/spimi.py _segment_blocks)."""
    seg_id = int(key[0])
    pdf = pdf.sort_values(["term", "first_doc"], kind="mergesort")
    row_lens = (pdf["docs_raw"].str.len() // 8).to_numpy(np.int64)
    docs = np.frombuffer(b"".join(pdf["docs_raw"]), dtype=np.int64)
    tfs = np.frombuffer(b"".join(pdf["tfs_raw"]), dtype=np.int64)
    dls = np.frombuffer(b"".join(pdf["dls_raw"]), dtype=np.int64)
    terms = pdf["term"].to_numpy()
    n = len(docs)

    # per-posting term codes from the sorted per-slice terms
    tchange = np.concatenate(([True], terms[1:] != terms[:-1]))
    uniq = terms[tchange]
    p_codes = np.repeat(np.cumsum(tchange) - 1, row_lens)

    # blockization identical to the SPIMI encoder
    new_term = np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
    term_starts = np.flatnonzero(new_term)
    term_counts = np.diff(np.append(term_starts, n))
    pos_in_term = np.arange(n, dtype=np.int64) - np.repeat(term_starts, term_counts)
    block_in_seg = pos_in_term // block_size
    new_block = new_term.copy()
    new_block[1:] |= block_in_seg[1:] != block_in_seg[:-1]
    bstart = np.flatnonzero(new_block)
    bend = np.append(bstart[1:], n)

    deltas = np.diff(docs, prepend=np.int64(0))
    deltas[bstart] = docs[bstart]
    docs_bytes, dlen = encode_varints_with_lengths(deltas.astype(np.uint64))
    tfs_bytes, tlen = encode_varints_with_lengths(
        tfs.astype(np.uint64) - np.uint64(1)
    )
    dls_bytes, llen = encode_varints_with_lengths(dls.astype(np.uint64))
    doff = np.concatenate(([0], np.cumsum(dlen)))
    toff = np.concatenate(([0], np.cumsum(tlen)))
    loff = np.concatenate(([0], np.cumsum(llen)))
    mv_d = memoryview(docs_bytes)
    mv_t = memoryview(tfs_bytes)
    mv_l = memoryview(dls_bytes)
    docs_bin = [bytes(mv_d[doff[s] : doff[e]]) for s, e in zip(bstart, bend, strict=False)]
    tfs_bin = [bytes(mv_t[toff[s] : toff[e]]) for s, e in zip(bstart, bend, strict=False)]
    dls_bin = [bytes(mv_l[loff[s] : loff[e]]) for s, e in zip(bstart, bend, strict=False)]

    if positional:
        pos = np.frombuffer(b"".join(pdf["pos_raw"]), dtype=np.int64)
        pstarts = np.concatenate(([0], np.cumsum(tfs)))  # posting starts
        pdeltas = np.diff(pos, prepend=np.int64(0))
        pdeltas[pstarts[:-1]] = pos[pstarts[:-1]]
        pos_bytes, plen = encode_varints_with_lengths(pdeltas.astype(np.uint64))
        poff = np.concatenate(([0], np.cumsum(plen)))
        mv_p = memoryview(pos_bytes)
        pos_bin = [
            bytes(mv_p[poff[pstarts[s]] : poff[pstarts[e]]])
            for s, e in zip(bstart, bend, strict=False)
        ]
    else:
        pos_bin = [b""] * len(bstart)

    imp = tfs.astype(np.float64)
    imp = imp * (K1 + 1.0) / (
        imp + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl)
    )
    return pd.DataFrame(
        {
            "term": uniq[p_codes[bstart]],
            "segment_id": np.full(len(bstart), seg_id, dtype=np.int64),
            "block_in_seg": block_in_seg[bstart].astype(np.int32),
            "first_doc": docs[bstart],
            "last_doc": docs[bend - 1],
            "n_postings": (bend - bstart).astype(np.int32),
            "max_tf": np.maximum.reduceat(tfs, bstart).astype(np.int32),
            "min_dl": np.minimum.reduceat(dls, bstart).astype(np.int64),
            "sum_tf": np.add.reduceat(tfs, bstart).astype(np.int64),
            "max_impact": np.maximum.reduceat(imp, bstart),
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dls_bin": dls_bin,
            "pos_bin": pos_bin,
        }
    )


def resegment_index(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    segment_docs_new: int,
) -> IndexMeta:
    """src index -> dst index with the new segment granularity.

    dst is byte-identical (blocks and term_stats) to a fresh
    build_index(..., segment_docs=segment_docs_new) of the same corpus,
    produced from the INDEX alone. Refuses a source with unfolded delta
    runs or unmerged streamed segments — compact first (merge_index);
    silently folding them here would duplicate compaction logic."""
    if segment_docs_new < 1:
        raise ValueError(f"segment_docs must be >= 1, got {segment_docs_new}")
    merged, tstats, meta = load_index(spark, src_dir)
    if meta.delta_runs or (0 < meta.merged_docs < meta.n_docs):
        raise ValueError(
            "source index has unmerged delta state — run "
            "merge_index(spark, src_dir, meta) before resegmenting"
        )
    positional = bool(getattr(meta, "positional", False))
    sd = int(segment_docs_new)

    slices = merged.mapInArrow(
        lambda it: _decode_slices_arrow(it, sd, positional), schema=_SLICE_SCHEMA
    ).withColumn(
        "_tb", F.pmod(F.xxhash64("term"), F.lit(ENCODE_TERM_BUCKETS))
    )
    blocks = slices.groupBy("segment_id", "_tb").applyInPandas(
        lambda key, pdf: _encode_bucket(
            key, pdf, meta.avgdl, meta.block_size, positional
        ),
        schema=schema.BLOCKS,
    )

    fsio.mkdirs(spark, dst_dir)
    fmt = meta.sink_format
    # _merged_layout (not repartitionByRange): the range partitioner's
    # sampling pass re-executed the whole re-encode stage a second time
    # (2x _encode_run invocations, probe-verified r6); the deterministic
    # bucket-hash layout needs no sampling, so decode+re-encode run once.
    _write(
        _merged_layout(blocks),
        os.path.join(dst_dir, "merged"),
        fmt,
        "overwrite",
    )
    new_merged = _read_table(
        spark, os.path.join(dst_dir, "merged"), fmt, schema.BLOCKS
    )
    # df/cf are segmentation-invariant — recomputed from the written
    # blocks as the cheap self-check the merge path also uses
    _write(
        new_merged.groupBy("term").agg(
            F.sum("n_postings").alias("df"), F.sum("sum_tf").alias("cf")
        ),
        os.path.join(dst_dir, "term_stats"),
        fmt,
        "overwrite",
    )
    # lineage: docIDs are dense, so per-new-segment doc counts are
    # arithmetic; term/byte counts aggregate from the written blocks
    n_segments = (meta.n_docs + sd - 1) // sd
    doc_counts = spark.createDataFrame(
        [
            (s, min((s + 1) * sd, meta.n_docs) - s * sd)
            for s in range(n_segments)
        ],
        schema="segment_id long, doc_count long",
    )
    lin = (
        new_merged.groupBy("segment_id")
        .agg(
            F.count_distinct("term").alias("term_count"),
            F.sum(
                F.octet_length("docs_bin")
                + F.octet_length("tfs_bin")
                + F.octet_length("dls_bin")
                + F.octet_length("pos_bin")
            ).alias("bytes"),
            F.sum("sum_tf").alias("token_count"),
        )
        .join(doc_counts, "segment_id", "right")
        .select(
            F.col("segment_id").alias("partition_id"),
            "doc_count",
            F.coalesce("term_count", F.lit(0)).alias("term_count"),
            F.coalesce("bytes", F.lit(0)).alias("bytes"),
            F.lit(0).alias("wall_ms"),
            F.current_timestamp().alias("commit_ts"),
            F.coalesce("token_count", F.lit(0)).alias("token_count"),
        )
    )
    _write(lin, os.path.join(dst_dir, "lineage"), fmt, "overwrite")

    new_meta = IndexMeta(**{**meta.__dict__, "scoring_docs": None})
    new_meta.segment_docs = sd
    new_meta.merged_docs = meta.n_docs
    new_meta.stats_docs = meta.n_docs
    new_meta.delta_runs = []
    new_meta.retired_runs = []
    fsio.write_text(
        spark,
        os.path.join(dst_dir, "corpus_stats.json"),
        json.dumps(new_meta.__dict__),
    )
    return new_meta
