"""Round-6 optimization guards: the vectorized internals must be
value-identical to the (slower) reference renditions they replaced.

- _segment_blocks_arrow (index/spimi.py) vs _segment_blocks: the Arrow
  encoder is the build hot path; the pandas rendition stays as the
  cross-checked reference.
- _purge_blocks (index/deletes.py): the Arrow purge rewrite vs a
  straight re-derivation from decoded postings.
- _bin_col_view (index/resegment.py): the zero-copy buffer view reads
  both Arrow binary offset widths and refuses anything else.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from angle_spark.codec import (
    decode_doc_deltas,
    decode_positions,
    decode_tfs,
    decode_varints,
)
from angle_spark.index.deletes import _purge_blocks
from angle_spark.index.spimi import _segment_blocks, _segment_blocks_arrow


def _rand_docs(rng, n_docs, vocab=40, max_len=30):
    toks = []
    for _ in range(n_docs):
        n = int(rng.integers(0, max_len))
        toks.append([f"w{j:03d}" for j in rng.integers(0, vocab, size=n)])
    return pd.DataFrame(
        {
            "doc_id": np.arange(50, 50 + n_docs, dtype=np.int64),
            "tokens": toks,
            "dl": [len(t) for t in toks],
            "segment_id": np.full(n_docs, 2, dtype=np.int64),
        }
    )


@pytest.mark.parametrize("positional", [False, True])
def test_arrow_spimi_matches_pandas_reference(positional):
    rng = np.random.default_rng(11)
    pdf = _rand_docs(rng, 300)
    tbl = pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"]),
            "tokens": pa.array(list(pdf["tokens"]), type=pa.list_(pa.string())),
            "dl": pa.array(pdf["dl"], type=pa.int64()),
            "segment_id": pa.array(pdf["segment_id"]),
        }
    )
    a = (
        _segment_blocks(pdf, 12.5, 16, positional)
        .sort_values(["term", "block_in_seg"])
        .reset_index(drop=True)
    )
    b = (
        _segment_blocks_arrow(tbl, 12.5, 16, positional)
        .to_pandas()
        .sort_values(["term", "block_in_seg"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    for col in a.columns:
        assert list(a[col]) == list(b[col]), col


def test_purge_block_rows_matches_reference():
    rng = np.random.default_rng(23)
    pdf = _rand_docs(rng, 400)
    blocks = _segment_blocks(pdf, 14.0, 16, positional=True)
    # tombstone a scattered ~10% of the docID space
    deleted = np.sort(
        rng.choice(np.arange(50, 450, dtype=np.int64), size=40, replace=False)
    )
    out = _purge_blocks(
        pa.Table.from_pandas(blocks, preserve_index=False),
        pa.table({"doc_id": deleted}),
        14.0,
        positional=True,
    ).to_pandas()

    # reference: re-derive every surviving block row from decoded postings
    ref_rows = 0
    out_by_key = {
        (r["term"], int(r["block_in_seg"])): r for _, r in out.iterrows()
    }
    for _, row in blocks.iterrows():
        d = decode_doc_deltas(row["docs_bin"])
        tf = decode_tfs(row["tfs_bin"])
        dl = decode_varints(row["dls_bin"]).astype(np.int64)
        keep = ~np.isin(d, deleted)
        if not keep.any():
            assert (row["term"], int(row["block_in_seg"])) not in out_by_key
            continue
        ref_rows += 1
        got = out_by_key[(row["term"], int(row["block_in_seg"]))]
        gd = decode_doc_deltas(got["docs_bin"])
        gtf = decode_tfs(got["tfs_bin"])
        gdl = decode_varints(got["dls_bin"]).astype(np.int64)
        assert list(gd) == list(d[keep])
        assert list(gtf) == list(tf[keep])
        assert list(gdl) == list(dl[keep])
        assert int(got["n_postings"]) == int(keep.sum())
        assert int(got["first_doc"]) == int(d[keep][0])
        assert int(got["last_doc"]) == int(d[keep][-1])
        assert int(got["max_tf"]) == int(tf[keep].max())
        assert int(got["min_dl"]) == int(dl[keep].min())
        assert int(got["sum_tf"]) == int(tf[keep].sum())
        if keep.all():
            # untouched blocks pass through byte-identical
            assert got["docs_bin"] == row["docs_bin"]
            assert got["pos_bin"] == row["pos_bin"]
        else:
            # positions of kept postings survive exactly
            flat, fb = decode_positions(row["pos_bin"], tf)
            kept_flat = np.concatenate(
                [flat[fb[i] : fb[i + 1]] for i in np.flatnonzero(keep)]
            )
            gflat, _ = decode_positions(got["pos_bin"], gtf)
            assert list(gflat) == list(kept_flat)
    assert ref_rows == len(out)


def test_purge_block_rows_no_candidates_is_identity():
    rng = np.random.default_rng(5)
    pdf = _rand_docs(rng, 100)
    blocks = _segment_blocks(pdf, 10.0, 16)
    deleted = np.array([5000, 6000], dtype=np.int64)  # outside doc range
    out = _purge_blocks(
        pa.Table.from_pandas(blocks, preserve_index=False),
        pa.table({"doc_id": deleted}),
        10.0,
        positional=False,
    ).to_pandas()
    assert len(out) == len(blocks)
    assert list(out["docs_bin"]) == list(blocks["docs_bin"])


@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()])
def test_bin_col_view_reads_both_offset_widths(typ):
    from angle_spark.index.resegment import _bin_col_view

    vals = [b"\x01\x02", b"", b"\x83\x01", b"\x07"]
    col = pa.chunked_array([pa.array(vals[:2], type=typ), pa.array(vals[2:], type=typ)])
    # a sliced array starts mid-buffer: offsets must be read from there
    for arr, want in ((col, vals), (pa.array(vals, type=typ).slice(1), vals[1:])):
        data, ends = _bin_col_view(arr)
        assert data.tobytes() == b"".join(want)
        assert list(ends) == list(np.cumsum([len(v) for v in want]))


def test_bin_col_view_refuses_non_binary():
    from angle_spark.index.resegment import _bin_col_view

    with pytest.raises(TypeError, match="binary"):
        _bin_col_view(pa.array(["ab", "c"], type=pa.large_string()))


def test_rebuild_segment_matches_rowwise_reference():
    """index/reconstruct.py _rebuild_segment (vectorized r6: one concat
    decode per stream family) vs the straight per-block-row reference it
    replaced — identical docs, token order, and dl."""
    from angle_spark.index.reconstruct import _rebuild_segment

    rng = np.random.default_rng(31)
    pdf = _rand_docs(rng, 250)
    blocks = _segment_blocks(pdf, 13.0, 16, positional=True)

    got = (
        _rebuild_segment(blocks)
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    # reference: per-row decode + scatter (the round-5 shape)
    term_parts, doc_parts, pos_parts = [], [], []
    for _, row in blocks.iterrows():
        d = decode_doc_deltas(row["docs_bin"])
        tf = decode_tfs(row["tfs_bin"]).astype(np.int64)
        pos, _b = decode_positions(row["pos_bin"], tf)
        term_parts.append(np.repeat(row["term"], int(tf.sum())))
        doc_parts.append(np.repeat(d, tf))
        pos_parts.append(pos.astype(np.int64))
    terms = np.concatenate(term_parts)
    docs = np.concatenate(doc_parts)
    pos = np.concatenate(pos_parts)
    order = np.lexsort((pos, docs))
    terms, docs = terms[order], docs[order]
    starts = np.flatnonzero(np.concatenate(([True], docs[1:] != docs[:-1])))
    bounds = np.append(starts, len(docs))
    want = pd.DataFrame(
        {
            "doc_id": docs[starts],
            "tokens": [
                list(terms[s:e])
                for s, e in zip(bounds[:-1], bounds[1:], strict=False)
            ],
            "dl": (bounds[1:] - starts).astype(np.int64),
        }
    ).sort_values("doc_id").reset_index(drop=True)

    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["dl"]) == list(want["dl"])
    assert [list(t) for t in got["tokens"]] == [list(t) for t in want["tokens"]]


def test_rebuild_segment_empty():
    from angle_spark.index.reconstruct import _rebuild_segment

    blocks = _segment_blocks(
        _rand_docs(np.random.default_rng(1), 10), 10.0, 16, positional=True
    )
    out = _rebuild_segment(blocks.iloc[0:0])
    assert len(out) == 0
    assert list(out.columns) == ["doc_id", "tokens", "dl"]


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize("sd_new", [8, 64, 4096])
def test_decode_slices_arrow_matches_pandas_reference(positional, sd_new):
    """index/resegment.py _decode_slices_arrow (r6: one concat decode per
    stream family off the Arrow buffers) vs the pandas reference rendition
    — identical slices for splitting, merging, and no-op granularities."""
    from angle_spark.index.resegment import _decode_slices, _decode_slices_arrow

    rng = np.random.default_rng(17)
    pdf = _rand_docs(rng, 200)
    blocks = _segment_blocks(pdf, 12.0, 16, positional=positional)
    cols = list(blocks.columns)

    ref = pd.concat(list(_decode_slices(iter([blocks]), sd_new, positional)),
                    ignore_index=True)
    tbl = pa.Table.from_pandas(blocks[cols], preserve_index=False)
    got = pa.Table.from_batches(
        list(_decode_slices_arrow(iter(tbl.to_batches()), sd_new, positional))
    ).to_pandas()

    key = ["term", "segment_id", "first_doc"]
    a = ref.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    for c in a.columns:
        assert list(a[c]) == list(b[c]), c


def test_merged_layout_preserves_content_and_file_sort(spark, tmp_path):
    """index/build.py _merged_layout (r6: deterministic bucket-hash, no
    range-sampling pass): the merge stays a pure LAYOUT operation — the
    merged/ row set equals the segments/ row set — and every output file
    is internally sorted by (term, segment_id, block_in_seg) so parquet
    row-group min/max stats on term keep pruning query scans."""
    from pyspark.sql import functions as F

    from angle_spark.index.build import build_index
    from angle_spark.index.stats import with_tokens
    from angle_spark.operators.docids import assign_doc_ids
    from angle_spark.synth import transcripts_df

    docs = with_tokens(
        assign_doc_ids(transcripts_df(spark, 20, seed=9, partitions=4))
    ).select("doc_id", "tokens", "dl")
    d = str(tmp_path / "idx")
    build_index(spark, docs, d, segment_docs=64, block_size=16)

    cols = [
        "term", "segment_id", "block_in_seg", "first_doc", "last_doc",
        "n_postings", "docs_bin", "tfs_bin", "dls_bin",
    ]
    seg = spark.read.parquet(d + "/segments").select(*cols).toPandas()
    mrg_df = spark.read.parquet(d + "/merged")
    mrg = mrg_df.select(
        *cols, F.input_file_name().alias("_file")
    ).toPandas()
    # segments/ infers the partition-dir column as int32; merged/ keeps
    # whatever the scan produced — normalize both (storage-path artifact,
    # same note as tests/test_resegment.py)
    seg["segment_id"] = seg["segment_id"].astype("int64")
    mrg["segment_id"] = mrg["segment_id"].astype("int64")

    key = ["term", "segment_id", "block_in_seg"]
    a = seg.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = mrg[seg.columns].sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # per-file sort invariant (row-group stats contract)
    for _, grp in mrg.groupby("_file"):
        g = grp.reset_index(drop=True)
        s = g.sort_values(key, kind="mergesort").reset_index(drop=True)
        pd.testing.assert_frame_equal(g[key], s[key])
