"""Deletion lifecycle: tombstones -> masked queries -> physical purge.

Three contracts (index/deletes.py):
  1. masked queries exclude deleted docs immediately, with full-corpus
     stats (Lucene pre-merge semantics), exact under pruning;
  2. purge physically removes every tombstoned posting, atomically, and
     switches stats to live values;
  3. a purged index scores bit-identically to an index that never
     contained the deleted docs.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

from angle_spark.index.build import build_index, load_index, refresh_corpus_stats
from angle_spark.index.deletes import delete_docs, load_deletes, purge_deletes
from angle_spark.index.stats import with_tokens
from angle_spark.operators.docids import assign_doc_ids
from angle_spark.oracle import Bm25Oracle
from angle_spark.query.wand import wand_topk
from angle_spark.synth import queries_df, queries_pdf, transcripts_df, transcripts_pdf

N_CONVS = 40
SEED = 42
SEGMENT_DOCS = 128
BLOCK = 16
# every 5th doc tombstoned — spans all segments, hits stopword + rare blocks
DEL_MOD = 5


@pytest.fixture(scope="module")
def docs(spark):
    return (
        with_tokens(assign_doc_ids(transcripts_df(spark, N_CONVS, seed=SEED, partitions=4)))
        .select("doc_id", "tokens", "dl")
        .persist()
    )


@pytest.fixture(scope="module")
def oracle():
    return Bm25Oracle(transcripts_pdf(N_CONVS, seed=SEED))


def _build(spark, docs, tmp_path_factory, name):
    out = str(tmp_path_factory.mktemp(name) / "idx")
    build_index(spark, docs, out, segment_docs=SEGMENT_DOCS, block_size=BLOCK)
    return out


@pytest.fixture(scope="module")
def masked_dir(spark, docs, tmp_path_factory):
    out = _build(spark, docs, tmp_path_factory, "del_mask")
    delete_docs(spark, out, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    return out


def _masked_golden(oracle: Bm25Oracle, queries: pd.DataFrame) -> pd.DataFrame:
    """Full-corpus-stats scoring, deleted docs dropped BEFORE ranking."""
    rows = []
    for _, q in queries.iterrows():
        ranked = [
            (d, s)
            for d, s in oracle.score_query(q["text"], oracle.n_docs)
            if d % DEL_MOD != 0
        ]
        for rank, (doc_id, score) in enumerate(ranked[: int(q["k"])], start=1):
            rows.append((q["query_id"], rank, doc_id, score))
    return pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "score"])


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .astype({"doc_id": "int64", "rank": "int64"})
        .sort_values(["query_id", "rank"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_masked_query_matches_oracle(spark, masked_dir, oracle):
    merged, tstats, meta = load_index(spark, masked_dir)
    dels = load_deletes(spark, masked_dir)
    assert dels is not None
    got = _frame(
        wand_topk(spark, merged, tstats, meta, queries_df(spark), prune=True, deletes=dels)
    )
    want = _masked_golden(oracle, queries_pdf())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=0, rtol=0)
    # stats must still be FULL-corpus pre-purge (Lucene semantics)
    assert meta.purged_docs == 0
    assert meta.live_docs == oracle.n_docs


def test_masked_prune_matches_exhaustive(spark, masked_dir):
    """Decode-time masking keeps block-max/MaxScore pruning exact: a
    post-scoring filter would let deleted docs raise theta and prune away
    live top-k members."""
    merged, tstats, meta = load_index(spark, masked_dir)
    dels = load_deletes(spark, masked_dir)
    a = _frame(
        wand_topk(spark, merged, tstats, meta, queries_df(spark), prune=True, deletes=dels)
    )
    b = _frame(
        wand_topk(spark, merged, tstats, meta, queries_df(spark), prune=False, deletes=dels)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=0, rtol=0)


def test_delete_docs_bounds_and_dedup(spark, docs, tmp_path_factory):
    out = _build(spark, docs, tmp_path_factory, "del_bounds")
    ids = spark.createDataFrame(
        [(3,), (3,), (-1,), (10**9,)], schema="doc_id long"
    )
    n = delete_docs(spark, out, ids)
    assert n == 1  # dup collapsed, out-of-range dropped
    tomb = load_deletes(spark, out).toPandas()
    assert sorted(tomb["doc_id"]) == [3]


@pytest.fixture(scope="module")
def purged_dir(spark, docs, tmp_path_factory):
    out = _build(spark, docs, tmp_path_factory, "del_purge")
    delete_docs(spark, out, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    purge_deletes(spark, out)
    return out


def test_purge_removes_postings_and_updates_stats(spark, purged_dir, oracle):
    from angle_spark.index.spimi import decode_block

    _, _, meta = load_index(spark, purged_dir)
    n_deleted = len([d for d in range(oracle.n_docs) if d % DEL_MOD == 0])
    assert meta.purged_docs == n_deleted
    assert meta.live_docs == oracle.n_docs - n_deleted
    live_tokens = sum(dl for d, dl in enumerate(oracle.dl) if d % DEL_MOD != 0)
    assert meta.purged_tokens == sum(oracle.dl) - live_tokens
    assert meta.avgdl == live_tokens / meta.live_docs

    # no tombstoned posting survives anywhere in segments/ or merged/
    for sub in ("segments", "merged"):
        pdf = spark.read.parquet(os.path.join(purged_dir, sub)).toPandas()
        for _, row in pdf.iterrows():
            d, _, _ = decode_block(row)
            assert not (d % DEL_MOD == 0).any()
    # tombstones consumed
    assert load_deletes(spark, purged_dir) is None
    assert not glob.glob(os.path.join(purged_dir, "segments_*"))


def test_purged_query_matches_never_indexed_oracle(spark, purged_dir):
    """After compaction the index scores EXACTLY as if the deleted docs
    were never indexed: compare against a Python oracle built over only
    the surviving transcripts (docIDs mapped back through the surviving
    id order — deletion leaves holes, never reassigns)."""
    tp = transcripts_pdf(N_CONVS, seed=SEED)
    ordered = tp.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    live_mask = (np.arange(len(ordered)) % DEL_MOD) != 0
    live_ids = np.flatnonzero(live_mask)
    oracle_live = Bm25Oracle(ordered[live_mask])

    merged, tstats, meta = load_index(spark, purged_dir)
    got = _frame(
        wand_topk(spark, merged, tstats, meta, queries_df(spark), prune=True)
    )
    want = oracle_live.golden(queries_pdf())
    want["doc_id"] = live_ids[want["doc_id"].to_numpy()]
    want = want.sort_values(["query_id", "rank"], kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=0, rtol=0)


def _meta_tuple(spark, out_dir):
    from angle_spark.index.build import load_index

    _, _, m = load_index(spark, out_dir)
    return (m.n_docs, m.purged_docs, m.purged_tokens, m.avgdl, m.merged_docs)


def _query_frame(spark, out_dir):
    from angle_spark.index.build import load_index

    merged, tstats, meta = load_index(spark, out_dir)
    return _frame(wand_topk(spark, merged, tstats, meta, queries_df(spark)))


@pytest.mark.parametrize("kill_at", ["first_rename", "second_rename", "merge", "cleanup"])
def test_purge_kill_matrix(spark, docs, tmp_path_factory, kill_at, monkeypatch):
    """purge_deletes killed at any point, then rerun, converges to the
    same state as an uninterrupted purge: same counters/stats, same query
    results, no recovery debris, no double-applied journal."""
    import shutil

    import angle_spark.index.build as build_mod
    import angle_spark.index.deletes as del_mod

    base = _build(spark, docs, tmp_path_factory, f"kill_{kill_at}")
    delete_docs(spark, base, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    clean = str(tmp_path_factory.mktemp(f"clean_{kill_at}") / "idx")
    shutil.copytree(base, clean)
    purge_deletes(spark, clean)
    want_meta = _meta_tuple(spark, clean)
    want_q = _query_frame(spark, clean)

    boom = RuntimeError("injected kill")
    real_rename, real_delete = del_mod.fsio.rename, del_mod.fsio.delete
    real_merge = build_mod.merge_index
    calls = {"n": 0}
    if kill_at in ("first_rename", "second_rename"):
        limit = 0 if kill_at == "first_rename" else 1

        def rename(spark_, src, dst):
            if "segments" in src and calls["n"] == limit:
                raise boom
            if "segments" in src:
                calls["n"] += 1
            return real_rename(spark_, src, dst)

        monkeypatch.setattr(del_mod.fsio, "rename", rename)
    elif kill_at == "merge":

        def merge(*a, **kw):
            raise boom

        monkeypatch.setattr(build_mod, "merge_index", merge)
    else:  # cleanup: kill the final journal delete

        def delete(spark_, path):
            if path.endswith("purge_journal.json"):
                raise boom
            return real_delete(spark_, path)

        monkeypatch.setattr(del_mod.fsio, "delete", delete)

    with pytest.raises(RuntimeError, match="injected kill"):
        purge_deletes(spark, base)
    monkeypatch.setattr(del_mod.fsio, "rename", real_rename)
    monkeypatch.setattr(del_mod.fsio, "delete", real_delete)
    monkeypatch.setattr(build_mod, "merge_index", real_merge)

    purge_deletes(spark, base)  # resume
    assert _meta_tuple(spark, base) == want_meta
    pd.testing.assert_frame_equal(
        _query_frame(spark, base), want_q, check_dtype=False, atol=0, rtol=0
    )
    for debris in ("segments_tmp", "segments_old", "purge_journal.json", "deletes"):
        assert not os.path.exists(os.path.join(base, debris)), debris
    # a third run is a no-op on an already-purged index
    m = purge_deletes(spark, base)
    assert (m.n_docs, m.purged_docs, m.purged_tokens, m.avgdl, m.merged_docs) == want_meta


def test_refresh_stats_preserves_live_values(spark, purged_dir):
    """refresh_corpus_stats stays O(lineage): lineage totals include the
    purged docs, and the cumulative counters subtract them back exactly."""
    _, _, before = load_index(spark, purged_dir)
    after = refresh_corpus_stats(spark, purged_dir)
    assert after.n_docs == before.n_docs  # docID-space bound unchanged
    assert after.purged_docs == before.purged_docs
    assert after.avgdl == before.avgdl  # lineage-sum minus counters == live


def test_purge_reads_segments_once(spark, docs, tmp_path_factory, monkeypatch):
    """Token accounting no longer scans segments/ (round-3 verdict item
    7): lineage supplies the pre-purge live total, the journal carries
    the post-rewrite one, so the deletes module reads segments/ exactly
    once — as the rewrite input — plus one scan of the rewritten _tmp."""
    import angle_spark.index.deletes as del_mod

    out = _build(spark, docs, tmp_path_factory, "scan_count")
    delete_docs(spark, out, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    seg_dir = os.path.join(out, "segments")
    real = del_mod._read_table
    reads: list[str] = []

    def spy(spark_, path, fmt, ddl):
        reads.append(path)
        return real(spark_, path, fmt, ddl)

    monkeypatch.setattr(del_mod, "_read_table", spy)
    meta = purge_deletes(spark, out)
    assert meta.purged_docs > 0
    assert [p for p in reads if p.rstrip("/") == seg_dir] == [seg_dir]
    assert len([p for p in reads if p.endswith("segments_tmp")]) == 1
    # and the accounting still lands on the exact live values
    after = refresh_corpus_stats(spark, out)
    assert after.avgdl == meta.avgdl and after.purged_tokens == meta.purged_tokens


def _live_truth(docs):
    """(live postings, purged tokens, live tokens, live docs) of the
    DEL_MOD tombstone set, straight from the tokenized docs."""
    pdf = docs.toPandas()
    live = pdf["doc_id"] % DEL_MOD != 0
    postings = int(sum(len(set(t)) for t in pdf.loc[live, "tokens"]))
    purged_tokens = int(pdf.loc[~live, "dl"].sum())
    return postings, purged_tokens, int(pdf.loc[live, "dl"].sum()), int(live.sum())


@pytest.mark.parametrize("large_var_types", [False, True])
def test_purge_meets_every_segment_uncoalesced(
    spark, docs, tmp_path_factory, large_var_types
):
    """The purge cogroup must key segments and tombstones on the SAME
    type. With AQE coalescing off and 16 shuffle partitions, a
    partition-discovered int segment_id and a computed long one hash to
    different partitions, and most segments never meet their
    tombstones (default settings hide it: AQE coalesces the tiny
    tombstone side into one partition). Also run under Arrow large var
    types, where the purge's buffer views read int64 offsets."""
    from angle_spark.index.build import load_index

    out = str(tmp_path_factory.mktemp(f"purge_keys_{large_var_types}") / "idx")
    build_index(spark, docs, out, segment_docs=SEGMENT_DOCS, block_size=BLOCK, positional=True)
    delete_docs(spark, out, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    _, _, before = load_index(spark, out)
    assert before.n_docs > 2 * SEGMENT_DOCS  # at least 3 segments
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.execution.arrow.useLargeVarTypes": str(large_var_types).lower(),
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        meta = purge_deletes(spark, out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    postings, purged_tokens, live_tokens, live_docs = _live_truth(docs)
    for sub in ("segments", "merged"):
        got = spark.read.parquet(os.path.join(out, sub)).agg({"n_postings": "sum"})
        assert got.collect()[0][0] == postings, sub
    assert meta.purged_tokens == purged_tokens
    assert meta.live_docs == live_docs
    assert meta.avgdl == live_tokens / live_docs


def test_index_reads_submit_no_jobs(spark, masked_dir):
    """Every index read passes its declared schema (index/schema.py):
    opening an index or its tombstones plans reads without submitting a
    single Spark job (schema inference would scan a footer per read),
    and segment_id is a long on every block table."""
    from pyspark.sql.types import LongType

    from angle_spark.index import schema
    from angle_spark.index.build import _read_table

    tables = {
        "segments": schema.BLOCKS,
        "merged": schema.BLOCKS,
        "term_stats": schema.TERM_STATS,
        "lineage": schema.LINEAGE,
        "deletes": schema.DELETES,
    }
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    merged, _, _ = load_index(spark, masked_dir)
    assert load_deletes(spark, masked_dir) is not None
    frames = {
        name: _read_table(spark, os.path.join(masked_dir, name), "parquet", ddl)
        for name, ddl in tables.items()
    }
    assert sched.nextJobId() - j0 == 0
    assert isinstance(merged.schema["segment_id"].dataType, LongType)
    for name in ("segments", "merged"):
        assert isinstance(frames[name].schema["segment_id"].dataType, LongType)
    assert sched.nextJobId() - j0 == 0


def test_legacy_lineage_without_token_count_falls_back(
    spark, docs, tmp_path_factory, monkeypatch
):
    """A lineage file written before token_count existed reads the
    column as NULL: the stats refresh and the purge's pre-purge token
    total must fall back to the segments sum_tf scan and stay exact."""
    import shutil

    import angle_spark.index.build as build_mod

    out = _build(spark, docs, tmp_path_factory, "legacy_lineage")
    lin_dir = os.path.join(out, "lineage")
    lin = spark.read.parquet(lin_dir).drop("commit_ts").toPandas()
    shutil.rmtree(lin_dir)
    legacy = lin.iloc[:1].drop(columns="token_count")
    spark.createDataFrame(legacy).write.parquet(lin_dir)
    spark.createDataFrame(lin.iloc[1:]).write.mode("append").parquet(lin_dir)

    seg_dir = os.path.join(out, "segments")
    reads: list[str] = []
    real = build_mod._read_table

    def spy(spark_, path, fmt, ddl):
        reads.append(path)
        return real(spark_, path, fmt, ddl)

    monkeypatch.setattr(build_mod, "_read_table", spy)
    meta = refresh_corpus_stats(spark, out)
    monkeypatch.undo()
    assert seg_dir in reads  # the fallback scan ran
    pdf = docs.toPandas()
    assert meta.avgdl == int(pdf["dl"].sum()) / len(pdf)

    delete_docs(spark, out, docs.select("doc_id").filter(f"doc_id % {DEL_MOD} = 0"))
    meta = purge_deletes(spark, out)
    _, purged_tokens, live_tokens, live_docs = _live_truth(docs)
    assert meta.purged_tokens == purged_tokens
    assert meta.avgdl == live_tokens / live_docs
