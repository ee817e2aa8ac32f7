"""The segment write behind build_index and append_micro_batch.

Contracts under test:
- every lineage row's term_count, bytes, token_count and doc_count equal
  a recomputation from the committed segments/ (the count_distinct /
  octet_length aggregate, kept here as the oracle), for a micro-batch
  that spans two segments, for segments whose docs have no tokens, and
  for the max-doc watermark build_index hands to merge_index (known_hi);
- the Spark jobs a build and an append submit are pinned, repeat
  exactly, and do not depend on an earlier docID assignment of the same
  input; neither call leaves anything in the cache manager;
- an index built with sink_format="orc" stays ORC through an append,
  a lineage refresh, an incremental merge and a search.
"""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
import pytest

from pyspark.sql import functions as F

import angle_spark.index.build as build_mod
from angle_spark.index import schema
from angle_spark.index.build import (
    _read_table,
    build_index,
    load_index,
    merge_index,
    refresh_corpus_stats,
)
from angle_spark.index.stats import with_tokens
from angle_spark.operators.docids import assign_doc_ids
from angle_spark.oracle import Bm25Oracle
from angle_spark.query.wand import wand_topk
from angle_spark.streaming.maintain import append_micro_batch

SEG = 16  # docs per segment
N_BASE = 40  # segments 0, 1 full, segment 2 half full
N_ALL = 60  # the append fills segment 2 and starts segment 3
# docs without a single token: all of segment 1, the build's last four
# docs (so the build's max last_doc is 35, not 39) and the append's
# share of segment 3
EMPTY = {*range(16, 32), *range(36, 40), *range(48, 60)}


def _text(i: int) -> str:
    if i in EMPTY:
        return "" if i % 2 else "-- !!"
    return " ".join(["common"] * (1 + i % 3) + [f"w{i % 5}", f"v{i % 7}", "hash join"])


def _pdf(ids) -> pd.DataFrame:
    # four turns per conversation: docIDs follow (conv_id, turn_idx) = i
    return pd.DataFrame(
        {
            "conv_id": [f"c{i // 4:04d}" for i in ids],
            "turn_idx": [i % 4 for i in ids],
            "text": [_text(i) for i in ids],
        }
    )


def _raw(spark, ids):
    return spark.createDataFrame(_pdf(ids), "conv_id string, turn_idx int, text string")


def _docs(raw):
    return with_tokens(assign_doc_ids(raw)).select("doc_id", "tokens", "dl")


def _lineage(spark, out, fmt="parquet") -> list[tuple]:
    return [
        (r["partition_id"], r["doc_count"], r["term_count"], r["bytes"], r["token_count"])
        for r in _read_table(spark, os.path.join(out, "lineage"), fmt, schema.LINEAGE)
        .collect()
    ]


def _from_segments(spark, out, where, fmt="parquet") -> dict[int, tuple[int, int, int]]:
    """segment_id -> (term_count, bytes, token_count) of the committed
    blocks that ``where`` selects"""
    blocks = _read_table(spark, os.path.join(out, "segments"), fmt, schema.BLOCKS)
    return {
        r["segment_id"]: (r["term_count"], r["bytes"], r["token_count"])
        for r in blocks.filter(where)
        .groupBy("segment_id")
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
        .collect()
    }


def _expected(stats, ids) -> list[tuple]:
    """one lineage row per segment the docs ``ids`` touch"""
    counts = Counter(i // SEG for i in ids)
    return sorted((s, n, *stats.get(s, (0, 0, 0))) for s, n in counts.items())


@pytest.mark.parametrize("positional", [False, True], ids=["plain", "positional"])
def test_lineage_matches_committed_segments(spark, tmp_path, monkeypatch, positional):
    out = str(tmp_path / "idx")
    handed = {}
    real_merge = build_mod.merge_index

    def spy(spark_, out_dir, meta, **kw):
        handed.update(kw)
        return real_merge(spark_, out_dir, meta, **kw)

    monkeypatch.setattr(build_mod, "merge_index", spy)
    meta = build_index(
        spark, _docs(_raw(spark, range(N_BASE))), out,
        segment_docs=SEG, block_size=4, positional=positional,
    )
    built = sorted(_lineage(spark, out))
    base_blocks = F.col("first_doc") < N_BASE
    assert built == _expected(_from_segments(spark, out, base_blocks), range(N_BASE))
    assert [r[:2] for r in built] == [(0, 16), (1, 16), (2, 8)]
    assert built[1][2:] == (0, 0, 0) and built[0][2] > 0
    # the watermark is the committed blocks' max last_doc, not n_docs - 1
    hi = _read_table(spark, os.path.join(out, "segments"), "parquet", schema.BLOCKS).agg(
        F.max("last_doc")
    ).first()[0]
    assert handed["known_hi"] == hi == 35

    hw = append_micro_batch(_raw(spark, range(N_BASE, N_ALL)), 0, out, meta.n_docs)
    assert hw == N_ALL
    appended = Counter(_lineage(spark, out)) - Counter(built)
    got = sorted(appended.elements())
    want = _expected(_from_segments(spark, out, ~base_blocks), range(N_BASE, N_ALL))
    assert got == want
    # the batch spans segments 2 and 3; its share of 3 has no tokens
    assert [r[0] for r in got] == [2, 3]
    assert got[0][2] > 0 and got[1][1:] == (12, 0, 0, 0)


def test_writes_without_a_single_token(spark, tmp_path, monkeypatch):
    """A build and an append none of whose docs has a token write no
    blocks: lineage commits their doc counts with zero facts, and the
    build hands merge_index the "complete but empty" watermark (-1)."""
    out = str(tmp_path / "idx")
    handed = {}
    real_merge = build_mod.merge_index

    def spy(spark_, out_dir, meta, **kw):
        handed.update(kw)
        return real_merge(spark_, out_dir, meta, **kw)

    monkeypatch.setattr(build_mod, "merge_index", spy)
    meta = build_index(
        spark, _docs(_raw(spark, range(16, 32))), out, segment_docs=SEG, block_size=4
    )
    assert handed["known_hi"] == -1
    assert _lineage(spark, out) == [(0, 16, 0, 0, 0)]
    hw = append_micro_batch(_raw(spark, range(48, 60)), 0, out, meta.n_docs)
    assert hw == 28
    assert sorted(_lineage(spark, out)) == [(0, 16, 0, 0, 0), (1, 12, 0, 0, 0)]


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - j0


def test_build_and_append_submit_pinned_jobs(spark, tmp_path):
    """Jobs per call on the same input twice in one session. The first
    docID assignment of a process runs a one-job invariant probe, so one
    assignment runs before anything is counted."""
    assign_doc_ids(_raw(spark, range(8)), validate=True)
    base, batch = str(tmp_path / "base"), str(tmp_path / "batch")
    _raw(spark, range(N_BASE)).write.parquet(base)
    _raw(spark, range(N_BASE, N_ALL)).write.parquet(batch)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    got = {"build": [], "append": []}
    for i in range(2):
        out = str(tmp_path / f"idx{i}")
        meta, n = _jobs(spark, lambda: build_index(
            spark, _docs(spark.read.parquet(base)), out, segment_docs=SEG, block_size=4
        ))
        got["build"].append(n)
        assert cm.isEmpty(), "build_index left a cached frame"
        _, n = _jobs(spark, lambda: append_micro_batch(
            spark.read.parquet(batch), i, out, meta.n_docs
        ))
        got["append"].append(n)
        assert cm.isEmpty(), "append_micro_batch left a cached frame"
    assert got == {"build": [18, 18], "append": [13, 13]}


def test_orc_index_stays_orc_through_append(spark, tmp_path):
    out = str(tmp_path / "idx")
    meta = build_index(
        spark, _docs(_raw(spark, range(N_BASE))), out,
        segment_docs=SEG, block_size=4, sink_format="orc",
    )
    append_micro_batch(_raw(spark, range(N_BASE, N_ALL)), 0, out, meta.n_docs)
    for sub in ("segments", "lineage"):
        names = [f for _, _, fs in os.walk(os.path.join(out, sub)) for f in fs]
        assert not [f for f in names if f.endswith(".parquet")], sub
    m = refresh_corpus_stats(spark, out)
    merge_index(spark, out, m, incremental=True)
    merged, tstats, meta2 = load_index(spark, out)
    oracle = Bm25Oracle(_pdf(range(N_ALL)))
    assert (meta2.n_docs, meta2.avgdl) == (oracle.n_docs, oracle.avgdl)
    assert meta2.merged_docs > N_BASE
    queries = spark.createDataFrame(
        [("a", "common w1", 10), ("b", "hash v3", 10)], "query_id string, text string, k int"
    )
    got = wand_topk(spark, merged, tstats, meta2, queries).orderBy("query_id", "rank").collect()
    want = [
        (qid, d, s)
        for qid, text in (("a", "common w1"), ("b", "hash v3"))
        for d, s in oracle.score_query(text, 10)
    ]
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in got] == want
