"""Searcher (serving session): identical results to stateless wand_topk,
refresh picks up appends/deletes/purges, close releases the cache."""

from __future__ import annotations

import pandas as pd
import pytest

from angle_spark.index.build import build_index, load_index, refresh_corpus_stats
from angle_spark.index.deletes import delete_docs, load_deletes
from angle_spark.index.stats import with_tokens
from angle_spark.operators.docids import assign_doc_ids
from angle_spark.query.searcher import Searcher
from angle_spark.query.wand import wand_topk
from angle_spark.streaming.maintain import append_micro_batch
from angle_spark.synth import queries_df, transcripts_df

N_ALL = 40
N_BATCH = 30
SEED = 42


@pytest.fixture()
def index_dir(spark, tmp_path):
    batch = transcripts_df(spark, N_BATCH, seed=SEED)
    docs = with_tokens(assign_doc_ids(batch)).select("doc_id", "tokens", "dl")
    build_index(spark, docs, str(tmp_path / "idx"), segment_docs=256, block_size=32)
    return str(tmp_path / "idx")


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_search_equals_stateless(spark, index_dir):
    with Searcher(spark, index_dir) as s:
        got_or = _frame(s.search(queries_df(spark)))
        got_and = _frame(s.search(queries_df(spark), mode="and"))
    merged, tstats, meta = load_index(spark, index_dir)
    want_or = _frame(wand_topk(spark, merged, tstats, meta, queries_df(spark)))
    want_and = _frame(
        wand_topk(spark, merged, tstats, meta, queries_df(spark), mode="and")
    )
    pd.testing.assert_frame_equal(got_or, want_or, atol=0, rtol=0)
    pd.testing.assert_frame_equal(got_and, want_and, atol=0, rtol=0)


def test_cached_vocab_identical(spark, index_dir):
    with Searcher(spark, index_dir) as s, Searcher(
        spark, index_dir, cache_vocab=True
    ) as sv:
        a = _frame(s.search(queries_df(spark)))
        b = _frame(sv.search(queries_df(spark)))
    pd.testing.assert_frame_equal(a, b, atol=0, rtol=0)


def test_refresh_sees_appends_and_deletes(spark, index_dir):
    s = Searcher(spark, index_dir)
    before = _frame(s.search(queries_df(spark)))

    # streamed delta lands + a tombstone lands; the open session still
    # serves the generation it opened (stable reads)...
    tail = transcripts_df(spark, N_ALL, seed=SEED).filter(
        f"conv_id >= 'conv_{N_BATCH:08d}'"
    )
    hw = s.meta.n_docs
    append_micro_batch(tail, 0, index_dir, hw)
    delete_docs(spark, index_dir, spark.createDataFrame([(0,)], "doc_id long"))
    pd.testing.assert_frame_equal(
        _frame(s.search(queries_df(spark))), before, atol=0, rtol=0
    )

    # ...and refresh() switches to the new generation: live stats, delta
    # union, tombstone masking — identical to a fresh stateless read
    s.refresh()
    got = _frame(s.search(queries_df(spark)))
    refresh_corpus_stats(spark, index_dir)
    merged, tstats, meta = load_index(spark, index_dir)
    want = _frame(
        wand_topk(
            spark,
            merged,
            tstats,
            meta,
            queries_df(spark),
            deletes=load_deletes(spark, index_dir),
        )
    )
    pd.testing.assert_frame_equal(got, want, atol=0, rtol=0)
    assert not got.equals(before)  # the appended docs actually changed answers
    assert 0 not in set(got["doc_id"])  # the tombstone actually masks
    s.close()


def _n_cached(spark) -> int:
    it = spark._jsparkSession.sharedState().cacheManager().cachedData().iterator()
    n = 0
    while it.hasNext():
        it.next()
        n += 1
    return n


def test_searcher_suggest_and_complete(spark, index_dir):
    """Searcher.suggest/.complete == the stateless suggesters over the
    index's own term_stats, in BOTH vocab renditions (Spark frame and
    the cached-pandas opt-in, which re-uploads as a one-off frame)."""
    from angle_spark.index.build import load_index
    from angle_spark.query.suggest import complete_terms, suggest_terms

    _, tstats, _ = load_index(spark, index_dir)
    seed = tstats.select("term").orderBy("term").limit(1).collect()[0][0]
    words, prefixes = [seed + "x"], [seed[:2]]
    want_s = suggest_terms(
        spark, tstats, words, k=3, suggest_mode="popular"
    ).toPandas().sort_values(["word", "rank"]).reset_index(drop=True)
    want_c = complete_terms(spark, tstats, prefixes, k=4).toPandas().sort_values(
        ["prefix", "rank"]
    ).reset_index(drop=True)
    for cache_vocab in (False, True):
        with Searcher(spark, index_dir, cache_vocab=cache_vocab) as s:
            got_s = s.suggest(words, k=3, suggest_mode="popular").toPandas()
            got_c = s.complete(prefixes, k=4).toPandas()
        got_s = got_s.sort_values(["word", "rank"]).reset_index(drop=True)
        got_c = got_c.sort_values(["prefix", "rank"]).reset_index(drop=True)
        assert got_s.equals(want_s), cache_vocab
        assert got_c.equals(want_c), cache_vocab


def test_close_releases_cache(spark, index_dir):
    # earlier tests of the session may have left frames in the cache —
    # the contract here is that a Searcher session adds NOTHING across
    # open/search/close
    before = _n_cached(spark)
    s = Searcher(spark, index_dir)
    s.search(queries_df(spark)).count()
    assert _n_cached(spark) == before + 1  # exactly the persisted blocks
    s.close()
    assert _n_cached(spark) == before
    with pytest.raises(RuntimeError):
        s.search(queries_df(spark))


def test_hydrate_returns_metadata_with_broadcast_join(spark, tmp_path_factory):
    """search(hydrate_with=corpus) returns the original turn text for
    every result doc, via a broadcast of the SMALL result side — the
    corpus is never shuffled (no hashpartitioning exchange in the
    hydration join plan)."""
    from angle_spark.index.build import build_index
    from angle_spark.index.stats import with_tokens
    from angle_spark.operators.docids import assign_doc_ids
    from angle_spark.query.searcher import Searcher, hydrate
    from angle_spark.synth import queries_df, transcripts_df

    out = str(tmp_path_factory.mktemp("hydrate") / "idx")
    corpus = assign_doc_ids(transcripts_df(spark, 12, seed=9))
    docs = with_tokens(corpus).select("doc_id", "tokens", "dl")
    build_index(spark, docs, out, segment_docs=128, block_size=16)

    with Searcher(spark, out) as s:
        plain = s.search(queries_df(spark)).toPandas()
        hydrated = s.search(
            queries_df(spark), hydrate_with=corpus
        ).toPandas()
    assert set(hydrated.columns) == {
        "query_id", "rank", "doc_id", "score", "conv_id", "turn_idx", "text"
    }
    assert len(hydrated) == len(plain)
    truth = corpus.select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    for _, r in hydrated.iterrows():
        assert r["text"] == truth[r["doc_id"]]

    # plan shape: hydration alone must broadcast the result side and
    # never shuffle the corpus
    res_df = spark.createDataFrame(
        plain[["query_id", "rank", "doc_id", "score"]]
    )
    plan = (
        hydrate(res_df, corpus)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(doc_id" not in plan
