"""Common-terms retrieval (Lucene CommonTermsQuery / the ES ``match``
query's ``cutoff_frequency``).

Stopword handling without a stopword list: query terms split by DOCUMENT
FREQUENCY into a low-frequency group (rare, selective — these drive
matching) and a high-frequency group (stopword-ish — these only refine
scores). A doc is a hit iff it matches >= 1 low-frequency term (the ES
default ``low_freq_operator: or``); every matched query term — low or
high — then contributes its normal BM25 weight. High-frequency terms
thus never pay their posting-list cost at MATCH time (the selective OR
is over the short lists) while still sharpening the ranking, which is
the whole point of the query: "the quick brown fox" doesn't scan the
"the" postings to find candidates, but docs that do contain "the" in
the right proportion still score it.

``cutoff`` follows the ES rule: values in [0, 1) are a fraction of the
live corpus (df/N >= cutoff -> high); values >= 1 are an absolute
document count. A query whose in-vocabulary terms are ALL high-frequency
falls back to plain disjunctive BM25 over them (the ES fallback — there
is nothing selective to anchor on).

Engine shape: one driver-side classification from the already-collected
query-term df row set (query_term_stats — O(|query terms|), no
vocabulary scan), then the standard boolean shard pass with membership
ast = OR(low terms) and scoring set = ALL in-vocab terms. Candidate
blocks ship for every scoring term (the fold needs the high-frequency
tfs of matched docs), but membership evaluation touches only the low
lists; no new shuffle, no new collector.

Reference analog: the reference's prompt pipelines drop boilerplate
role markers while keeping informative tokens
(/root/reference/angle_emb/angle.py:64-87 prompt formatting) — here the
split is data-derived instead of hand-listed.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark.index.build import IndexMeta
from angle_spark.index.stats import idf_value
from angle_spark.query.wand import (
    _shard_and_rank,
    query_term_stats,
)


def split_terms(
    terms: list[str], df_map: dict, live_docs: int, cutoff: float
) -> tuple[list[str], list[str]]:
    """-> (low, high) frequency groups of the IN-VOCAB terms, each
    sorted distinct. cutoff < 1 is relative (df/N), >= 1 absolute df."""
    thresh = cutoff * live_docs if cutoff < 1.0 else cutoff
    low = sorted(t for t in terms if t in df_map and df_map[t] < thresh)
    high = sorted(
        t for t in terms if t in df_map and df_map[t] >= thresh
    )
    return low, high


def common_terms_topk(
    spark: SparkSession,
    merged: DataFrame,
    tstats,
    meta: IndexMeta,
    queries,
    cutoff: float = 0.01,
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """-> (query_id, rank, doc_id, score): BM25 top-k where membership
    is OR over the query's LOW-frequency terms only; all matched terms
    score. queries: (query_id, text, k) Spark or pandas DataFrame."""
    if cutoff < 0:
        raise ValueError(f"cutoff must be >= 0, got {cutoff}")
    from angle_spark.functions.tokenizer import analyzer_fns

    analyzer = getattr(meta, "analyzer", "v1-ascii-alnum")
    tok_py, tok_col, _ = analyzer_fns(analyzer)
    if isinstance(queries, pd.DataFrame):
        tokenized = [
            (q.query_id, int(q.k), sorted(set(tok_py(q.text))))
            for q in queries.itertuples(index=False)
        ]
    else:
        qrows = queries.select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            F.coalesce(tok_col("text"), F.array().cast("array<string>")).alias(
                "ptoks"
            ),
        ).collect()
        tokenized = [
            (r["query_id"], int(r["k"]), sorted(set(r["ptoks"])))
            for r in qrows
        ]
    all_terms = sorted({t for _, _, ts in tokenized for t in ts})
    ts_pdf = query_term_stats(tstats, all_terms)
    df_map = dict(zip(ts_pdf["term"], ts_pdf["df"]))

    rows = []
    cand: set[str] = set()
    for qid, k, toks in tokenized:
        low, high = split_terms(toks, df_map, meta.live_docs, cutoff)
        member = low if low else high  # all-high query: plain OR fallback
        if not member:
            continue  # fully out-of-vocabulary: matches nothing
        score_terms = sorted(low + high) if low else high
        ast = (
            ("term", member[0])
            if len(member) == 1
            else ("or", [("term", t) for t in member])
        )
        cand.update(score_terms)
        rows.append(
            (
                qid,
                k,
                score_terms,
                [
                    idf_value(meta.live_docs, int(df_map[t]))
                    for t in score_terms
                ],
                0,
                [],
                ast,
            )
        )
    stub = [(qid, k, None, None) for qid, k, _ in tokenized]
    return _shard_and_rank(
        spark,
        merged,
        meta,
        stub,
        rows,
        sorted(cand),
        False,
        False,
        deletes,
        "boolean",
        0,
        doc_filter,
    )
