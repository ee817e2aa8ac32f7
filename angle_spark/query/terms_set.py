"""terms_set retrieval (the ES ``terms_set`` query / Lucene
CoveringQuery): match docs containing at least m of the query's terms,
where m is PER-DOCUMENT — read from a metadata field
(``minimum_should_match_field``) instead of a query-level constant.
The transcript shape: "retrieve turns matching enough of these tags,
where each turn declares its own bar".

Engine shape — one shard pass, no per-doc threshold kernel: the mm
scorer's required-count is a PER-ROW field of the query batch
(query/wand.py rows[4]), so each user query expands driver-side into
one synthetic sub-query per feasible threshold j in 1..|in-vocab
terms| — all sharing the same term set, hence the same candidate
blocks and per-task decode caches; the shard pass is the one batch
shuffle every mm batch costs. Each mm_j result row (docs matching
>= j terms, full disjunctive BM25 fold) then joins the per-doc
required values and survives iff required == j — exactly "matched
count >= required", because the mm_j sets are nested. The join is
O(total matches), not O(corpus). The disclosed alternative at
persistent-serving scale is a per-doc threshold array on the
docvalues channel; the expansion form reuses the existing exact
kernel unchanged.

Semantics notes (documented divergences): a doc absent from
``m_field`` never matches (ES errors on a missing field; a filtered
frame is the Spark-native equivalent); required < 1 clamps to 1
(Lucene CoveringQuery treats <= 0 as match-all, which would admit
docs with NO matching term — unscorable under BM25); required >
|in-vocab terms| can never be satisfied (an out-of-vocabulary term
matches nothing), matching Lucene's behavior when docFreq == 0.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from angle_spark.index.build import IndexMeta
from angle_spark.index.stats import idf_value
from angle_spark.query.wand import (
    _shard_and_rank,
    query_term_stats,
)

_SEP = "\x1f"  # query_id / threshold separator (never in user ids)
_BIG = 2_000_000_000


def terms_set_topk(
    spark: SparkSession,
    merged: DataFrame,
    tstats,
    meta: IndexMeta,
    queries,
    m_field: DataFrame,
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """-> (query_id, rank, doc_id, score). queries: (query_id, text, k)
    Spark or pandas frame; m_field: (doc_id, required) — each doc's own
    minimum matching-term count."""
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
    for qid, _, _ in tokenized:
        if _SEP in qid:
            raise ValueError(f"query_id may not contain U+001F: {qid!r}")
    all_terms = sorted({t for _, _, ts in tokenized for t in ts})
    ts_pdf = query_term_stats(tstats, all_terms)
    df_map = dict(zip(ts_pdf["term"], ts_pdf["df"]))

    rows = []
    ks = []
    cand: set[str] = set()
    for qid, k, toks in tokenized:
        terms = [t for t in toks if t in df_map]
        if not terms:
            continue
        idfs = [idf_value(meta.live_docs, int(df_map[t])) for t in terms]
        cand.update(terms)
        ks.append((qid, k))
        for j in range(1, len(terms) + 1):
            rows.append(
                (f"{qid}{_SEP}{j}", _BIG, terms, idfs, j, [], None)
            )
    # the execution tail joins per-query k from this list — it must
    # carry the SYNTHETIC (qid, threshold) ids the rows use
    stub = [(r[0], r[1], None, None) for r in rows]
    raw = _shard_and_rank(
        spark,
        merged,
        meta,
        stub,
        rows,
        sorted(cand),
        False,
        False,
        deletes,
        "mm",
        0,
        doc_filter,
    )
    if not ks:
        return raw.select(
            "query_id", F.col("rank").cast("int").alias("rank"),
            "doc_id", "score",
        )
    parts = F.split(F.col("query_id"), _SEP)
    m = m_field.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.greatest(F.col("required").cast("long"), F.lit(1)).alias("required"),
    )
    kdf = spark.createDataFrame(ks, "query_id string, k int")
    hits = (
        raw.select(
            parts.getItem(0).alias("query_id"),
            parts.getItem(1).cast("long").alias("j"),
            "doc_id",
            "score",
        )
        .join(m, "doc_id")
        .filter(F.col("required") == F.col("j"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(kdf), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
