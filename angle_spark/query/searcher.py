"""Long-lived serving session over a built index.

``wand_topk`` is stateless: every call re-reads merged/ and term_stats.
That is right for one-shot batch jobs, wrong for a serving deployment
answering many query batches against the same index generation. Searcher
holds exactly the state a search shard holds open (the reference's
analog is the loaded model the inference loop reuses across encode()
calls, reference angle_emb/angle.py:1206-1260):

- the merged-blocks DataFrame, persisted once (DISK_ONLY by default:
  executor-local bytes, cheap re-read, no executor-memory pressure from
  binary block columns);
- IndexMeta with corpus-true stats (refresh_corpus_stats on open, so
  streamed deltas committed before open score with live avgdl/n_docs);
- the pending tombstone set;
- optionally (``cache_vocab=True``) the whole term_stats as a
  driver-side pandas frame — the bounded-vocabulary serving opt-in that
  skips the per-batch semi-join job entirely. Off by default: at
  10^12-turn scale the vocabulary does not fit on the driver, and the
  default path's In(term) pushdown collects only |query terms| rows.

``refresh()`` re-opens against the current on-disk generation (new
streamed deltas, new tombstones, a finished purge) without losing the
session; ``close()`` releases the persisted blocks. Results are
IDENTICAL to stateless ``wand_topk`` calls — this class only moves
where the reads happen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from angle_spark.index.build import load_index, refresh_corpus_stats
from angle_spark.index.deletes import load_deletes
from angle_spark.query.wand import wand_topk


def hydrate(
    results: DataFrame,
    corpus: DataFrame,
    columns: tuple[str, ...] = ("conv_id", "turn_idx", "text"),
) -> DataFrame:
    """join ranked (query_id, rank, doc_id, score) rows back to their
    corpus metadata — what every serving caller does next, owned here so
    nobody re-invents it with a corpus shuffle.

    Scale shape: the RESULTS side is k * |queries| rows — broadcast it;
    the corpus streams through one scan as the probe side of a broadcast
    hash join. The corpus is NEVER shuffled and never collected: at
    10^12 turns the only corpus-sized cost is the scan itself (and a
    doc_id-clustered layout lets min/max row-group stats prune most of
    it; the docID assigner writes in (conv_id, turn_idx) ~ doc_id order,
    so that layout is the default one)."""
    side = corpus.select(F.col("doc_id").cast("long").alias("doc_id"), *columns)
    return side.join(F.broadcast(results), "doc_id").select(
        *results.columns, *columns
    )


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        cache_vocab: bool = False,
        storage_level: StorageLevel = StorageLevel.DISK_ONLY,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.cache_vocab = cache_vocab
        self.storage_level = storage_level
        self._merged: DataFrame | None = None
        self.refresh()

    def _session(self, kwargs: dict | None = None) -> tuple:
        """-> (spark, blocks, term stats, meta): the leading arguments of
        every engine call this session serves. Raises once the session
        is closed; the session's tombstones become the ``deletes``
        default of ``kwargs`` (a caller's explicit ``deletes`` wins)."""
        if self._merged is None:
            raise RuntimeError("Searcher is closed")
        if kwargs is not None:
            kwargs.setdefault("deletes", self.deletes)
        return self.spark, self._merged, self._tstats, self.meta

    def refresh(self) -> "Searcher":
        """(Re)open the current index generation: refreshed corpus stats,
        current deltas unioned in, current tombstones. Any previously
        persisted generation is released first."""
        if self._merged is not None:
            self._merged.unpersist()
        refresh_corpus_stats(self.spark, self.out_dir)
        merged, tstats, meta = load_index(self.spark, self.out_dir)
        self._merged = merged.persist(self.storage_level)
        self._merged.count()  # materialize now: serving wants cold cost at open
        self.meta = meta
        self.deletes = load_deletes(self.spark, self.out_dir)
        if self.cache_vocab:
            self._tstats = tstats.toPandas()  # bounded-vocab opt-in ONLY
        else:
            self._tstats = tstats
        return self

    def delete_by_query(self, text: str, mode: str = "boolean", **kwargs) -> int:
        """ES ``_delete_by_query`` against this Searcher's index:
        tombstone every live doc matching ``text`` (index/deletes.
        delete_by_query), then pick the new tombstones up for this
        session (the persisted blocks and stats stay valid — deletes
        are a mask, not a rewrite). Returns the newly-deleted count."""
        from angle_spark.index.deletes import delete_by_query

        n = delete_by_query(self.spark, self.out_dir, text, mode=mode, **kwargs)
        self.refresh_deletes()
        return n

    def update_by_query(
        self, text: str, source_docs, transform: str,
        mode: str = "boolean", **kwargs,
    ) -> int:
        """ES ``_update_by_query`` against this Searcher's index:
        tombstone + re-append every live doc matching ``text`` with its
        text rewritten by ``transform`` (index/update.update_by_query —
        journaled, kill-idempotent), then re-open this session on the
        new index generation (the block set changed — a delete-only
        refresh is not enough). Returns the rewritten-doc count."""
        from angle_spark.index.update import update_by_query

        n = update_by_query(
            self.spark, self.out_dir, text, source_docs, transform,
            mode=mode, **kwargs,
        )
        self.refresh()
        return n

    def refresh_deletes(self) -> "Searcher":
        """Cheap per-batch tombstone pickup: new deletes invalidate
        neither the persisted blocks nor the stats (pre-purge stats stay
        full-corpus by contract), so a serving loop that must see deletes
        immediately re-reads only the tombstone table — not the index.
        Use full refresh() for new segments or a finished purge."""
        self.deletes = load_deletes(self.spark, self.out_dir)
        return self

    def search(
        self,
        queries,
        prune: bool = True,
        mode: str = "or",
        slop: int = 0,
        doc_filter: DataFrame | None = None,
        hydrate_with: DataFrame | None = None,
        hydrate_columns: tuple[str, ...] = ("conv_id", "turn_idx", "text"),
        max_expansions: int = 64,
        min_match: int | None = None,
        synonyms: DataFrame | None = None,
        field_meta: DataFrame | None = None,
        offset: int = 0,
        sort_meta: DataFrame | None = None,
        sort_ascending: bool = False,
        search_after: dict[str, tuple[float, int]] | None = None,
    ) -> DataFrame:
        """queries: Spark or pandas DataFrame (query_id, text, k) — the
        same contract as wand_topk (mode or/and/phrase/near/boolean/
        prefix, slop, per-call doc_filter), which this delegates to with
        the session's cached state. With ``cache_vocab=True`` prefix
        expansion runs on the driver-side pandas vocabulary — zero extra
        Spark jobs per batch.

        hydrate_with: a corpus DataFrame carrying (doc_id, *hydrate_
        columns) — when given, results come back hydrated with the
        original turn metadata via a broadcast join of the small result
        side (see ``hydrate``); the corpus is never shuffled."""
        session = self._session()
        if synonyms is not None:
            # expansion rewrites the query's token BAG, which is only
            # meaningful for bag-of-words modes; structured query text
            # (phrase/near/boolean/prefix grammar) must not be rewritten
            if mode not in ("or", "and", "mm"):
                raise ValueError(
                    f"synonyms apply to bag-of-words modes (or/and/mm), not {mode!r}"
                )
            from angle_spark.query.synonyms import expand_queries

            if not isinstance(queries, DataFrame):
                queries = self.spark.createDataFrame(queries)
            queries = expand_queries(queries, synonyms)
        out = wand_topk(
            *session,
            queries,
            prune=prune,
            mode=mode,
            slop=slop,
            deletes=self.deletes,
            doc_filter=doc_filter,
            max_expansions=max_expansions,
            min_match=min_match,
            field_meta=field_meta,
            offset=offset,
            sort_meta=sort_meta,
            sort_ascending=sort_ascending,
            search_after=search_after,
        )
        if hydrate_with is not None:
            out = hydrate(out, hydrate_with, hydrate_columns)
        return out

    def count(self, queries, **kwargs) -> DataFrame:
        """-> (query_id, total_hits): exact per-query matched-doc counts
        (Lucene TotalHitCountCollector analog — see wand.count_matches).
        Accepts the same mode/doc_filter/field_meta keywords as search;
        the session's tombstones apply."""
        from angle_spark.query.wand import count_matches

        return count_matches(*self._session(kwargs), queries, **kwargs)

    def aggregate(self, queries, values, **kwargs) -> DataFrame:
        """-> (query_id, n_docs, n_values, sum, min, max, avg): metric
        aggregation of a (doc_id, value) column over each query's
        matched docs (ES stats-agg shape — wand.aggregate_matches); the
        session's tombstones apply."""
        from angle_spark.query.wand import aggregate_matches

        return aggregate_matches(*self._session(kwargs), queries, values, **kwargs)

    def percentiles(self, queries, values, percentiles=(0.25, 0.5, 0.75),
                    **kwargs) -> DataFrame:
        """-> (query_id, pct, value): percentiles of a (doc_id, value)
        column over each query's matched docs (ES percentiles-agg shape
        — wand.percentile_matches, exact by default, exact=False for
        the t-digest-style sketch); the session's tombstones apply."""
        from angle_spark.query.wand import percentile_matches

        return percentile_matches(
            *self._session(kwargs), queries, values, percentiles=percentiles, **kwargs,
        )

    def matched_ids(self, queries, **kwargs) -> DataFrame:
        """-> (query_id, doc_id): complete matched-doc membership, no
        scores (the export/join surface — wand.matched_ids); the
        session's tombstones apply."""
        from angle_spark.query.wand import matched_ids

        return matched_ids(*self._session(kwargs), queries, **kwargs)

    def matrix_stats(self, queries, values, **kwargs) -> DataFrame:
        """-> pairwise covariance/correlation of numeric doc fields over
        each query's matched docs (ES matrix_stats shape —
        wand.matrix_stats_matches); the session's tombstones apply."""
        from angle_spark.query.wand import matrix_stats_matches

        return matrix_stats_matches(*self._session(kwargs), queries, values, **kwargs)

    def boosting(self, queries, negative_boost=0.5, **kwargs) -> DataFrame:
        """-> (query_id, rank, doc_id, score): ES boosting query — rank
        by the positive query, demote (never exclude) docs also matching
        the negative query by ``negative_boost`` (query/boosting.py).
        ``queries``: (query_id, text, negative, k); the session's
        tombstones apply to both phases."""
        from angle_spark.query.boosting import boosting_topk

        return boosting_topk(
            *self._session(kwargs), queries, negative_boost=negative_boost, **kwargs,
        )

    def constant_score(self, queries, boost=1.0, **kwargs) -> DataFrame:
        """-> (query_id, rank, doc_id, score): ES constant_score — every
        matching doc scores exactly ``boost``, ranked in docID order
        (query/boosting.py); the session's tombstones apply."""
        from angle_spark.query.boosting import constant_score_topk

        return constant_score_topk(
            *self._session(kwargs), queries, boost=boost, **kwargs,
        )

    def weighted_avg(self, queries, values, **kwargs) -> DataFrame:
        """-> (query_id, n_values, weighted_avg): Σ(value·weight)/Σ(weight)
        over each query's matched docs (ES weighted_avg — query/wand.py
        weighted_avg_matches); ``values`` is a (doc_id, value, weight)
        frame; the session's tombstones apply."""
        from angle_spark.query.wand import weighted_avg_matches

        return weighted_avg_matches(*self._session(kwargs), queries, values, **kwargs)

    def must_not(self, queries, boost=1.0, **kwargs) -> DataFrame:
        """-> (query_id, rank, doc_id, score): pure-negation retrieval —
        every live doc NOT matching the query, constant ``boost`` score
        in docID order (ES bool-with-only-must_not; query/boosting.py
        must_not_topk). The session's tombstones shrink both the
        match_all axis and the membership pass."""
        from angle_spark.query.boosting import must_not_topk

        return must_not_topk(*self._session(kwargs), queries, boost=boost, **kwargs)

    def function_score(self, queries, factors, **kwargs) -> DataFrame:
        """-> (query_id, rank, doc_id, score): BM25 * per-doc factor
        top-k (ES function_score boost_mode=multiply —
        query/function_score.py; build factors with decay_factors /
        field_value_factor, or pass a DocValues handle); the session's
        tombstones apply."""
        from angle_spark.query.function_score import function_score_topk

        return function_score_topk(*self._session(kwargs), queries, factors, **kwargs)

    def top_hits(self, queries, groups, n=3, **kwargs) -> DataFrame:
        """-> (query_id, group, rank, doc_id, score): the top-n hits by
        score within each bucket of each query's matched docs (ES
        top_hits-under-terms shape — wand.top_hits_matches); the
        session's tombstones apply."""
        from angle_spark.query.wand import top_hits_matches

        return top_hits_matches(*self._session(kwargs), queries, groups, n=n, **kwargs)

    def has_child(self, queries, parents, score_mode="max",
                  **kwargs) -> DataFrame:
        """-> (query_id, rank, parent_id, score, n_children): the top-k
        PARENTS per query — ES has_child / parent-join (score_mode max /
        sum / avg / min over each parent's matching children's scores;
        query/join_field.py). ``parents`` is a (doc_id, parent_id:long)
        frame or a numeric DocValues handle; the session's tombstones
        apply."""
        from angle_spark.query.join_field import parent_topk

        return parent_topk(
            *self._session(kwargs), queries, parents, score_mode=score_mode, **kwargs,
        )

    def cardinality(self, queries, values, **kwargs) -> DataFrame:
        """-> (query_id, cardinality): distinct count of a (doc_id,
        value) column over each query's matched docs (ES
        cardinality-agg shape — wand.cardinality_matches, exact by
        default, exact=False for the HLL++ sketch); the session's
        tombstones apply."""
        from angle_spark.query.wand import cardinality_matches

        return cardinality_matches(*self._session(kwargs), queries, values, **kwargs)

    def adjacency(self, queries, **kwargs) -> DataFrame:
        """-> (query_a, query_b, n_docs): pairwise co-match counts of
        the query set (ES adjacency_matrix — wand.adjacency_matrix);
        the session's tombstones apply."""
        from angle_spark.query.wand import adjacency_matrix

        return adjacency_matrix(*self._session(kwargs), queries, **kwargs)

    def composite(self, queries, groups, size=10, after=None,
                  values=None, **kwargs) -> DataFrame:
        """-> (query_id, group, n_docs[, stats...]): key-ordered bucket
        pages with an after cursor (ES composite agg —
        wand.composite_buckets); the session's tombstones apply."""
        from angle_spark.query.wand import composite_buckets

        return composite_buckets(
            *self._session(kwargs), queries,
            groups, size=size, after=after, values=values, **kwargs,
        )

    def term_vectors(self, doc_ids, positions=False) -> DataFrame:
        """-> (doc_id, term, tf, dl, df, idf[, positions]): each
        requested doc's term vector read from the posting blocks (ES
        _termvectors — query/termvectors.py); a point-lookup API,
        doc_ids is a bounded list."""
        from angle_spark.query.termvectors import term_vectors

        return term_vectors(*self._session(), doc_ids, positions=positions)

    def suggest(self, words, max_dist=2, k=3, suggest_mode="always") -> DataFrame:
        """-> (word, rank, term, dist, df): spell suggestions from this
        index's vocabulary (query/suggest.suggest_terms, incl. the ES
        suggest_mode knob). A cached-vocab Searcher re-uploads its
        bounded pandas vocabulary as a one-off frame — the same opt-in
        contract as its other vocabulary rewrites."""
        from angle_spark.query.suggest import suggest_terms

        self._session()
        return suggest_terms(
            self.spark, self._vocab_df(), words,
            max_dist=max_dist, k=k, suggest_mode=suggest_mode,
        )

    def complete(self, prefixes, k=5) -> DataFrame:
        """-> (prefix, rank, term, df): search-as-you-type completions
        (query/suggest.complete_terms) from this index's vocabulary."""
        from angle_spark.query.suggest import complete_terms

        self._session()
        return complete_terms(self.spark, self._vocab_df(), prefixes, k=k)

    def _vocab_df(self) -> DataFrame:
        """term_stats as a Spark frame regardless of the cache_vocab
        rendition (the suggesters' plans are Spark-side)."""
        import pandas as pd

        if isinstance(self._tstats, pd.DataFrame):
            return self.spark.createDataFrame(self._tstats[["term", "df"]])
        return self._tstats

    def docvalues(self, name: str):
        """Open the handle of a stored docvalues field of this index
        (index/docvalues.py) — pass it to search(sort_meta=...),
        aggregate(values=...) or group(groups=/values=...) so shard
        tasks read the field task-locally instead of shipping a
        per-batch metadata frame."""
        from angle_spark.index.docvalues import load_docvalues

        return load_docvalues(self.spark, self.out_dir, name)

    def group(self, queries, groups, values=None, **kwargs) -> DataFrame:
        """-> (query_id, group, n_docs[, value stats]): bucketed
        aggregation of each query's matched docs by a (doc_id, group)
        label, optionally with a (doc_id, value) stats sub-aggregation
        (ES terms-agg shape — wand.group_matches); the session's
        tombstones apply."""
        from angle_spark.query.wand import group_matches

        return group_matches(*self._session(kwargs), queries, groups, values, **kwargs)

    def explain(self, queries, results: DataFrame) -> DataFrame:
        """Per-hit BM25 breakdown (query/explain.py): one row per
        (hit, matching query term) with (tf, dl, idf, contribution);
        the ascending-term fold of a hit's contributions equals its
        reported score exactly."""
        from angle_spark.query.explain import explain_hits

        return explain_hits(*self._session(), queries, results)

    def close(self) -> None:
        if self._merged is not None:
            self._merged.unpersist()
            self._merged = None

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
