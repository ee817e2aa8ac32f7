"""Top-k BM25 over the compressed index with block-max pruning.

Distributed shape (classic shard-and-merge search architecture):

    all query terms (tiny, idf computed driver-side from term_stats)
      -> merged blocks WHERE term IN (...)   <- parquet row-group pruning
      -> groupBy(shard)                       <- shard = segment_id // G;
         applyInPandas(_score_shard_multi)       each block crosses the
                                                 shuffle ONCE, not per query
      -> global per-query window top-k        <- union of shard-local
                                                 top-ks ⊇ exact answer

Inside a shard the whole query batch is evaluated against local blocks:
decode + (tf, denom) arrays are memoized per block across queries;
scoring is an O(postings) dense accumulator over the shard's docID span
(no sort) whose output is bit-identical to the Python oracle's
ascending-term float64 fold. Pruning (prune=True) uses per-block bounds
idf*impact(max_tf, min_dl) recomputed with the current avgdl — NO decode
needed: single-term queries walk blocks in descending bound order and
stop when bound < θ (exact — a strictly-worse block cannot enter the
top-k even by tie-break); multi-term queries run MaxScore over the same
bounds (descending-bound term order, per-block skip when range-max(acc)
+ bound + remaining-bounds < θ; selection/output from an ascending
re-fold of all candidates — see _score_shard_multi). Shadow tests assert
prune == exhaustive == declarative == oracle (SURVEY.md §7 step 8),
pruning actually skips decodes (tests/test_index_build.py), and a
property-based fuzz guards bitwise prune/exhaustive identity
(tests/test_wand_property.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from angle_spark.codec import (
    B,
    K1,
    decode_doc_deltas,
    decode_doc_deltas_concat,
    decode_positions,
    decode_tfs,
    decode_varints,
    decode_varints_concat,
)
from angle_spark.index.build import IndexMeta
from angle_spark.index.deletes import mask_postings
from angle_spark.index.docvalues import DocValues, read_segment_values
from angle_spark.index.stats import idf_value

SHARD_TARGET_DOCS = 32768  # docs per scoring shard (auto shard sizing)

# MaxScore engages only for query batches at most this large. Measured on
# the 2M-turn index (BENCH.md): single-query calls win 1.1-1.3x from
# decode skipping; at 8 queries/batch the shared decode cache already
# amortizes everything MaxScore would skip (parity); at 400 the bound
# passes are pure overhead (~25%). Larger batches take the cached
# exhaustive fold for every term.
MAXSCORE_MAX_BATCH = 4


def query_term_stats(tstats, terms: list[str]) -> pd.DataFrame:
    """(term, df) rows for exactly the given terms — never the vocabulary.

    At 100 TB the vocabulary (ids, typos, hashes) is billions of terms; a
    full ``tstats.toPandas()`` OOMs the driver before the first query
    runs. The default path filters term_stats to the query-term set IN
    SPARK (predicate pushed to the parquet scan — the term column is the
    sort key of the term_stats layout) and collects only the matched rows:
    |terms ∩ vocab| rows, bounded by the query batch, never by the corpus.

    Passing a pandas DataFrame instead is the explicit OPT-IN fast path
    for served deployments with a bounded vocabulary that cache term
    stats driver-side (e.g. bench serving loops); the filter then runs
    in pandas."""
    if isinstance(tstats, pd.DataFrame):
        return tstats[tstats["term"].isin(terms)][["term", "df"]]
    return (
        tstats.filter(F.col("term").isin(terms)).select("term", "df").toPandas()
    )


def _topk_arrays(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    n = len(doc_ids)
    if n <= k:
        return doc_ids, scores
    if k <= 0:
        return doc_ids[:0], scores[:0]
    if n > 4 * k:
        # O(n) pre-select before the O(m log m) sort: every (score desc,
        # doc asc) top-k member scores >= the kth-largest score value, so
        # thresholding at it keeps a superset (ties included) — selection
        # over the survivors is identical to sorting the full array
        thr = np.partition(scores, n - k)[n - k]
        keep = scores >= thr
        doc_ids, scores = doc_ids[keep], scores[keep]
    sel = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[sel], scores[sel]


def _member(kdocs: np.ndarray | None, doc_ids: np.ndarray):
    """-> (mask of the doc_ids present in the ascending ``kdocs``, the
    positions of the present ones in ``kdocs``)."""
    if kdocs is None or not kdocs.size:
        return np.zeros(len(doc_ids), dtype=bool), np.empty(0, dtype=np.int64)
    pos = np.searchsorted(kdocs, doc_ids)
    pos[pos == kdocs.size] = 0
    hit = kdocs[pos] == doc_ids
    return hit, pos[hit]


_NO_KEYS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _lookup(keys, doc_ids: np.ndarray):
    """-> (mask of the doc_ids that carry a key, their keys in doc order);
    ``keys`` is a doc-ascending (docs, values) pair or None."""
    hit, at = _member(None if keys is None else keys[0], doc_ids)
    return hit, keys[1][at] if at.size else np.empty(0)


def _cursor(q) -> tuple[float, int] | None:
    """the query's search_after cursor (Lucene IndexSearcher.searchAfter):
    docs rank strictly AFTER (score, doc) under the shared (score DESC,
    doc_id ASC) order. NaN on the broadcast frame = no cursor (page 1)."""
    a_s = float(getattr(q, "after_s", np.nan))
    return (a_s, int(getattr(q, "after_d", -1))) if a_s == a_s else None


# Per-query shard folds: (query row, matched doc_ids, their scores, sort
# keys, group keys, group_k) -> the query's partial columns after
# query_id, or None for no rows. Every fold sees the COMPLETE distinct
# matched set except topk's (only topk runs with pruning on).


def _fold_topk(q, doc_ids, scores, sort_keys, group_keys, group_k):
    if sort_keys is not None:
        # sort-by-field: the sort key REPLACES relevance for selection
        # and output; docs missing a key sort last (-inf under the shared
        # largest-first selection)
        hit, keys = _lookup(sort_keys, doc_ids)
        scores = np.full(len(doc_ids), -np.inf)
        scores[hit] = keys
    cur = _cursor(q)
    if cur is not None:
        # page membership: strictly after the cursor under the selection
        # order. Applied AFTER any sort-key replacement (the cursor lives
        # in selection-key space) and before the shard-local cut, so
        # per-shard candidate cost stays k — the scale advantage over
        # offset paging. Idempotent where the pruned walk already filtered.
        keepc = (scores < cur[0]) | ((scores == cur[0]) & (doc_ids > cur[1]))
        doc_ids, scores = doc_ids[keepc], scores[keepc]
    return _topk_arrays(doc_ids, scores, int(q.k))


def _fold_count(q, doc_ids, scores, sort_keys, group_keys, group_k):
    return (np.array([len(doc_ids)]),)


def _fold_stats(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # docs missing a value count in n_docs but not in the value fold (the
    # ES stats-agg missing rule); empty folds ship the identities
    # (+inf/-inf/0), which the final min/max/sum ignore
    _, vals = _lookup(sort_keys, doc_ids)
    n = len(vals)
    return tuple(
        np.array([x])
        for x in (
            len(doc_ids),
            n,
            vals.sum() if n else 0.0,
            vals.min() if n else np.inf,
            vals.max() if n else -np.inf,
            (vals * vals).sum() if n else 0.0,
        )
    )


def _fold_group_stats(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # matched docs map to their group code; docs WITHOUT a group are
    # skipped entirely (the ES terms-agg missing rule — no bucket, no
    # count), docs with a group but no metric value count in the bucket's
    # n_docs only. One partial row per (query, code) this shard sees.
    hit, codes = _lookup(group_keys, doc_ids)
    if not hit.any():
        return None
    mdocs = doc_ids[hit]
    vhit, vals = _lookup(sort_keys, mdocs)
    v = np.full(len(mdocs), np.nan)
    v[vhit] = vals
    agg = (
        pd.DataFrame({"c": codes.astype(np.int64), "v": v})
        .groupby("c")["v"]
        .agg(["size", "count", "sum", "min", "max"])
    )
    has = agg["count"].to_numpy() > 0
    return (
        agg.index.to_numpy(),
        agg["size"].to_numpy(),
        agg["count"].to_numpy(),
        np.where(has, agg["sum"], 0.0),
        np.where(has, agg["min"], np.inf),
        np.where(has, agg["max"], -np.inf),
    )


def _fold_group_score(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # each matched CHILD contributes its exact BM25 score to its parent's
    # fold; docs without a parent mapping are skipped (the ES parent-join
    # missing rule). docIDs follow (conv_id, turn_idx), so a
    # conversation's turns are docID-contiguous and usually land in ONE
    # shard: the partial volume ~= matched parents, not matches x shards.
    hit, codes = _lookup(group_keys, doc_ids)
    if not hit.any():
        return None
    agg = (
        pd.DataFrame({"c": codes.astype(np.int64), "s": scores[hit]})
        .groupby("c")["s"]
        .agg(["size", "sum", "min", "max"])
    )
    return (agg.index.to_numpy(), *(agg[c].to_numpy() for c in agg.columns))


def _fold_group_topk(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # at most group_k rows per (query, bucket) this shard sees — the
    # bounded shard-local phase of ES top_hits; docs without a group are
    # skipped (the ES missing rule)
    hit, codes = _lookup(group_keys, doc_ids)
    if not hit.any():
        return None
    gd, mdocs, mscores = codes.astype(np.int64), doc_ids[hit], scores[hit]
    # (bucket asc, score desc, doc asc) — then the first group_k rows of
    # each bucket run
    order = np.lexsort((mdocs, -mscores, gd))
    gd, mdocs, mscores = gd[order], mdocs[order], mscores[order]
    starts = np.flatnonzero(np.r_[True, gd[1:] != gd[:-1]])
    lens = np.diff(np.r_[starts, gd.size])
    keep = np.arange(gd.size) - np.repeat(starts, lens) < group_k
    return gd[keep], mdocs[keep], mscores[keep]


def _fold_ids(q, doc_ids, scores, sort_keys, group_keys, group_k):
    return (doc_ids,)


def _fold_values(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # each matched doc's metric value — the exact-percentile feed; docs
    # without a value are skipped (the ES missing rule)
    return (_lookup(sort_keys, doc_ids)[1],)


def _fold_distinct_values(q, doc_ids, scores, sort_keys, group_keys, group_k):
    # shard-local map-side combine for distinct counting: a value seen by
    # many matched docs in this shard ships once
    return (pd.unique(_lookup(sort_keys, doc_ids)[1]),)


class _Tail(NamedTuple):
    """per-call inputs of the driver-side reduce"""

    spark: SparkSession
    tokenized: list  # (query_id, k, ...) per query: the final k of topk
    offset: int
    group_k: int
    negate: bool  # ascending sort keys ride negated; un-negate at the end


def _reduce_topk(local: DataFrame, tail: _Tail) -> DataFrame:
    kdf = tail.spark.createDataFrame(
        [(qid, k) for qid, k, *_ in tail.tokenized], schema="query_id string, k int"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        local.join(F.broadcast(kdf), "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )
    if tail.offset:
        # k was inflated by the offset driver-side; the page is the
        # global-rank window (offset, k]. rank stays GLOBAL so
        # consecutive pages tile the unpaged ranking exactly.
        out = out.filter(F.col("rank") > F.lit(tail.offset))
    if tail.negate:
        # keys were negated on the way in so the shared largest-first
        # selection could run unchanged; hand back the true key. A doc
        # missing its key came through as -inf and flips to +inf —
        # still "missing sorts last" under the ascending order
        out = out.withColumn("score", -F.col("score"))
    return out.select("query_id", "rank", "doc_id", "score")


def _reduce_count(local: DataFrame, tail: _Tail) -> DataFrame:
    # shard-local matched counts are disjoint by construction (a doc's
    # postings live in exactly one shard), so the global total is a plain
    # sum — no rank window, no k
    return local.groupBy("query_id").agg(F.sum("n").cast("long").alias("total_hits"))


def _reduce_stats(local: DataFrame, tail: _Tail) -> DataFrame:
    # shard partials fold associatively (disjoint doc sets); the
    # empty-fold identities (+inf/-inf/0) vanish under min/max/sum, and an
    # all-missing query NULLs its value stats. avg is sum/count (not a
    # running mean) so integer-valued metrics stay exact; float sums are
    # shard-fold-order deterministic but the cross-shard fold is Spark's —
    # ULP tolerance applies, as with every distributed double sum here.
    agg = local.groupBy("query_id").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_vals").cast("long").alias("n_values"),
        F.sum("vsum").alias("sum"),
        F.min("vmin").alias("min"),
        F.max("vmax").alias("max"),
        F.sum("vsumsq").alias("sumsq"),
    )
    has = F.col("n_values") > 0
    return agg.select(
        "query_id",
        "n_docs",
        "n_values",
        F.when(has, F.col("sum")).alias("sum"),
        F.when(has, F.col("min")).alias("min"),
        F.when(has, F.col("max")).alias("max"),
        F.when(has, F.col("sum") / F.col("n_values")).alias("avg"),
        F.when(has, F.col("sumsq")).alias("sum_of_squares"),
    )


def _reduce_group_stats(local: DataFrame, tail: _Tail) -> DataFrame:
    # the stats fold keyed by (query, bucket code); the bucket count is
    # facet-cardinality bounded, so this groupBy shuffles a narrow frame
    agg = local.groupBy("query_id", "gcode").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_vals").cast("long").alias("n_values"),
        F.sum("vsum").alias("sum"),
        F.min("vmin").alias("min"),
        F.max("vmax").alias("max"),
    )
    has = F.col("n_values") > 0
    return agg.select(
        "query_id",
        "gcode",
        "n_docs",
        "n_values",
        F.when(has, F.col("sum")).alias("sum"),
        F.when(has, F.col("min")).alias("min"),
        F.when(has, F.col("max")).alias("max"),
        F.when(has, F.col("sum") / F.col("n_values")).alias("avg"),
    )


def _reduce_group_score(local: DataFrame, tail: _Tail) -> DataFrame:
    # the group_stats merge over child SCORES, keyed by (query, parent
    # code): a match-bounded frame, never the corpus. min/max fold
    # exactly; sum (and avg = sum/count) carries the cross-shard
    # double-fold ULP tolerance.
    agg = local.groupBy("query_id", "gcode").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("ssum").alias("sum"),
        F.min("smin").alias("min"),
        F.max("smax").alias("max"),
    )
    return agg.select(
        "query_id", "gcode", "n_docs", "sum", "min", "max",
        (F.col("sum") / F.col("n_docs")).alias("avg"),
    )


def _reduce_group_topk(local: DataFrame, tail: _Tail) -> DataFrame:
    # shards shipped <= group_k rows per (query, bucket) each; the global
    # cut is a window over that bounded frame (shards x buckets x
    # group_k), partitioned by the bucket key — never corpus
    wg = Window.partitionBy("query_id", "gcode").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= F.lit(tail.group_k))
        .select("query_id", "gcode", "rank", "doc_id", "score")
    )


def _reduce_none(local: DataFrame, tail: _Tail) -> DataFrame:
    # O(matches) rows whose fold the caller owns (order statistics,
    # distinct counts, joins); shards partition docs, so the rows are
    # already distinct per (query, doc) — no reduce at all
    return local


_NP_TYPES = {"string": object, "long": np.int64, "int": np.int32, "double": np.float64}


@dataclass(frozen=True)
class Collector:
    """One collector of the query tail — Lucene's Collector: the per-hit
    fold that runs inside each shard task plus the driver-side reduce
    that merges the shards' partials.

    ``partial``/``result`` are the DDL of a shard's partial rows and of
    the reduced frame (a batch that reaches no shard returns an empty
    ``result`` frame). Only a ranking collector (``ranks``) keeps block
    pruning — every other one needs the complete matched set, so it
    forces prune=False — and only it takes offset pages, search_after
    cursors, sort_multiply and demote_sets. ``needs`` names the side
    input the collector requires (``source`` describes it), ``rejects``
    the wand_topk arguments meaningless with it, and ``no_sort`` (when
    not None) rejects sort_meta, with that reason."""

    partial: str
    result: str
    fold: Callable
    reduce: Callable[[DataFrame, _Tail], DataFrame]
    ranks: bool = False
    needs: str | None = None
    source: str = ""
    rejects: tuple[str, ...] = ("offset", "sort_ascending")
    no_sort: str | None = None

    def frame(self, qids: list, parts: list[tuple]) -> pd.DataFrame:
        """one shard's partial rows from its per-query fold outputs"""
        fields = [f.split() for f in self.partial.split(",")]
        cols = {
            "query_id": np.repeat(
                np.array(qids, dtype=object), [len(p[0]) for p in parts]
            )
        }
        for i, (name, typ) in enumerate(fields[1:]):
            cols[name] = (
                np.concatenate([p[i] for p in parts]) if parts else np.empty(0)
            ).astype(_NP_TYPES[typ], copy=False)
        return pd.DataFrame(cols)


COLLECTORS: dict[str, Collector] = {
    "topk": Collector(
        "query_id string, doc_id long, score double",
        "query_id string, rank int, doc_id long, score double",
        _fold_topk, _reduce_topk, ranks=True, rejects=(),
    ),
    # Lucene TotalHitCountCollector: the shard's exact matched count
    "count": Collector(
        "query_id string, n long",
        "query_id string, total_hits long",
        _fold_count, _reduce_count, rejects=("offset",), no_sort="",
    ),
    # ES stats agg: per-(query, shard) matched-doc count, value count and
    # the value fold
    "stats": Collector(
        "query_id string, n_docs long, n_vals long, "
        "vsum double, vmin double, vmax double, vsumsq double",
        "query_id string, n_docs long, n_values long, sum double, min double, "
        "max double, avg double, sum_of_squares double",
        _fold_stats, _reduce_stats,
        needs="sort_meta", source="(doc_id, value) source — use aggregate_matches()",
    ),
    # ES terms-agg buckets: the stats fold keyed by the doc's
    # dictionary-encoded group code
    "group_stats": Collector(
        "query_id string, gcode long, n_docs long, n_vals long, "
        "vsum double, vmin double, vmax double",
        "query_id string, gcode long, n_docs long, n_values long, "
        "sum double, min double, max double, avg double",
        _fold_group_stats, _reduce_group_stats,
        needs="group_meta", source="(doc_id, gcode) bucket source — use group_matches()",
    ),
    # ES top_hits under a terms agg: per-bucket top hits
    "group_topk": Collector(
        "query_id string, gcode long, doc_id long, score double",
        "query_id string, gcode long, rank int, doc_id long, score double",
        _fold_group_topk, _reduce_group_topk,
        needs="group_meta", source="(doc_id, gcode) bucket source — use top_hits_matches()",
        no_sort=" — hits rank by score",
    ),
    # ES has_child / parent-join: per (query, parent code) count + fold
    # of the matched CHILDREN'S BM25 SCORES. The numeric parent id IS the
    # code (rides the side channel as a double, exact to 2^53), so parent
    # cardinality can be corpus-scale
    "group_score": Collector(
        "query_id string, gcode long, n_docs long, ssum double, smin double, smax double",
        "query_id string, gcode long, n_docs long, "
        "sum double, min double, max double, avg double",
        _fold_group_score, _reduce_group_score,
        needs="group_meta", source="(doc_id, gcode) parent source — use parent_matches()",
        no_sort=" — the aggregated value IS the child score",
    ),
    # one row per (query, matched doc WITH a value): the exact-percentile
    # feed, O(matches) by nature (order statistics don't fold)
    "values": Collector(
        "query_id string, val double",
        "query_id string, val double",
        _fold_values, _reduce_none, needs="sort_meta",
        source="(doc_id, value) source — use percentile_matches() / "
        "cardinality_matches()",
    ),
    # the values feed deduped per (query, value) shard-locally: rows leave
    # a shard bounded by its distinct values, not its matches
    "distinct_values": Collector(
        "query_id string, val double",
        "query_id string, val double",
        _fold_distinct_values, _reduce_none, needs="sort_meta",
        source="(doc_id, value) source — use percentile_matches() / "
        "cardinality_matches()",
    ),
    # bare membership, no scores: the export/join feed (matrix_stats,
    # terms-lookup joins), O(matches) by nature
    "ids": Collector(
        "query_id string, doc_id long",
        "query_id string, doc_id long",
        _fold_ids, _reduce_none, no_sort="",
    ),
}


def _block_bounds(g: pd.DataFrame, idf: float, avgdl: float) -> np.ndarray:
    """per-block BM25 upper bounds from (max_tf, min_dl) with the CURRENT
    avgdl — never from the stored (advisory) max_impact column."""
    mt = g["max_tf"].to_numpy(dtype=np.float64)
    md = g["min_dl"].to_numpy(dtype=np.float64)
    return idf * mt * (K1 + 1.0) / (mt + K1 * (1.0 - B + B * md / avgdl))


def _range_max(acc: np.ndarray, firsts: np.ndarray, lasts: np.ndarray) -> np.ndarray:
    """max(acc[f:l+1]) per disjoint ascending range, one reduceat pass."""
    idx = np.empty(2 * len(firsts), dtype=np.int64)
    idx[0::2] = firsts
    idx[1::2] = lasts + 1
    if idx[-1] >= len(acc):  # reduceat's final slice runs to the end anyway
        idx = idx[:-1]
    return np.maximum.reduceat(acc, idx)[0::2]


def _maxscore_multi(
    present, by_term, decode, term_arrays, acc, acc2, base, avgdl, k, term_heat, bounds_cache
):
    """MaxScore fold (see _score_shard_multi docstring): descending-bound
    term order with per-block skipping for DISCOVERY, then an ascending-
    term re-fold of all candidates for selection + output, bit-matching
    the exhaustive path.

    Adaptive regime switch via ``term_heat`` (per-task touch counts):
    block skipping pays when decode dominates — a term's FIRST touch in
    this task. Once a term is warm its decode is amortized across the
    query batch by the shared caches, and the cached full-term accumulate
    is faster than bound-pass + partial concat (measured both ways on the
    2M-turn index; unconditional skipping regressed the 400-query batch
    ~25%). theta maintenance (an O(postings) partition per term) is also
    skipped when no LATER term is cold — a theta nothing will consume is
    pure overhead. Keeping extra blocks never changes results: skips are
    an optimization, exactness never depends on them."""
    ordered = []
    for term, idf in present:
        ub_hit = bounds_cache.get(term)
        if ub_hit is None:
            ubs = _block_bounds(by_term[term], idf, avgdl)
            ub_hit = (ubs, float(ubs.max()))
            bounds_cache[term] = ub_hit
        ordered.append((ub_hit[1], term, idf, ub_hit[0]))
    ordered.sort(key=lambda x: (-x[0], x[1]))
    remaining = sum(t[0] for t in ordered)

    cold = [term_heat.get(term, 0) < 1 for _, term, _, _ in ordered]
    # does any term AFTER position i still want a theta?
    later_cold = np.cumsum(cold[::-1])[::-1]

    theta = -np.inf
    idx_parts: list[np.ndarray] = []
    acc_parts: list[np.ndarray] = []
    kept_arrays: dict[str, tuple] = {}
    for i, (ubt, term, idf, ubs) in enumerate(ordered):
        remaining -= ubt  # R: bounds of terms still unfolded after this one
        g = by_term[term]
        term_heat[term] = term_heat.get(term, 0) + 1
        if cold[i] and theta > -np.inf:
            firsts = g["first_doc"].to_numpy(dtype=np.int64) - base
            lasts = g["last_doc"].to_numpy(dtype=np.int64) - base
            keep = _range_max(acc, firsts, lasts) + ubs + remaining >= theta
        else:
            keep = np.ones(len(ubs), dtype=bool)

        if keep.all():
            d, tf, denom = term_arrays(term)  # cached across queries
        elif not keep.any():
            continue
        else:
            parts = [
                decode(row)
                for krow, row in zip(keep, g.itertuples(index=False), strict=False)
                if krow
            ]
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts])
            denom = np.concatenate([p[2] for p in parts])
        li = d - base
        kept_arrays[term] = (li, tf, denom)
        idx_parts.append(li)
        # the discovery accumulator exists ONLY to serve later cold terms'
        # skip decisions (range-max) and theta. Once no cold term remains,
        # folding into it is pure overhead — trailing terms (typically the
        # warm stopwords) contribute via phase 2 alone, so they are folded
        # once, not twice. Invariant: every term BEFORE a cold term does
        # accumulate (later_cold is true there), so skip decisions always
        # see the full prior mass.
        if i + 1 < len(ordered) and later_cold[i + 1]:
            acc[li] += idf * tf * (K1 + 1.0) / denom
            acc_parts.append(li)
            # theta: ANY lower bound of the true kth-largest keeps skips
            # exact; kth-largest over this term's updated cells is one
            # O(postings) partition — no running union of the touched set.
            if len(li) >= k:
                cand = np.partition(acc[li], -k)[-k]
                if cand > theta:
                    theta = cand

    if not idx_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    cand = np.unique(np.concatenate(idx_parts))
    if acc_parts:  # reset only cells the discovery fold actually wrote
        acc[np.concatenate(acc_parts)] = 0.0

    # phase 2: re-fold EVERY candidate in ascending term order into a
    # second dense accumulator — selection and output both use these
    # values, so they are bit-identical to the exhaustive path (and the
    # oracle) for fully-kept docs, and the tie-break at the kth boundary
    # can never be perturbed by the discovery fold's different summation
    # order. Docs missing a skipped block under-accumulate here, but they
    # sit at least one whole skipped BM25 contribution below theta_final
    # (>= idf_min * impact_min, many orders of magnitude above float64
    # fold noise), so they can neither displace nor tie a winner. Cost =
    # exactly the exhaustive fold over the KEPT postings (dense scatter-
    # add, no decode, no sort, no searchsorted).
    for term, idf in present:
        hit = kept_arrays.get(term)
        if hit is None:
            continue
        li, tf, denom = hit
        acc2[li] += idf * tf * (K1 + 1.0) / denom
    scores = acc2[cand].copy()
    acc2[cand] = 0.0  # written cells == candidate union
    return _topk_arrays(cand + base, scores, k)


def _score_shard_multi(
    pdf: pd.DataFrame,
    qt: pd.DataFrame,
    avgdl: float,
    prune: bool,
    deleted: np.ndarray | None = None,
    mode: str = "or",
    slop: int = 0,
    allowed: np.ndarray | None = None,
    field_sets: dict[int, np.ndarray] | None = None,
    collector: str = "topk",
    sort_keys: tuple[np.ndarray, np.ndarray] | None = None,
    group_keys: tuple[np.ndarray, np.ndarray] | None = None,
    factors: tuple[np.ndarray, np.ndarray] | None = None,
    group_k: int = 3,
) -> pd.DataFrame:
    """One shard's blocks (each block shipped ONCE, not once per query)
    scored against the whole query set.

    Each query's matched (doc_ids, scores) go to the fold of
    ``COLLECTORS[collector]``, which turns them into the collector's
    partial rows. Every collector but topk runs with prune=False (the
    caller enforces it): every non-pruned branch materializes the full
    distinct matched-doc set, so a count or an aggregate costs no extra
    scoring work. ``sort_keys`` / ``group_keys`` are the doc-ascending
    (docs, values) side inputs the folds read; ``factors`` multiply
    scores before the fold (function_score), like demotion does.

    Sharing: each block decodes at most once per shard task, and the
    idf-free impact array computes once — cached across every query that
    touches the term.

    Scoring is an O(postings) dense accumulator over the shard's local
    docID span (no sort): score[doc-base] += idf*impact, terms processed
    in ascending term order so the float64 fold is bit-identical to the
    Python oracle.

    Block-max WAND (prune=True): per-block upper bound
    idf * impact(max_tf, min_dl) needs NO decode (recomputed with the
    CURRENT avgdl — the stored max_impact is advisory, see index/spimi.py).
    Single-term queries walk blocks in descending bound order and stop
    decoding as soon as bound < theta (current kth score).

    Multi-term queries use MaxScore over the block bounds (Turtle & Flood
    style, term-at-a-time): terms are folded in DESCENDING per-term bound
    order (rare/high-idf terms first, so theta rises before the stopword
    lists arrive); before decoding term t, with R = sum of bounds of the
    terms still unfolded after t, a block b is skipped iff

        max(acc over b's doc range) + bound(t, b) + R  <  theta

    — any doc in the block, even the currently-best one, would still fall
    short of the current kth score, so the block can contain neither a new
    top-k member nor one whose exact score matters (a doc with a skipped
    posting is provably below theta_final and thus never output, and ties
    are safe because the skip test is strict). The range max is one
    np.maximum.reduceat over the accumulator (no decode); decoded blocks
    stay cached across queries.

    The descending-order accumulator drives SKIP DECISIONS ONLY. Both
    selection and output come from a second, ascending-term fold over all
    candidates (_maxscore_multi phase 2), so every fully-kept doc carries
    bits identical to the exhaustive path and the Python oracle — found
    the hard way: ranking on the discovery fold flipped a k-boundary tie
    between two docs whose scores differ by less than the fold-order ULP
    noise (caught by tests/test_wand_property.py, kept as a regression
    case)."""
    coll = COLLECTORS[collector]
    assert coll.ranks or not prune, f"collector={collector!r} needs prune=False"
    if pdf.empty:  # side-channel rows reached a shard with no candidate blocks
        return coll.frame([], [])
    by_term: dict[str, pd.DataFrame] = {
        # sorted by first_doc: per-term concatenated posting arrays are
        # then doc-ascending (disjoint block ranges), keeping every fold
        # over them a forward pass in docID order
        t: g.sort_values("first_doc") for t, g in pdf.groupby("term", sort=False)
    }
    base = int(pdf["first_doc"].min())
    span = int(pdf["last_doc"].max()) - base + 1

    def apply_masks(d, tf, dl):
        """drop the postings of docs outside the allow-list (filtered
        retrieval) or tombstoned. Masking at DECODE time keeps pruning
        exact: block bounds stay valid upper bounds for the surviving
        postings, and theta only ever rises on live docs — a post-scoring
        filter would instead let deleted docs inflate theta and prune
        away live top-k members."""
        if allowed is not None:
            keep = _member(allowed, d)[0]
        elif deleted is not None:
            keep = mask_postings(d, deleted)
        else:
            keep = None
        if keep is None or keep.all():
            return d, tf, dl
        return d[keep], tf[keep], dl[keep]

    decoded: dict[tuple, tuple] = {}

    def decode(row):
        # (term, first_doc) is globally unique: a term's blocks cover
        # disjoint doc ranges (streamed appends may reuse block_in_seg=0
        # within a segment, so that key would collide)
        key = (row.term, row.first_doc)
        hit = decoded.get(key)
        if hit is None:
            d, tf, dl = apply_masks(
                decode_doc_deltas(row.docs_bin),
                decode_tfs(row.tfs_bin).astype(np.float64),
                decode_varints(row.dls_bin).astype(np.float64),
            )
            denom = tf + K1 * (1.0 - B + B * dl / avgdl)
            hit = (d, tf, denom)
            decoded[key] = hit
        return hit

    term_cache: dict[str, tuple] = {}

    def term_arrays(term):
        """whole-term concatenated (docs, tf, denom) for this shard —
        one vectorized accumulate per (query, term) instead of one tiny
        numpy op per block per query.

        Decode is BATCHED across the term's blocks (codec
        decode_varints_concat): block rows hold <= BLOCK_SIZE values, so
        per-call numpy overhead on tiny arrays — not byte volume — was
        57% of shard-task CPU at the 2M-doc scale bench. Value-identical
        to the per-block decode() path by the codec's concat contract;
        masking applies to the concatenated arrays with the same
        elementwise semantics as per block."""
        hit = term_cache.get(term)
        if hit is None:
            g = by_term[term]
            tf_v, _ = decode_varints_concat(g["tfs_bin"].tolist())
            dl_v, _ = decode_varints_concat(g["dls_bin"].tolist())
            d, tf, dl = apply_masks(
                decode_doc_deltas_concat(g["docs_bin"].tolist()),
                (tf_v.astype(np.int64) + 1).astype(np.float64),
                dl_v.astype(np.float64),
            )
            denom = tf + K1 * (1.0 - B + B * dl / avgdl)
            hit = (d, tf, denom)
            term_cache[term] = hit
        return hit

    fold_cache: dict[tuple, tuple] = {}

    def term_fold(term, idf):
        """(local indices, BM25 contributions) for one (term, idf) —
        the accumulator fold's two operands, cached so every query that
        repeats a head term (stopword-heavy batches) reuses the arrays.
        Keyed by (term, idf) because boolean ^boosts scale idf per
        query; the contribution expression is character-identical to
        the inline fold it replaces, so cached folds stay bit-identical
        to the oracle."""
        key = (term, idf)
        hit = fold_cache.get(key)
        if hit is None:
            d, tf, denom = term_arrays(term)
            hit = (d - base, idf * tf * (K1 + 1.0) / denom)
            fold_cache[key] = hit
        return hit

    conjunctive = mode in ("and", "phrase", "near", "mm", "span_first", "ordered")

    pos_cache: dict[str, tuple] = {}

    def term_positions(term):
        """per-shard concatenated (docs, flat positions, boundaries) for
        one term — built only in phrase mode. Tombstone masking is NOT
        applied here: position lookups happen only for docs that survived
        the (masked) conjunctive fold, so a deleted doc never reaches
        this path."""
        hit = pos_cache.get(term)
        if hit is None:
            # positions still decode per block (decode_positions needs
            # the block's tf groups for its carry-undo), but docs/tfs
            # batch-decode across the term's blocks like term_arrays
            g = by_term[term]
            docs_c = decode_doc_deltas_concat(g["docs_bin"].tolist())
            tf_v, tf_counts = decode_varints_concat(g["tfs_bin"].tolist())
            tfs_c = tf_v.astype(np.int64) + 1
            flat_l = []
            at = 0
            for pos_bin, n in zip(g["pos_bin"].tolist(), tf_counts):
                flat, _ = decode_positions(pos_bin, tfs_c[at : at + n])
                flat_l.append(flat)
                at += int(n)
            hit = (
                docs_c,
                np.concatenate(flat_l) if flat_l else np.empty(0, np.int64),
                np.concatenate(([0], np.cumsum(tfs_c))),
            )
            pos_cache[term] = hit
        return hit

    def positions_of(term, doc):
        docs_c, flat, bounds = term_positions(term)
        i = int(np.searchsorted(docs_c, doc))
        if i >= len(docs_c) or docs_c[i] != doc:
            return None
        return flat[bounds[i] : bounds[i + 1]]

    def phrase_match(phrase, doc) -> bool:
        """classic positional-intersection walk: candidate start positions
        survive each token's offset check (P -> P with P+i in pos_i)."""
        P = positions_of(phrase[0], doc)
        if P is None:
            return False
        for i, tok in enumerate(phrase[1:], start=1):
            pi = positions_of(tok, doc)
            if pi is None:
                return False
            P = P[np.isin(P + i, pi)]
            if len(P) == 0:
                return False
        return True

    def near_match(terms, doc, slop) -> bool:
        """unordered proximity: some choice of one position per term spans
        at most ``slop`` tokens. Classic smallest-range-covering-k-lists
        two-pointer over the merged, labeled position lists."""
        lists = [positions_of(t, doc) for t in terms]
        if any(p is None for p in lists):
            return False
        if len(lists) == 1:
            return True
        pos = np.concatenate(lists)
        lab = np.concatenate(
            [np.full(len(p), i, dtype=np.int32) for i, p in enumerate(lists)]
        )
        o = np.argsort(pos, kind="stable")
        pos, lab = pos[o], lab[o]
        need = len(lists)
        have = 0
        counts = np.zeros(need, dtype=np.int32)
        lo = 0
        for hi in range(len(pos)):
            if counts[lab[hi]] == 0:
                have += 1
            counts[lab[hi]] += 1
            while have == need:
                if pos[hi] - pos[lo] <= slop:
                    return True
                counts[lab[lo]] -= 1
                if counts[lab[lo]] == 0:
                    have -= 1
                lo += 1
        return False

    def ordered_match(seq, doc, max_gaps) -> bool:
        """Lucene ordered intervals (IntervalsSource ordered(), the ES
        intervals query's ``ordered: true`` + ``max_gaps``): positions
        p_0 < p_1 < ... < p_{n-1}, one per token IN QUERY ORDER, whose
        total gap count p_{n-1} - p_0 - (n-1) is at most ``max_gaps``.
        Greedy-next chaining from each start position yields the
        MINIMAL end for that start (each step takes the smallest legal
        position), so scanning all starts decides exactly. Repeated
        query tokens need distinct, increasing positions — the strict
        inequality enforces it."""
        lists = [positions_of(t, doc) for t in seq]
        if any(p is None or len(p) == 0 for p in lists):
            return False
        n = len(lists)
        if n == 1:
            return True
        for p0 in lists[0]:
            p = p0
            ok = True
            for i in range(1, n):
                j = int(np.searchsorted(lists[i], p, side="right"))
                if j >= len(lists[i]):
                    ok = False
                    break
                p = lists[i][j]
            if ok and int(p) - int(p0) - (n - 1) <= max_gaps:
                return True
        return False

    def span_first_match(terms, doc, end) -> bool:
        """Lucene SpanFirstQuery over each term: every query term's
        FIRST occurrence lies before position ``end`` (exclusive;
        position lists decode ascending, so element 0 is the min)."""
        for t in terms:
            p = positions_of(t, doc)
            if p is None or len(p) == 0 or int(p[0]) >= end:
                return False
        return True

    def bool_mask(node) -> np.ndarray:
        """boolean-tree evaluation over the shard's docID span (mode=
        "boolean"). Exact shard-locally for the same reason conjunctive
        mode is: every posting of a doc lives in its own segment.
        Leaves reuse the shared decode caches; phrase/NEAR leaves verify
        positions only over their own conjunctive survivors. Boost
        wrappers are scoring-only and transparent to membership."""
        kind = node[0]
        if kind == "boost":
            return bool_mask(node[1])
        if kind == "term":
            t = node[1]
            m = np.zeros(span, dtype=bool)
            if t in by_term:
                d, _, _ = term_arrays(t)
                m[d - base] = True
            return m
        if kind == "fieldset":
            # field:value membership: the leaf's docID set arrived via
            # the cogrouped side channel, restricted here to this
            # shard's span. Filter context — never scored; the parser's
            # coverage rule guarantees any matched doc also carries a
            # scoring term (whose decode applied tombstone/allow masks).
            m = np.zeros(span, dtype=bool)
            arr = field_sets.get(int(node[1])) if field_sets else None
            if arr is not None and arr.size:
                sel = arr[(arr >= base) & (arr < base + span)]
                m[sel - base] = True
            return m
        if kind == "phrase":
            toks, sl = list(node[1]), int(node[2])
            distinct = sorted(set(toks))
            m = np.zeros(span, dtype=bool)
            if any(t not in by_term for t in distinct):
                return m
            conj = None
            for t in distinct:
                mt = bool_mask(("term", t))
                conj = mt if conj is None else (conj & mt)
                if not conj.any():
                    return m
            cand_docs = np.flatnonzero(conj)
            if sl == 0:
                ok = np.fromiter(
                    (phrase_match(toks, int(c + base)) for c in cand_docs),
                    dtype=bool,
                    count=len(cand_docs),
                )
            else:
                ok = np.fromiter(
                    (near_match(distinct, int(c + base), sl) for c in cand_docs),
                    dtype=bool,
                    count=len(cand_docs),
                )
            m[cand_docs[ok]] = True
            return m
        if kind == "and":
            m = None
            for c in node[1]:
                mc = bool_mask(c)
                m = mc if m is None else (m & mc)
                if not m.any():
                    return m
            for c in node[2]:
                m &= ~bool_mask(c)
                if not m.any():
                    return m
            return m
        # "or"
        m = np.zeros(span, dtype=bool)
        for c in node[1]:
            m |= bool_mask(c)
        return m

    acc = np.zeros(span, dtype=np.float64)
    acc2 = np.zeros(span, dtype=np.float64)  # MaxScore phase-2 (ascending) fold
    cnt = np.zeros(span, dtype=np.int32) if conjunctive else None
    term_heat: dict[str, int] = {}  # per-task touch counts (regime switch)
    bounds_cache: dict[str, tuple] = {}  # term -> (block bounds, max bound)

    small_batch = len(qt) <= MAXSCORE_MAX_BATCH

    qids: list = []
    parts: list[tuple] = []
    for q in qt.itertuples(index=False):
        k = int(q.k)
        cur = _cursor(q)
        terms = sorted(zip(q.terms, q.idfs))
        present = [(t, idf) for t, idf in terms if t in by_term]
        if not present:
            continue

        if mode == "boolean":
            # membership first (the selective step — no block pruning),
            # then the standard ascending-term disjunctive fold over the
            # query's POSITIVE terms, output restricted to matched docs.
            # Every matched doc satisfies >= 1 positive leaf (the parser
            # rejects pure negation), so its score has >= 1 contribution
            # and the fold is bit-identical to the oracle's.
            mask = bool_mask(q.ast)
            full = np.flatnonzero(mask)
            if len(full) == 0:
                continue
            idx_parts = []
            for term, idf in present:
                li, contrib = term_fold(term, idf)
                acc[li] += contrib
                idx_parts.append(li)
            doc_ids = full + base
            scores = acc[full].copy()
            if idx_parts:
                touched = np.unique(np.concatenate(idx_parts))
                acc[touched] = 0.0
        elif conjunctive:
            # AND semantics: a doc qualifies iff ALL nq distinct query
            # tokens hit it. The intersection is shard-LOCAL and still
            # globally exact: a doc's postings for every term live in its
            # own segment, so all evidence about one doc meets in one
            # task. A shard missing any of the query's vocab terms can't
            # produce a qualifying doc — skip it outright. The fold is
            # the same ascending-term exhaustive accumulate (bit-identity
            # with the oracle) plus a matched-term counter; no block
            # pruning — the intersection itself is the selective step.
            # q.nq carries the REQUIRED matched-term count: all nq
            # distinct tokens for and/phrase/near, the caller's
            # min_match for mode="mm" (Lucene minimumShouldMatch — the
            # continuum between OR and AND). Exact shard-locally either
            # way: a doc's postings all live in its own shard, so cnt
            # is the doc's true matched count.
            nq = int(q.nq)
            if len(present) < nq:
                continue
            idx_parts = []
            for term, idf in present:
                li, contrib = term_fold(term, idf)
                term_heat[term] = term_heat.get(term, 0) + 1
                acc[li] += contrib
                cnt[li] += 1  # (term, doc) unique -> one bump per term
                idx_parts.append(li)
            hit = np.unique(np.concatenate(idx_parts))
            full = hit[cnt[hit] >= nq] if mode == "mm" else hit[cnt[hit] == nq]
            if mode in ("phrase", "near", "span_first", "ordered") and len(full):
                # positional verification over the conjunctive survivors
                # only — the candidate set is already small, and position
                # lists decode lazily per term, cached across queries.
                # ``slop`` carries the mode's positional window: the
                # proximity width for near, the exclusive first-position
                # bound for span_first.
                if mode == "phrase":
                    phrase = list(q.phrase)
                    ok = np.fromiter(
                        (phrase_match(phrase, int(li + base)) for li in full),
                        dtype=bool,
                        count=len(full),
                    )
                elif mode == "span_first":
                    qterms = list(q.terms)
                    ok = np.fromiter(
                        (
                            span_first_match(qterms, int(li + base), slop)
                            for li in full
                        ),
                        dtype=bool,
                        count=len(full),
                    )
                elif mode == "ordered":
                    seq = list(q.phrase)
                    ok = np.fromiter(
                        (
                            ordered_match(seq, int(li + base), slop)
                            for li in full
                        ),
                        dtype=bool,
                        count=len(full),
                    )
                else:
                    qterms = list(q.terms)
                    ok = np.fromiter(
                        (near_match(qterms, int(li + base), slop) for li in full),
                        dtype=bool,
                        count=len(full),
                    )
                full = full[ok]
            doc_ids = full + base
            scores = acc[full].copy()
            acc[hit] = 0.0
            cnt[hit] = 0
        elif (
            prune
            and len(present) == 1
            and small_batch
            and term_heat.get(present[0][0], 0) < 1
        ):
            # cold term, small batch: block-max WAND walk — descending
            # bound order, stop when bound < theta (decode-dominated
            # regime; warm/large-batch single-term queries fall through to
            # the cached vectorized fold below, same adaptive rule as the
            # multi-term path)
            term, idf = present[0]
            term_heat[term] = term_heat.get(term, 0) + 1
            g = by_term[term]
            mt = g["max_tf"].to_numpy(dtype=np.float64)
            md = g["min_dl"].to_numpy(dtype=np.float64)
            ubs = idf * mt * (K1 + 1.0) / (
                mt + K1 * (1.0 - B + B * md / avgdl)
            )
            order = np.argsort(-ubs, kind="stable")
            doc_parts, score_parts = [], []
            theta = -np.inf
            n_seen = 0
            rows = list(g.itertuples(index=False))
            for bi in order:
                if n_seen >= k and ubs[bi] < theta:
                    break
                d, tf, denom = decode(rows[bi])
                # same associativity as the oracle: ((idf*tf)*(k1+1))/denom
                s = idf * tf * (K1 + 1.0) / denom
                if cur is not None:
                    # cursor filter BEFORE theta accounting: theta is
                    # the kth-best AFTER-cursor score (Lucene's
                    # searchAfter min-competitive rule) — an unfiltered
                    # theta would over-prune blocks holding page docs
                    keepc = (s < cur[0]) | ((s == cur[0]) & (d > cur[1]))
                    d, s = d[keepc], s[keepc]
                doc_parts.append(d)
                score_parts.append(s)
                n_seen += len(d)
                if n_seen >= k:
                    theta = np.partition(np.concatenate(score_parts), -k)[-k]
            doc_ids = np.concatenate(doc_parts)
            scores = np.concatenate(score_parts)
        elif (
            prune
            and small_batch
            and cur is None
            and any(term_heat.get(t, 0) < 1 for t, _ in present)
        ):
            # small batch AND a cold term -> decode dominates: MaxScore
            # (cursored queries skip it — its theta is built on
            # pre-cursor scores — and take the exhaustive fold below)
            doc_ids, scores = _maxscore_multi(
                present, by_term, decode, term_arrays, acc, acc2, base, avgdl,
                k, term_heat, bounds_cache,
            )
        elif len(present) == 1:
            # warm single-term (batch regime): the cached contribution
            # array IS the score vector (0 + contrib is bit-exact), and
            # a term's local indices are already sorted unique — no
            # accumulator writes, no np.unique
            term, idf = present[0]
            li, contrib = term_fold(term, idf)
            term_heat[term] = term_heat.get(term, 0) + 1
            doc_ids = li + base
            scores = contrib
        else:
            # exhaustive multi-term (prune=False, or every term warm — the
            # batch regime, where cached full-term accumulate beats any
            # bound pass): dense accumulate in ascending term order, output
            # IS the oracle fold, no rescore needed
            idx_parts = []
            for term, idf in present:
                li, contrib = term_fold(term, idf)
                term_heat[term] = term_heat.get(term, 0) + 1
                acc[li] += contrib
                idx_parts.append(li)
            hit = np.unique(np.concatenate(idx_parts))
            doc_ids = hit + base
            scores = acc[hit].copy()
            # reset only touched cells (span stays clean for the next query)
            acc[hit] = 0.0

        dleaf = int(getattr(q, "demote_leaf", -1))
        if dleaf >= 0 and len(doc_ids):
            # ES boosting query (query/boosting.py): docs in the query's
            # negative set KEEP membership but their relevance multiplies
            # by negative_boost (one float multiply on the summed score —
            # the oracle's round(raw * nb, 6) association). The negative
            # docID set rides the fieldset channel under a private leaf
            # id. Exhaustive path only: a theta built from undemoted heap
            # scores would over-prune, so boosting_topk forces
            # prune=False.
            assert not prune
            ds = field_sets.get(dleaf) if field_sets else None
            hitn, _ = _member(ds, doc_ids)
            if hitn.any():
                scores = np.where(hitn, scores * float(q.demote_nb), scores)
        if factors is not None:
            # function_score (ES function_score boost_mode=multiply): the
            # shipped per-doc factor MULTIPLIES relevance; docs missing a
            # factor keep their BM25 unchanged (factor 1 — the ES missing
            # rule for score functions)
            hitf, fs = _lookup(factors, doc_ids)
            mult = np.ones(len(doc_ids))
            mult[hitf] = fs
            scores = scores * mult

        part = coll.fold(q, doc_ids, scores, sort_keys, group_keys, group_k)
        if part is not None:
            qids.append(q.query_id)
            parts.append(part)
    return coll.frame(qids, parts)


def _split_toks(toks: list[str]) -> tuple[list[str], list[str]]:
    """ordered token list -> (sorted distinct terms for stats/scoring,
    the original order for phrase matching). Tokenization itself already
    ran (executor-side for Spark query batches); this is O(|query|)."""
    return sorted(set(toks)), toks


def wand_topk(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    prune: bool = True,
    deletes: DataFrame | None = None,
    mode: str = "or",
    slop: int = 0,
    doc_filter: DataFrame | None = None,
    max_expansions: int = 64,
    fuzzy_prefix_length: int = 0,
    min_match: int | None = None,
    field_meta: DataFrame | None = None,
    offset: int = 0,
    collector: str = "topk",
    sort_meta: DataFrame | None = None,
    sort_ascending: bool = False,
    group_meta: DataFrame | None = None,
    search_after: dict[str, tuple[float, int]] | None = None,
    group_k: int = 3,
    sort_multiply: bool = False,
    demote_sets: DataFrame | None = None,
    negative_boost: float | dict = 0.5,
) -> DataFrame:
    """-> (query_id, rank, doc_id, score) from the compressed index.

    ``demote_sets`` (round 5, the ES boosting-query seam — use
    query/boosting.boosting_topk): a (query_id, doc_id) frame of each
    query's NEGATIVE membership; matching docs keep membership but their
    score multiplies by ``negative_boost`` (float, or per-query dict —
    missing queries demote nothing). Requires prune=False (a pruning
    theta built from undemoted scores would over-prune) and
    collector="topk". The set rides the shard-cogrouped fieldset channel
    under private leaf ids — never broadcast.

    ``sort_multiply`` (round 5, the ES function_score
    boost_mode=multiply seam): sort_meta's per-doc values are score
    FACTORS that MULTIPLY relevance instead of replacing it; docs
    missing a factor keep their BM25 unchanged (factor 1, the ES
    missing rule for score functions). Selection, ranks, paging and
    search_after cursors all live in the multiplied-score space. Use
    the function_score_topk wrapper (query/function_score.py) for the
    decay / field-value-factor builders. Exhaustive path (factors can
    exceed 1, so no posting-list bound survives the multiply).

    ``search_after`` (round 5, Lucene IndexSearcher.searchAfter / the
    ES search_after cursor — the scale-correct deep-paging shape):
    ``{query_id: (last_score, last_doc_id)}`` — the selection-key pair
    of the previous page's LAST hit. Each query returns its top-k docs
    ranking strictly after the cursor under the selection order
    (score DESC, doc_id ASC — or the sort key when ``sort_meta`` is
    given, either direction); ranks restart at 1 per page.
    Consecutive cursor pages tile the unpaged ranking exactly, like
    offset pages — but the cursor filters SHARD-LOCALLY before the
    top-k cut, so per-shard candidate cost stays k instead of
    offset + k: page 1000 costs the same as page 1 (why ES caps
    from+size at 10k but search_after is unbounded). Queries absent
    from the dict return page 1. Single-term pruning stays on with the
    theta built from after-cursor docs only (Lucene's searchAfter
    min-competitive rule); multi-term cursored queries take the
    exhaustive fold. Mutually exclusive with ``offset``; meaningless
    with the count/stats/group collectors.

    ``sort_meta`` (round 5, Lucene Sort / SortField analog): a
    (doc_id, sort_key double) DataFrame — when given, results rank by
    the SORT KEY instead of relevance (descending by default,
    ``sort_ascending=True`` reverses — e.g. most-recent-first transcript
    retrieval with sort_key = unix ts). Membership is unchanged (any
    mode, composes with deletes/doc_filter/field_meta/offset); the
    returned ``score`` column carries the sort key (Lucene's
    TopFieldDocs shape — relevance is not computed), ties break on
    doc_id ascending, and docs MISSING from sort_meta sort LAST
    (Lucene's missing-value default). Sorting disables block pruning
    (score bounds say nothing about sort keys — Lucene early-terminates
    only with index-time sorting, which this disclosed per-batch path
    does not assume). The key frame rides the same shard-cogrouped
    channel as tombstones — one narrow-frame shuffle per query BATCH,
    the same disclosed shape as doc_filter allow-lists; at persistent
    serving scale, index-time docvalues (pre-partitioned key files)
    would replace the per-batch ship. One row per doc_id.

    ``offset`` (round 5, Lucene searchAfter's shallow-paging cousin):
    return global ranks (offset, offset + k] — page 2 of a 10-hit page
    is offset=10, k=10, ranks 11..20. Shard-local selection keeps
    offset + k candidates per query (exactly the offset+k cost
    Solr/Elasticsearch document for deep paging — the offset is paid,
    not hidden), the final per-query window is unchanged, and the
    returned ``rank`` stays GLOBAL so pages tile the unpaged ranking.

    ``collector="count"`` (round 5, Lucene TotalHitCountCollector):
    return (query_id, total_hits) — the EXACT number of matching docs
    per query, no ranking, no top-k. Counting forces the exhaustive
    path (prune=False — like Lucene's trackTotalHits, exact totals and
    early termination are mutually exclusive); each shard emits one
    (query, matched-count) row and a sum-aggregate replaces the rank
    window, so the job shape is the same one shuffle. Queries that
    match nothing (or die driver-side as OOV) emit no row — consistent
    with the topk collector. Use the count_matches() wrapper.

    mode="or" (default) is standard disjunctive BM25 top-k; mode="and"
    keeps only docs matching ALL distinct query tokens (conjunctive
    retrieval), still BM25-scored and rank-identical to the SQL oracle.
    The intersection is computed shard-locally with a matched-term
    counter — exact, because a doc's postings for every term live in its
    own segment — and a query with an out-of-vocabulary token matches
    nothing by definition. Conjunctive queries skip block pruning: the
    intersection itself is the selective step, and MaxScore skips would
    drop the very term-counts the conjunction needs.

    Shape: candidate blocks (term IN all query terms — pushed down to the
    parquet scan) are shuffled ONCE by shard; each shard task scores the
    full query set against its local blocks with shared decode/impact
    arrays; a final per-query window merges shard-local top-ks.

    Query-side prep is DISTRIBUTED for Spark-DataFrame query batches:
    tokenization runs on executors through the tokenizer's Column
    rendition (tokens_col — identical by construction to tokenize_py,
    and sort_array's UTF-8 byte order equals Python's codepoint sort), so
    the driver never loops over query text — it collects O(|queries|)
    already-tokenized rows (a million-query offline batch tokenizes in
    parallel; round-2 verdict item 4). df/idf then comes from term_stats
    SEMI-JOINED against the collected term set (only
    |query terms ∩ vocab| rows ever reach the driver — see
    query_term_stats). This deliberately does NOT broadcast-join the
    query terms into term_stats instead: the driver-side In() filter is
    what pushes into the term-sorted parquet scan; a broadcast join would
    scan the whole vocabulary.

    A pandas ``queries`` DataFrame is the served-path opt-in (bounded
    batch, driver tokenization via tokenize_py, zero extra Spark jobs);
    both paths produce identical frames. Same opt-in contract as
    ``tstats``-as-pandas for cached vocabularies.

    ``deletes`` (from index.deletes.load_deletes) masks tombstoned docs:
    they never appear in results, while corpus stats stay full-corpus
    until a purge (Lucene delete semantics — see index/deletes.py).
    Tombstones are cogrouped with the blocks on the shard key, never
    broadcast, so the tombstone set may grow with the corpus; inside a
    task they mask at decode time, which keeps pruning exact.

    mode="near" is unordered proximity: all distinct query tokens within
    a window of ``slop`` tokens (max position - min position <= slop),
    verified like phrase mode on the conjunctive survivors (smallest-
    range two-pointer per candidate). Needs a positional index.

    mode="ordered" is the Lucene/ES intervals query's ordered source
    (``ordered: true`` with ``max_gaps``): the query tokens must occur
    IN ORDER, one strictly-increasing position each, with at most
    ``slop`` non-matching tokens interleaved in total
    (p_last - p_first - (n-1) <= slop). The missing member of the
    proximity algebra — phrase is ordered+adjacent (slop=0 over
    distinct terms equals phrase), near is unordered+windowed. Same
    conjunctive-survivor verification shape; positional index required.

    mode="span_first" is Lucene's SpanFirstQuery over each term: every
    query token's FIRST occurrence lies before position ``slop``
    (exclusive — slop carries the positional window for both modes).
    "Matches in the opening of a turn": role prefixes, greetings,
    error banners. Conjunctive semantics, positional index required.

    ``doc_filter`` (a doc_id DataFrame) is FILTERED RETRIEVAL: only the
    listed docs are ranked (facet/metadata filters resolve to a docID
    set against the corpus table, then ride the same shard-cogrouped,
    decode-time masking as tombstones — stats stay full-corpus, pruning
    stays exact). Composes with ``deletes`` (tombstones are removed from
    the allow-list before it ships) and with every mode.

    mode="boolean" evaluates each query ``text`` as a boolean tree
    (query/boolean.py: AND/OR/NOT over term, "exact phrase" and
    "proximity"~slop leaves). Membership is computed shard-locally over
    boolean masks (exact — a doc's postings all live in its own
    segment); scoring is the standard disjunctive BM25 fold over the
    query's distinct POSITIVE terms, restricted to the matched docs.
    OOV leaves are simplified out DRIVER-side, so a dead query (or a
    dead AND arm) ships no candidate blocks; negated leaves' posting
    lists ARE shipped (exclusion needs them) but never scored. Needs a
    positional index only when a phrase/proximity leaf is present.

    mode="prefix" is wildcard retrieval: each ``stem*`` chunk in the
    query text expands to the top-``max_expansions`` vocabulary terms
    (by df desc, term asc — Lucene's top-terms rewrite) matching the
    stem, then the rewritten query runs as a standard disjunction. The
    expansion is a distributed startswith filter on term_stats (pushed
    into the term-sorted scan); see query/prefix.py.

    ``fuzzy_prefix_length`` (Lucene FuzzyQuery.prefixLength / the ES
    fuzzy option, default 0 = off) applies to every fuzzy leaf in the
    batch: expansion candidates must share the word's first N chars
    exactly, turning the length-band levenshtein pass into a
    prefix-prefiltered one (see query/fuzzy.expand_fuzzy).

    mode="mm" with ``min_match=m`` is minimum-should-match (Lucene's
    minimumShouldMatch): only docs matching at least m of the query's
    distinct tokens are ranked — the continuum between OR (m=1) and AND
    (m = all) — still BM25-scored by the same ascending-term fold. The
    matched-term count is shard-local and exact for the same reason
    conjunctive mode is; a query with fewer than m in-vocabulary tokens
    can match nothing and is dropped driver-side.

    ``field_meta`` (mode="boolean" only) resolves ``field:value``
    equality leaves and ``field:[lo TO hi]`` range leaves (lexicographic
    on the stringified value — Lucene TermRangeQuery semantics): a
    (doc_id, field, value) DataFrame — for transcripts typically the
    unpivoted metadata columns (role, tool; reference prompts draw the
    same query-vs-passage role distinction, reference
    angle_emb/angle.py:64-87). Each field predicate the query set
    mentions becomes ONE docID set that rides the same shard-cogrouped
    channel as tombstones (never broadcast, one metadata scan for all
    predicates, overlap-safe); field leaves gate membership but never
    score (filter context — the parser guarantees every matched doc
    still carries a scoring term).

    queries: Spark or pandas DataFrame (query_id, text, k)."""
    if mode not in (
        "or", "and", "phrase", "near", "boolean", "prefix", "mm",
        "span_first", "ordered",
    ):
        raise ValueError(
            "mode must be 'or', 'and', 'phrase', 'near', 'boolean', "
            f"'prefix', 'mm', 'span_first' or 'ordered', got {mode!r}"
        )
    if mode == "mm":
        if min_match is None or min_match < 1:
            raise ValueError(
                f"mode='mm' needs min_match >= 1, got {min_match!r}"
            )
    elif min_match is not None:
        raise ValueError("min_match is only valid with mode='mm'")
    if field_meta is not None and mode != "boolean":
        raise ValueError("field_meta is only valid with mode='boolean'")
    coll = COLLECTORS.get(collector)
    if coll is None:
        *head, last = map(repr, COLLECTORS)
        raise ValueError(
            f"collector must be {', '.join(head)} or {last}, got {collector!r}"
        )
    if group_meta is not None and coll.needs != "group_meta":
        grouping = [n for n, c in COLLECTORS.items() if c.needs == "group_meta"]
        raise ValueError(
            "group_meta is only valid with collector="
            + "/".join(map(repr, grouping))
        )
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if group_k < 1:
        raise ValueError(f"group_k must be >= 1, got {group_k}")
    if search_after is not None:
        if not coll.ranks:
            raise ValueError(
                "search_after is only valid with collector='topk', "
                f"got {collector!r}"
            )
        if offset:
            raise ValueError(
                "search_after and offset are mutually exclusive — the "
                "cursor already names the page boundary"
            )
        for qid, cur in search_after.items():
            if len(cur) != 2:
                raise ValueError(
                    f"search_after[{qid!r}] must be (last_score, "
                    f"last_doc_id), got {cur!r}"
                )
        if sort_meta is not None and sort_ascending:
            # ascending sorts negate keys on the way in so the shared
            # largest-first selection runs unchanged — the cursor lives
            # in the same negated key space
            search_after = {
                qid: (-float(s), int(d)) for qid, (s, d) in search_after.items()
            }
    side_inputs = {"sort_meta": sort_meta, "group_meta": group_meta}
    if coll.needs is not None and side_inputs[coll.needs] is None:
        raise ValueError(
            f"collector={collector!r} needs {coll.needs} as the {coll.source}"
        )
    paging = {"offset": offset, "sort_ascending": sort_ascending}
    if any(paging[a] for a in coll.rejects):
        raise ValueError(
            f"{'/'.join(coll.rejects)} {'is' if len(coll.rejects) == 1 else 'are'} "
            f"meaningless with collector={collector!r}"
        )
    if sort_meta is not None and coll.no_sort is not None:
        raise ValueError(
            f"sort_meta is meaningless with collector={collector!r}{coll.no_sort}"
        )
    if not coll.ranks:
        # aggregations need the complete matched set: exact totals and
        # early termination are mutually exclusive (Lucene's
        # trackTotalHits), and pruning keeps only the GLOBAL top-k, which
        # can starve a rare bucket's best hit
        prune = False
    elif offset:
        # shard-local selection must keep enough candidates to survive
        # the page filter: inflate every query's k by the offset; the
        # final window then returns global ranks (offset, k + offset]
        if isinstance(queries, pd.DataFrame):
            queries = queries.assign(k=queries["k"].astype(int) + offset)
        else:
            queries = queries.withColumn(
                "k", (F.col("k") + F.lit(offset)).cast("int")
            )
    if sort_multiply:
        if sort_meta is None:
            raise ValueError(
                "sort_multiply needs sort_meta as the (doc_id, factor) "
                "source — use function_score_topk()"
            )
        if not coll.ranks:
            raise ValueError(
                "sort_multiply is only valid with collector='topk', "
                f"got {collector!r}"
            )
        if sort_ascending:
            raise ValueError(
                "sort_ascending is meaningless with sort_multiply — "
                "ranking is by the multiplied score"
            )
    if sort_meta is not None:
        # sort keys replace (or scale) relevance: membership must be
        # complete (pruned blocks could hide the max-key doc; a factor
        # > 1 breaks any posting-list bound), so the exhaustive path is
        # forced, exactly like counting
        prune = False
    if demote_sets is not None:
        if not coll.ranks:
            raise ValueError(
                "demote_sets is only valid with collector='topk' — "
                "demotion changes scores, not membership"
            )
        if sort_meta is not None:
            raise ValueError(
                "demote_sets does not compose with sort_meta — boosting "
                "ranks in relevance space"
            )
        # demotion is applied AFTER each query's fold; a pruning theta
        # built from undemoted heap scores would over-prune, so the
        # exhaustive path is forced (ES evaluates both queries too)
        prune = False
    # analyzer dispatch (round 5): queries tokenize with the SAME
    # versioned analyzer the index was built with (IndexMeta.analyzer;
    # Lucene's Analyzer-per-index contract). The structured-grammar
    # modes (boolean/phrase/near/prefix) parse query text with the v1
    # tokenizer inside the grammar itself, so they are v1-only this
    # round — a stemmed index answers the bag-of-words family.
    analyzer = getattr(meta, "analyzer", "v1-ascii-alnum")
    if analyzer != "v1-ascii-alnum" and mode not in ("or", "and", "mm"):
        raise ValueError(
            f"mode={mode!r} is not supported on an index built with "
            f"analyzer {analyzer!r} — structured query grammars tokenize "
            "with v1; use or/and/mm"
        )
    from angle_spark.functions.tokenizer import analyzer_fns

    tok_py, tok_col, _ = analyzer_fns(analyzer)
    if mode == "prefix":
        from angle_spark.query.prefix import expand_prefixes

        queries, _ = expand_prefixes(spark, tstats, queries, max_expansions)
        mode = "or"
    if mode in ("phrase", "near", "span_first", "ordered") and not getattr(
        meta, "positional", False
    ):
        raise ValueError(
            f"{mode} mode needs a positional index — rebuild with "
            "build_index(..., positional=True)"
        )
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    if mode == "span_first" and slop < 1:
        raise ValueError(
            "span_first needs slop >= 1 — the EXCLUSIVE bound on each "
            "term's first position (Lucene SpanFirstQuery end)"
        )
    keep_positions = mode in ("phrase", "near", "span_first", "ordered")
    if mode == "boolean":
        from angle_spark.query.boolean import (
            needs_positions,
            parse_query,
            positive_boosts,
            query_terms,
            simplify,
        )

        if isinstance(queries, pd.DataFrame):
            qsrc = [
                (q.query_id, int(q.k), q.text)
                for q in queries.itertuples(index=False)
            ]
        else:
            qsrc = [
                (r["query_id"], int(r["k"]), r["text"])
                for r in queries.select(
                    "query_id", F.col("k").cast("int").alias("k"), "text"
                ).collect()
            ]
        asts = [(qid, k, parse_query(text)) for qid, k, text in qsrc]
        # driver-side vocabulary rewrites (round 4 leaves, round-5 plan):
        # prefix / fuzzy / regex leaves all expand against the index
        # vocabulary BEFORE simplify (a dead leaf folds through the tree
        # exactly like an OOV term). All three families are collected
        # from the UNEXPANDED trees and resolved in ONE Spark action — a
        # union of the three per-family frames — instead of three
        # sequential collect() round-trips: at low parallelism the fixed
        # per-job scheduling cost was a measurable slice of query
        # latency (round-4 scaling finding). Collecting the work lists
        # up front is sound because no expander ever CREATES another
        # family's leaves — at worst a family member of a query another
        # family kills expands unused (bounded rows, never wrong).
        from angle_spark.query.boolean import (
            expand_fuzzy_ast,
            expand_prefixes_ast,
            expand_regex_ast,
            fuzzy_pairs,
            prefix_stems,
            regex_patterns,
        )

        stems = sorted(set().union(set(), *(prefix_stems(a) for _, _, a in asts)))
        fuzz = sorted(set().union(set(), *(fuzzy_pairs(a) for _, _, a in asts)))
        pats = sorted(set().union(set(), *(regex_patterns(a) for _, _, a in asts)))
        if (stems or fuzz or pats) and isinstance(tstats, pd.DataFrame):
            # bounded-vocab serving opt-in: the pandas expanders run
            # zero Spark jobs, so there is no round-trip to batch away
            stem_exp = fz_exp = rx_exp = None
            if stems:
                from angle_spark.query.prefix import expand_stems

                stem_exp = expand_stems(spark, tstats, stems, max_expansions)
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_prefixes_ast(a, stem_exp)) is not None
                ]
            if fuzz:
                from angle_spark.query.fuzzy import expand_fuzzy

                fz_exp = expand_fuzzy(
                    spark, tstats, fuzz, max_expansions,
                    prefix_length=fuzzy_prefix_length,
                )
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_fuzzy_ast(a, fz_exp)) is not None
                ]
            if pats:
                from angle_spark.query.regex import expand_regex

                rx_exp = expand_regex(spark, tstats, pats, max_expansions)
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_regex_ast(a, rx_exp)) is not None
                ]
        elif stems or fuzz or pats:
            frames = []
            if stems:
                from angle_spark.query import prefix as _px

                frames.append(
                    _px.expansion_frame(spark, tstats, stems, max_expansions)
                    .withColumn("kind", F.lit("p"))
                    .withColumn("k2", F.lit(None).cast("int"))
                )
            if fuzz:
                from angle_spark.query import fuzzy as _fz

                for _, d in fuzz:
                    if not (1 <= d <= _fz.MAX_FUZZY_DIST):
                        raise ValueError(
                            f"fuzzy max_dist must be in 1..{_fz.MAX_FUZZY_DIST}, got {d}"
                        )
                frames.append(
                    _fz.expansion_frame(
                        spark, tstats, fuzz, max_expansions,
                        prefix_length=fuzzy_prefix_length,
                    )
                    .withColumn("kind", F.lit("f"))
                )
            if pats:
                from angle_spark.query import regex as _rx

                for p in pats:
                    _rx.validate_pattern(p)
                frames.append(
                    _rx.expansion_frame(spark, tstats, pats, max_expansions)
                    .withColumn("kind", F.lit("r"))
                    .withColumn("k2", F.lit(None).cast("int"))
                )
            union = frames[0]
            for fdf in frames[1:]:
                union = union.unionByName(fdf)
            collected = union.collect()  # ONE action for all families
            stem_exp: dict = {s: [] for s in stems}
            fz_exp: dict = {p: [] for p in fuzz}
            rx_exp: dict = {p: [] for p in pats}
            for row in sorted(
                collected, key=lambda x: (x["kind"], x["k1"], x["k2"] or 0, x["r"])
            ):
                if row["kind"] == "p":
                    stem_exp[row["k1"]].append(row["term"])
                elif row["kind"] == "f":
                    fz_exp[(row["k1"], row["k2"])].append(row["term"])
                else:
                    rx_exp[row["k1"]].append(row["term"])
            if stems:
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_prefixes_ast(a, stem_exp)) is not None
                ]
            if fuzz:
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_fuzzy_ast(a, fz_exp)) is not None
                ]
            if pats:
                asts = [
                    (qid, k, e)
                    for qid, k, a in asts
                    if (e := expand_regex_ast(a, rx_exp)) is not None
                ]
        # field leaves (round 5): resolve every field predicate the
        # query set mentions — equality (field:value) and range
        # (field:[lo TO hi], lexicographic on the stringified value) —
        # against the caller's metadata frame. ONE scan covers all
        # predicates; each becomes a shard-cogrouped docID set keyed by
        # a small integer id (the tombstone channel, never a
        # broadcast). A row is assigned to EVERY predicate it satisfies
        # (array + explode, not a first-match when-chain): predicates
        # can overlap on the same field (two ranges, or an equality
        # inside a range).
        from angle_spark.query.boolean import field_predicates, map_field_leaves

        fpairs = sorted(
            set().union(set(), *(field_predicates(a) for _, _, a in asts)),
            key=repr,  # range predicates hold None bounds; repr totalizes
        )
        if fpairs and field_meta is None:
            raise ValueError(
                "boolean query has field: leaves but no field_meta frame "
                "was given — pass wand_topk(field_meta=<(doc_id, field, "
                "value) DataFrame>)"
            )
        fid_of = {p: i for i, p in enumerate(fpairs)}
        fieldsets = None
        if fpairs:
            fm = field_meta.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("field").cast("string").alias("field"),
                F.col("value").cast("string").alias("value"),
            )
            arms = []
            for pred, fid in fid_of.items():
                if pred[0] == "eq":
                    _, f, v = pred
                    hit = (F.col("field") == F.lit(f)) & (
                        F.col("value") == F.lit(v)
                    )
                else:  # ("range", f, lo, hi, incl_lo, incl_hi)
                    _, f, lo, hi, il, ih = pred
                    # a NULL value never falls in a range — even a fully
                    # open one ([* TO *] is Lucene's field-exists query)
                    hit = (F.col("field") == F.lit(f)) & F.col(
                        "value"
                    ).isNotNull()
                    if lo is not None:
                        hit = hit & (
                            F.col("value") >= F.lit(lo)
                            if il
                            else F.col("value") > F.lit(lo)
                        )
                    if hi is not None:
                        hit = hit & (
                            F.col("value") <= F.lit(hi)
                            if ih
                            else F.col("value") < F.lit(hi)
                        )
                arms.append(F.when(hit, F.lit(fid)))
            fieldsets = fm.select(
                "doc_id",
                F.explode(F.array_compact(F.array(*arms))).alias("leaf"),
            ).select("doc_id", F.col("leaf").cast("long").alias("leaf"))
        all_terms = sorted(
            {t for _, _, a in asts for t in query_terms(a)[1]}
        )
        ts_pdf = query_term_stats(tstats, all_terms)
        df_map = dict(zip(ts_pdf["term"], ts_pdf["df"]))
        tokenized = [(qid, k, None, None) for qid, k, _ in asts]
        rows = []
        cand_set: set[str] = set()
        for qid, k, ast in asts:
            s = simplify(ast, df_map)
            if s is None:
                continue  # provably matches nothing: ship no blocks
            pos_terms, allt = query_terms(s)
            if needs_positions(s):
                if not getattr(meta, "positional", False):
                    raise ValueError(
                        "boolean query has a phrase/proximity leaf but the "
                        "index is not positional — rebuild with "
                        "build_index(..., positional=True)"
                    )
                keep_positions = True
            cand_set.update(allt)
            # query-time boosts (leaf^w) fold into the per-term idf
            # driver-side: idf * boost is one float multiply, so the
            # shard fold is unchanged and the oracle's ln(..) * boost
            # reproduces it bit-for-bit. Terms reached only through
            # unboosted leaves weigh 1.0 (multiplying by 1.0 is exact).
            boosts = positive_boosts(s)
            if fpairs:
                s = map_field_leaves(s, fid_of)
            rows.append(
                (
                    qid,
                    k,
                    pos_terms,
                    [
                        idf_value(meta.live_docs, int(df_map[t]))
                        * boosts.get(t, 1.0)
                        for t in pos_terms
                    ],
                    0,
                    [],
                    s,
                )
            )
        cand_terms = sorted(cand_set)
        return _shard_and_rank(
            spark, merged, meta, tokenized, rows, cand_terms, keep_positions,
            prune, deletes, mode, slop, doc_filter,
            fieldsets=fieldsets, offset=offset, collector=collector,
            sort_meta=sort_meta, sort_ascending=sort_ascending,
            group_meta=group_meta, search_after=search_after,
            group_k=group_k, sort_multiply=sort_multiply,
            demote_sets=demote_sets, negative_boost=negative_boost,
        )
    if isinstance(queries, pd.DataFrame):
        tokenized = [
            (q.query_id, int(q.k), *_split_toks(tok_py(q.text)))
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
            (r["query_id"], int(r["k"]), *_split_toks(list(r["ptoks"])))
            for r in qrows
        ]
    all_terms = sorted({t for _, _, ts, _ in tokenized for t in ts})
    ts_pdf = query_term_stats(tstats, all_terms)
    df_map = dict(zip(ts_pdf["term"], ts_pdf["df"]))

    # "near" included (round-3 verdict): an OOV token makes a NEAR query
    # dead by definition, and dropping it HERE keeps its surviving terms
    # out of the candidate-block In(term) filter — shards already
    # returned nothing, but they were shipped blocks that could produce
    # no result
    conjunctive = mode in ("and", "phrase", "near", "span_first", "ordered")
    rows = []
    for query_id, k, qterms, phrase in tokenized:
        terms = [t for t in qterms if t in df_map]
        if conjunctive and len(terms) < len(qterms):
            continue  # AND/phrase with an out-of-vocab token matches nothing
        if mode == "mm" and len(terms) < min_match:
            continue  # fewer in-vocab tokens than the floor: dead query
        if terms:
            rows.append(
                (
                    query_id,
                    k,
                    terms,
                    # live_docs == n_docs until a purge; after one, idf
                    # reflects the post-compaction corpus (deletes.py)
                    [idf_value(meta.live_docs, int(df_map[t])) for t in terms],
                    # the REQUIRED matched-term count the shard filter
                    # applies: every distinct token for the conjunctive
                    # family, the caller's floor for mode="mm"
                    min_match if mode == "mm" else len(qterms),
                    phrase if mode in ("phrase", "ordered") else [],
                    None,
                )
            )
    cand_terms = sorted({t for r in rows for t in r[2]})
    return _shard_and_rank(
        spark, merged, meta, tokenized, rows, cand_terms, keep_positions,
        prune, deletes, mode, slop, doc_filter,
        offset=offset, collector=collector,
        sort_meta=sort_meta, sort_ascending=sort_ascending,
        group_meta=group_meta, search_after=search_after,
        group_k=group_k, sort_multiply=sort_multiply,
        demote_sets=demote_sets, negative_boost=negative_boost,
    )


def _value_source(values):
    """a (doc_id, value) frame cast to the side channel's (doc_id long,
    sort_key double); a DocValues handle passes through (its shard tasks
    read the stored field task-locally)"""
    if isinstance(values, DocValues):
        return values
    return values.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(values.columns[1]).cast("double").alias("sort_key"),
    )


def _matched_values(
    spark, merged, tstats, meta, queries, values, kwargs, collector="values"
) -> DataFrame:
    """wand_topk over a metric source: the value-feed collectors behind
    the ``*_matches`` aggregation wrappers (the wrapper owns collector
    and sort_meta, so a caller's copies are dropped)"""
    kwargs.pop("collector", None)
    kwargs.pop("sort_meta", None)
    return wand_topk(
        spark, merged, tstats, meta, queries,
        collector=collector, sort_meta=_value_source(values), **kwargs,
    )


def count_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    **kwargs,
) -> DataFrame:
    """-> (query_id, total_hits): the EXACT number of matching docs per
    query, for any retrieval mode wand_topk supports (or / and / phrase /
    near / mm / boolean, with deletes / doc_filter / field_meta) — the
    Lucene TotalHitCountCollector / Elasticsearch track_total_hits
    analog. Same one-shuffle job shape as top-k retrieval; counting
    forces the exhaustive scoring path (exact totals and block pruning
    are mutually exclusive, exactly as in Lucene). The ``k`` column of
    ``queries`` is ignored. Queries matching nothing emit no row."""
    kwargs.pop("collector", None)
    return wand_topk(
        spark, merged, tstats, meta, queries, collector="count", **kwargs
    )


def aggregate_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    extended: bool = False,
    sigma: float = 2.0,
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_docs, n_values, sum, min, max, avg): metric
    aggregation of a numeric column over each query's matched docs —
    the Elasticsearch ``stats`` aggregation shape (search-as-analytics:
    "average turn length of every conversation mentioning X" without
    materializing the hits). ``values`` is a (doc_id, value) DataFrame;
    it rides the same shard-cogrouped channel as tombstones (one narrow
    shuffle per batch), each shard folds its matched docs' values into
    (count, sum, min, max) partials, and a final sum/min/max merge
    replaces the rank window — the hit list itself never materializes.
    Docs missing a value count in n_docs but not in the value stats (the
    ES missing rule; value stats are NULL when no matched doc has one).
    Membership is exhaustive (pruning off, as with counting). Works with
    every wand_topk mode and composes with deletes / doc_filter /
    field_meta. The ``k`` column of ``queries`` is ignored. ``values``
    may be a DocValues handle (index/docvalues.py): the metric then
    reads task-locally from the stored field, no per-batch shuffle.

    ``extended=True`` is the Elasticsearch ``extended_stats``
    aggregation: the shard partials additionally carry the sum of
    squares (still a constant-size fold — NOT a per-match value ship),
    and the output adds ``sum_of_squares``, ``variance`` /
    ``std_deviation`` (population — ES's default ``variance`` field,
    computed as ES does: (sumOfSqrs - sum²/n)/n, clamped at 0 against
    float cancellation), ``variance_sampling`` /
    ``std_deviation_sampling`` (n-1 denominator, NULL when n_values <
    2 — ES emits NaN there; NULL is the SQL-comparable rendition), and
    ``std_upper`` / ``std_lower`` = avg ± sigma·std_deviation (ES
    std_deviation_bounds, default sigma 2)."""
    if sigma < 0:
        raise ValueError(f"sigma must be >= 0, got {sigma}")
    out = _matched_values(spark, merged, tstats, meta, queries, values, kwargs, "stats")
    if not extended:
        return out.drop("sum_of_squares")
    n = F.col("n_values")
    # ES ExtendedStatsAggregator's own expressions, in the same
    # association: correction = sum²/n, variance = (sumsq - corr)/n.
    # Every division sits under a when(n > 0) guard: ANSI mode would
    # throw DIVIDE_BY_ZERO on an all-missing query, and a bare
    # greatest(0, NULL) would turn its NULL variance into 0 (greatest
    # skips NULLs) — the guard keeps the ES NULL-stats rule.
    corr = F.col("sum") * F.col("sum") / n
    var_pop = F.when(
        n > 0, F.greatest(F.lit(0.0), (F.col("sum_of_squares") - corr) / n)
    )
    var_samp = F.when(
        n >= 2,
        F.greatest(F.lit(0.0), (F.col("sum_of_squares") - corr) / (n - 1)),
    )
    std_pop = F.sqrt(var_pop)
    return out.select(
        "query_id", "n_docs", "n_values",
        "sum", "min", "max", "avg", "sum_of_squares",
        var_pop.alias("variance"),
        var_samp.alias("variance_sampling"),
        std_pop.alias("std_deviation"),
        F.sqrt(var_samp).alias("std_deviation_sampling"),
        (F.col("avg") + F.lit(float(sigma)) * std_pop).alias("std_upper"),
        (F.col("avg") - F.lit(float(sigma)) * std_pop).alias("std_lower"),
    )


def weighted_avg_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    missing_value: float | None = None,
    missing_weight: float | None = None,
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_values, weighted_avg): Σ(value·weight) / Σ(weight)
    over each query's matched docs — the Elasticsearch ``weighted_avg``
    aggregation ("average quality score weighted by turn length over
    docs mentioning X"). ``values`` is a (doc_id, value, weight) frame.

    Two metrics can't ride the single side channel, so this collector
    takes the membership route: ONE exhaustive ``matched_ids`` pass
    (O(matches) two-column rows), an equi-join against the values frame
    (the corpus-keyed metadata shuffles once per batch — the same
    disclosed shape as a shipped sort_meta; index-time docvalues are
    the persistent-serving alternative), and a constant-size
    sum-of-products fold per query.

    Missing rules are ES's own (value.missing / weight.missing): a doc
    missing ``value`` uses ``missing_value`` if set, else is skipped;
    same independently for ``weight``. n_values counts the docs that
    contributed. A query with no contributing docs emits NULL
    weighted_avg (and an all-zero weight sum divides to NULL, not an
    ANSI error). Composes with every mode + deletes / doc_filter /
    field_meta; the ``k`` column is ignored."""
    ids = matched_ids(spark, merged, tstats, meta, queries, **kwargs)
    c0, c1, c2 = values.columns[:3]
    vals = values.select(
        F.col(c0).cast("long").alias("doc_id"),
        F.col(c1).cast("double").alias("_wa_v"),
        F.col(c2).cast("double").alias("_wa_w"),
    )
    joined = ids.join(vals, "doc_id", "left")
    v = F.col("_wa_v")
    w = F.col("_wa_w")
    if missing_value is not None:
        v = F.coalesce(v, F.lit(float(missing_value)))
    if missing_weight is not None:
        w = F.coalesce(w, F.lit(float(missing_weight)))
    # the skip rule: a row missing either metric (after the missing
    # substitutions) contributes to nothing, not even n_values
    both = v.isNotNull() & w.isNotNull()
    agg = joined.groupBy("query_id").agg(
        F.count(F.when(both, F.lit(1))).cast("long").alias("n_values"),
        F.sum(F.when(both, v * w)).alias("_wsum"),
        F.sum(F.when(both, w)).alias("_w"),
    )
    return agg.select(
        "query_id",
        "n_values",
        F.when(
            F.col("_w") != 0.0, F.col("_wsum") / F.col("_w")
        ).alias("weighted_avg"),
    )


def percentile_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    exact: bool = True,
    accuracy: int = 10000,
    **kwargs,
) -> DataFrame:
    """-> (query_id, pct, value): percentiles of a numeric column over
    each query's matched docs — the Elasticsearch ``percentiles``
    aggregation ("p95 conversation length among docs mentioning X").

    Order statistics don't fold into constant-size partials the way
    sum/min/max do, so shards emit one (query_id, value) row per
    matched doc WITH a value (collector="values" — O(matches) narrow
    rows, the honest exact cost) and one percentile aggregate per query
    replaces the rank window. ``exact=True`` (default) uses Spark's
    exact ``percentile`` (linear interpolation between closest ranks —
    the same definition as DuckDB's quantile_cont, so oracles match
    bitwise after round(6)); ``exact=False`` switches to
    ``percentile_approx`` (the t-digest-style sketch ES itself ships —
    the production shape when matches per query are huge), trading
    exactness for a bounded-memory fold at the given ``accuracy``.

    Docs missing a value are skipped entirely (the ES missing rule);
    a query whose matches all lack values emits no rows. Works with
    every wand_topk mode, composes with deletes / doc_filter /
    field_meta; ``values`` may be a DocValues handle (task-local
    reads, no per-batch shuffle). The ``k`` column is ignored."""
    pcts = [float(p) for p in percentiles]
    if not pcts or any(not (0.0 <= p <= 1.0) for p in pcts):
        raise ValueError(
            f"percentiles must be a non-empty list in [0, 1], got {percentiles!r}"
        )
    if len(set(pcts)) != len(pcts):
        raise ValueError(f"duplicate percentiles: {percentiles!r}")
    vals = _matched_values(spark, merged, tstats, meta, queries, values, kwargs)
    pct_arr = F.array(*[F.lit(p) for p in pcts])
    fold = (
        F.percentile(F.col("val"), pct_arr)
        if exact
        else F.percentile_approx(F.col("val"), pct_arr, F.lit(int(accuracy)))
    )
    return (
        vals.groupBy("query_id")
        .agg(fold.alias("vs"))
        .select("query_id", F.posexplode("vs").alias("i", "value"))
        .select(
            "query_id",
            F.element_at(pct_arr, F.col("i") + 1).alias("pct"),
            "value",
        )
    )


def boxplot_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    whisker_iqr: float = 1.5,
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_values, min, max, q1, q2, q3, lower, upper):
    the Elasticsearch ``boxplot`` aggregation — five-number summary of
    a metric over each query's matched docs plus Tukey whiskers:
    ``lower``/``upper`` are the SMALLEST/LARGEST ACTUAL VALUES inside
    the [q1 − k·IQR, q3 + k·IQR] fence (k = ``whisker_iqr``, ES uses
    1.5) — not the fence itself, exactly ES's definition. Quartiles
    are exact linear-interpolation percentiles (ES estimates them with
    a t-digest; exact is the oracle-assertable default — the
    percentiles/cardinality precedent).

    One values-collector pass (O(matches) (query, value) rows), then a
    single plan: quartiles as an unordered window aggregate per query
    followed by one conditional fold — the window and the fold share
    the query_id partitioning, so the narrow frame shuffles once.
    Missing-value docs are skipped; all-missing queries emit no row."""
    if whisker_iqr < 0:
        raise ValueError(f"whisker_iqr must be >= 0, got {whisker_iqr}")
    vals = _matched_values(spark, merged, tstats, meta, queries, values, kwargs)
    w = Window.partitionBy("query_id")
    qs = F.percentile(F.col("val"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).over(w)
    with_q = vals.select(
        "query_id",
        "val",
        F.element_at(qs, 1).alias("q1"),
        F.element_at(qs, 2).alias("q2"),
        F.element_at(qs, 3).alias("q3"),
    )
    k = F.lit(float(whisker_iqr))
    lo_fence = F.col("q1") - k * (F.col("q3") - F.col("q1"))
    hi_fence = F.col("q3") + k * (F.col("q3") - F.col("q1"))
    return with_q.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.min("val").alias("min"),
        F.max("val").alias("max"),
        F.first("q1").alias("q1"),
        F.first("q2").alias("q2"),
        F.first("q3").alias("q3"),
        F.min(F.when(F.col("val") >= lo_fence, F.col("val"))).alias("lower"),
        F.max(F.when(F.col("val") <= hi_fence, F.col("val"))).alias("upper"),
    )


def top_metrics_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    sort: DataFrame,
    metrics: DataFrame,
    size: int = 1,
    sort_ascending: bool = False,
    **kwargs,
) -> DataFrame:
    """-> (query_id, rank, doc_id, sort_value, <metric cols>): the
    Elasticsearch ``top_metrics`` aggregation — the metric values AT
    the top-``size`` docs by a sort field ("the quality score of the
    longest matching turn"). A composition of two existing shapes:
    sort-by-field selection (``wand_topk(sort_meta=...)`` — per-shard
    top-``size`` by key, exhaustive membership, missing keys last) and
    the bounded hydration join (the selected frame is queries×size
    rows, so it BROADCASTS into one scan of the metrics frame).

    ``sort`` is the (doc_id, key) frame (or DocValues handle);
    ``metrics`` is (doc_id, <any metric columns...>) — every non-id
    column comes back. Ties break on ascending docID (the engine's
    sort-by-field rule, which is what lets an oracle pin the cut)."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not isinstance(sort, DocValues):
        sort = sort.select(
            F.col(sort.columns[0]).cast("long").alias("doc_id"),
            F.col(sort.columns[1]).cast("double").alias("sort_key"),
        )
    if isinstance(queries, pd.DataFrame):
        queries = queries.assign(k=size)
        queries = spark.createDataFrame(
            queries[["query_id", "text", "k"]],
            "query_id string, text string, k int",
        )
    else:
        queries = queries.select(
            "query_id", "text", F.lit(int(size)).alias("k")
        )
    top = wand_topk(
        spark, merged, tstats, meta, queries,
        sort_meta=sort, sort_ascending=sort_ascending, **kwargs,
    ).select(
        "query_id", "rank", "doc_id", F.col("score").alias("sort_value")
    )
    mcols = [c for c in metrics.columns if c != metrics.columns[0]]
    m = metrics.select(
        F.col(metrics.columns[0]).cast("long").alias("doc_id"), *mcols
    )
    # bounded hydration, done right (r5 ADVICE): broadcasting the LEFT
    # (row-preserving) side of a left-outer join is unsupported and was
    # silently ignored — the metrics frame shuffled corpus-sized. A
    # broadcast LEFT-SEMI on the selected doc_ids first bounds the
    # metrics frame to queries x size rows in ONE scan (no shuffle),
    # then the outer join broadcasts that bounded right side.
    sel = top.select("doc_id").distinct()
    m_bounded = m.join(F.broadcast(sel), "doc_id", "left_semi")
    return top.join(F.broadcast(m_bounded), "doc_id", "left").select(
        "query_id", "rank", "doc_id", "sort_value", *mcols
    )


def string_stats_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    texts: DataFrame,
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_values, min_length, max_length, avg_length,
    entropy): the Elasticsearch ``string_stats`` aggregation over a
    string doc field for each query's matched docs — length statistics
    plus the Shannon entropy (log2, ES's definition) of the field's
    CHARACTER distribution, the data-quality scan ("how repetitive is
    the text matching X") a training-data pipeline runs at corpus
    scale. ``texts`` is a (doc_id, string) frame; NULL strings are
    missing (skip n_values and both stats; empty strings count with
    length 0 and contribute no characters — ES's own rules).

    Scale shape: one membership pass + one metadata equi-join (the
    weighted_avg shape), then TWO bounded aggregations over the
    O(matches) joined frame — a constant-size length fold, and the
    entropy pass whose per-char explode happens IN-TASK with map-side
    combine, so what shuffles is (queries × alphabet) rows, never the
    character stream. Two jobs over the joined frame by construction
    (disclosed; ES folds both in one collector pass).

    BMP-only assumption (disclosed; r5 ADVICE): characters split with
    Spark ``F.split(s, '')`` and ``F.length`` count UTF-16 code units,
    while the DuckDB oracle counts Unicode codepoints — entropy and
    length stats diverge on astral-plane text (emoji, rare CJK). The
    corpora this engine indexes are ASCII-tokenized (tokenizer v1/v2),
    so the divergence cannot reach any oracle-checked entry."""
    ids = matched_ids(spark, merged, tstats, meta, queries, **kwargs)
    c0, c1 = texts.columns[:2]
    tx = texts.select(
        F.col(c0).cast("long").alias("doc_id"),
        F.col(c1).cast("string").alias("_ss_s"),
    )
    joined = ids.join(tx, "doc_id", "left")
    s = F.col("_ss_s")
    lengths = joined.groupBy("query_id").agg(
        F.count(s).cast("long").alias("n_values"),
        F.min(F.length(s)).cast("long").alias("min_length"),
        F.max(F.length(s)).cast("long").alias("max_length"),
        F.avg(F.length(s)).alias("avg_length"),
    )
    chars = (
        joined.filter(s.isNotNull())
        .select("query_id", F.explode(F.split(s, "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("query_id", "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tot = Window.partitionBy("query_id")
    p = F.col("c") / F.sum("c").over(tot)
    ent = (
        chars.select("query_id", (-p * F.log2(p)).alias("term"))
        .groupBy("query_id")
        .agg(F.sum("term").alias("entropy"))
    )
    return lengths.join(ent, "query_id", "left").select(
        "query_id", "n_values", "min_length", "max_length",
        "avg_length", "entropy",
    )


def mad_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_values, median, mad): median absolute deviation
    of a metric over each query's matched docs — the Elasticsearch
    ``median_absolute_deviation`` aggregation (the robust dispersion
    companion of extended_stats' σ). mad = median(|v − median(v)|),
    both medians exact linear-interpolation percentiles (ES runs the
    same formula over t-digest sketches; exact is the
    oracle-assertable default — the boxplot/percentiles precedent).

    Same plan family as boxplot: one values-collector pass, the inner
    median as an unordered window aggregate per query, then the outer
    median in the fold that shares the window's query_id partitioning.
    Missing-value docs skip; all-missing queries emit no row."""
    vals = _matched_values(spark, merged, tstats, meta, queries, values, kwargs)
    w = Window.partitionBy("query_id")
    med = F.percentile(F.col("val"), F.lit(0.5)).over(w)
    return (
        vals.select("query_id", "val", med.alias("med"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.first("med").alias("median"),
            F.percentile(F.abs(F.col("val") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            ),
        )
    )


def t_test_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    test_type: str = "welch",
    **kwargs,
) -> DataFrame:
    """-> (query_id, n_a, n_b, mean_a, mean_b, t_value, dof): Student's
    t-test between two numeric doc fields over each query's matched
    docs — the Elasticsearch ``t_test`` aggregation ("is the length of
    error-mentioning turns statistically different from their token
    count" class of question). ``values`` is a (doc_id, a, b) frame.

    ``test_type`` (ES's own three):

    - ``"welch"`` (ES default): unequal variances —
      t = (m_a − m_b)/√(v_a/n_a + v_b/n_b), Welch–Satterthwaite dof;
    - ``"homoscedastic"``: pooled variance, dof = n_a + n_b − 2;
    - ``"paired"``: per-doc differences d = a − b over docs carrying
      BOTH fields — t = m_d/(s_d/√n), dof = n − 1; n_a = n_b = n.

    Missing rules are ES's: unpaired variants use each field's own
    non-null rows independently; paired requires both. Variances are
    the sample (n−1) form computed with the SAME explicit
    (Σx² − (Σx)²/n)/(n−1) association as extended_stats, so a DuckDB
    oracle replays them bitwise on integer-valued metrics. The
    p-value ES derives from (t, dof) via the t-distribution CDF is
    deliberately NOT emitted: no incomplete-beta in the oracle engine
    to pin it against (the matrix_stats skew/kurtosis precedent) —
    (t_value, dof) is the complete sufficient statistic. Queries
    without enough data (a variance undefined, or zero variance
    denominator) emit NULL t_value/dof rather than an ANSI error.

    One matched_ids membership pass + one metadata equi-join (the
    weighted_avg shape) + a constant-size per-query fold.

    Row-count edge (disclosed; r5 ADVICE): a query with >= 1 match but
    fewer than 2 valued docs per side (welch/homoscedastic) or zero
    paired rows emits a NULL-stat row here, while the entry's oracle
    drops such queries — a latent mismatch that STATS_QUERY_SET never
    reaches (every query matches hundreds of valued docs). Aligning
    them is a behavior change deferred past the optimization round."""
    if test_type not in ("welch", "homoscedastic", "paired"):
        raise ValueError(
            "test_type must be welch|homoscedastic|paired, "
            f"got {test_type!r}"
        )
    ids = matched_ids(spark, merged, tstats, meta, queries, **kwargs)
    c0, c1, c2 = values.columns[:3]
    vals = values.select(
        F.col(c0).cast("long").alias("doc_id"),
        F.col(c1).cast("double").alias("_tt_a"),
        F.col(c2).cast("double").alias("_tt_b"),
    )
    joined = ids.join(vals, "doc_id", "left")
    a, b = F.col("_tt_a"), F.col("_tt_b")

    def _moments(col, tag):
        return [
            F.count(col).cast("long").alias(f"n_{tag}"),
            F.sum(col).alias(f"s_{tag}"),
            F.sum(col * col).alias(f"ss_{tag}"),
        ]

    if test_type == "paired":
        d = F.when(a.isNotNull() & b.isNotNull(), a - b)
        agg = joined.groupBy("query_id").agg(
            *_moments(d, "d"),
            F.sum(F.when(d.isNotNull(), a)).alias("s_a"),
            F.sum(F.when(d.isNotNull(), b)).alias("s_b"),
        )
        n = F.col("n_d")
        var_d = F.when(
            n >= 2,
            F.greatest(
                F.lit(0.0),
                (F.col("ss_d") - F.col("s_d") * F.col("s_d") / n) / (n - 1),
            ),
        )
        t = F.when(
            (n >= 2) & (var_d > 0.0),
            (F.col("s_d") / n) / F.sqrt(var_d / n),
        )
        dof = F.when((n >= 2) & (var_d > 0.0), (n - 1).cast("double"))
        return agg.select(
            "query_id",
            n.alias("n_a"),
            n.alias("n_b"),
            F.when(n > 0, F.col("s_a") / n).alias("mean_a"),
            F.when(n > 0, F.col("s_b") / n).alias("mean_b"),
            t.alias("t_value"),
            dof.alias("dof"),
        )

    agg = joined.groupBy("query_id").agg(*_moments(a, "a"), *_moments(b, "b"))
    na, nb = F.col("n_a"), F.col("n_b")

    def _var(tag, n):
        s, ss = F.col(f"s_{tag}"), F.col(f"ss_{tag}")
        return F.when(
            n >= 2, F.greatest(F.lit(0.0), (ss - s * s / n) / (n - 1))
        )
    va, vb = _var("a", na), _var("b", nb)
    ma = F.when(na > 0, F.col("s_a") / na)
    mb = F.when(nb > 0, F.col("s_b") / nb)
    ok = (na >= 2) & (nb >= 2)
    if test_type == "welch":
        sea, seb = va / na, vb / nb
        se2 = F.when(ok, sea + seb)
        t = F.when(ok & (se2 > 0.0), (ma - mb) / F.sqrt(se2))
        dof = F.when(
            ok & (sea + seb > 0.0) & ((sea > 0.0) | (seb > 0.0)),
            (sea + seb) * (sea + seb)
            / (sea * sea / (na - 1) + seb * seb / (nb - 1)),
        )
    else:  # homoscedastic
        sp2 = F.when(ok, ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
        se2 = sp2 * (F.lit(1.0) / na + F.lit(1.0) / nb)
        t = F.when(ok & (se2 > 0.0), (ma - mb) / F.sqrt(se2))
        dof = F.when(ok & (se2 > 0.0), (na + nb - 2).cast("double"))
    return agg.select(
        "query_id", "n_a", "n_b",
        ma.alias("mean_a"), mb.alias("mean_b"),
        t.alias("t_value"), dof.alias("dof"),
    )


def percentile_rank_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    at_values: tuple[float, ...],
    **kwargs,
) -> DataFrame:
    """-> (query_id, at_value, pct): the percentage of each query's
    matched metric values that are <= at_value — the Elasticsearch
    ``percentile_ranks`` aggregation (the inverse of percentiles:
    "what fraction of matching turns are shorter than 500 chars").

    Exact by default, like the percentiles/cardinality family: shards
    ship (query, value) rows (collector="values", the honest exact
    cost), the check-values broadcast in as a literal array, and one
    bounded fold per (query, at_value) computes 100·|{v <= x}|/n — the
    plain exact definition (ES's own output is a t-digest estimate of
    the same quantity; exact is the stronger, oracle-assertable
    default, the cardinality-agg precedent). Docs missing a value are
    skipped (the ES missing rule); a query whose matches all lack
    values emits no rows. Composes with every mode + deletes /
    doc_filter / field_meta; ``values`` may be a DocValues handle."""
    xs = [float(x) for x in at_values]
    if not xs:
        raise ValueError("at_values must be non-empty")
    if len(set(xs)) != len(xs):
        raise ValueError(f"duplicate at_values: {at_values!r}")
    vals = _matched_values(spark, merged, tstats, meta, queries, values, kwargs)
    at = F.broadcast(
        spark.createDataFrame([(x,) for x in xs], "at_value double")
    )
    return (
        vals.crossJoin(at)
        .groupBy("query_id", "at_value")
        .agg(
            (
                F.lit(100.0)
                * F.count(F.when(F.col("val") <= F.col("at_value"), F.lit(1)))
                / F.count(F.lit(1))
            ).alias("pct")
        )
    )


def matched_ids(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    slices: tuple[int, int] | None = None,
    **kwargs,
) -> DataFrame:
    """-> (query_id, doc_id): each query's complete matched-doc set,
    no scores, no ranks — the membership EXPORT surface (feed for joins
    against metadata/embeddings, ES terms-lookup style, and the
    matrix_stats aggregation). One exhaustive pass (collector="ids"),
    O(matches) two-column rows, pairs distinct by construction (shards
    partition docs). Composes with every mode and deletes / doc_filter
    / field_meta. The ``k`` column is ignored.

    ``slices=(id, max)`` (ES sliced scroll — the parallel-export shape):
    keep only docs with doc_id % max == id. The slices of an export tile
    it exactly (disjoint, union == full set, deterministic — the modulo
    rendition of ES's doc-based slicing), so ``max`` independent
    consumers drain one membership pass without coordination."""
    kwargs.pop("collector", None)
    out = wand_topk(
        spark, merged, tstats, meta, queries, collector="ids", **kwargs
    )
    if slices is not None:
        sid, smax = int(slices[0]), int(slices[1])
        if not (smax >= 1 and 0 <= sid < smax):
            raise ValueError(
                f"slices must satisfy 0 <= id < max, got {slices!r}"
            )
        out = out.filter(F.col("doc_id") % F.lit(smax) == F.lit(sid))
    return out


def matrix_stats_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    **kwargs,
) -> DataFrame:
    """-> (query_id, field_i, field_j, n, mean_i, mean_j, covariance,
    correlation): the Elasticsearch ``matrix_stats`` aggregation —
    pairwise sample covariance and Pearson correlation between numeric
    document fields over each query's matched docs ("do longer docs
    mentioning X also carry more tokens?").

    ``values`` is a (doc_id, <numeric field columns...>) frame; every
    column after doc_id is a field. One row per ordered field pair
    (i <= j, field names sorted); the diagonal carries the field's
    sample variance as its covariance and correlation 1 (0-variance
    diagonals NULL out, as SQL corr does). Docs missing from ``values``
    are skipped entirely; rows with a NULL in either field of a pair
    drop from that pair's fold (SQL pairwise-deletion semantics, which
    is also what ES does per field pair). n is the pair's row count.

    Shape: the matched ids (collector="ids", O(matches) narrow rows)
    join the values frame once; the fold is |pairs| declarative
    covar_samp/corr aggregates per query — map-side combined, bounded
    output (queries x pairs). Skewness/kurtosis (which ES also reports)
    are deliberately omitted: Spark and SQL engines disagree on bias
    corrections, so no oracle could pin them; add them per-deployment
    if a single engine's definition suffices."""
    fields = [c for c in values.columns if c != "doc_id"]
    if not fields:
        raise ValueError("values needs at least one numeric field column")
    fields = sorted(fields)
    ids = matched_ids(spark, merged, tstats, meta, queries, **kwargs)
    vals = values.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[F.col(c).cast("double").alias(c) for c in fields],
    )
    joined = ids.join(vals, "doc_id")
    parts = []
    for i, fi in enumerate(fields):
        for fj in fields[i:]:
            both = joined.filter(
                F.col(fi).isNotNull() & F.col(fj).isNotNull()
            )
            # correlation derives post-agg as cov / (s_i * s_j) —
            # algebraically Spark's own corr, but NULL on a
            # zero-variance field instead of ANSI DIVIDE_BY_ZERO
            # (F.corr throws there; SQL corr returns NULL)
            agg = both.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(fi).alias("mean_i"),
                F.avg(fj).alias("mean_j"),
                F.covar_samp(fi, fj).alias("covariance"),
                F.stddev_samp(fi).alias("_si"),
                F.stddev_samp(fj).alias("_sj"),
            )
            parts.append(
                agg.withColumn(
                    "correlation",
                    F.when(
                        (F.col("_si") > 0) & (F.col("_sj") > 0),
                        F.col("covariance") / (F.col("_si") * F.col("_sj")),
                    ),
                ).select(
                    "query_id",
                    F.lit(fi).alias("field_i"),
                    F.lit(fj).alias("field_j"),
                    "n",
                    "mean_i",
                    "mean_j",
                    "covariance",
                    "correlation",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cardinality_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    values: DataFrame,
    exact: bool = True,
    rsd: float = 0.05,
    **kwargs,
) -> DataFrame:
    """-> (query_id, cardinality): distinct count of a docvalue over
    each query's matched docs — the Elasticsearch ``cardinality``
    aggregation ("how many distinct sources mention X?").

    Shards emit (query_id, value) pairs ALREADY DEDUPED shard-locally
    (collector="distinct_values" — the map-side combine: rows leave a
    shard bounded by its distinct values, not its matches), then one
    global distinct-count per query. ``exact=True`` (default) is the
    exact count; ``exact=False`` switches the global fold to Spark's
    HyperLogLog++ ``approx_count_distinct`` at the given relative
    standard deviation — the sketch ES itself ships, the production
    shape when per-query distinct sets are themselves huge. (ES is
    approximate-only; exact is the stronger default here because the
    shard-deduped feed makes it affordable, and it is what the DuckDB
    oracle can assert.)

    ``values`` is a (doc_id, value) frame with a NUMERIC value column,
    or a DocValues handle (index/docvalues.py — keyword fields count
    their stored dictionary codes, so string cardinality rides the
    same path; task-local reads, no per-batch shuffle). Docs missing a
    value are skipped (the ES missing rule); a query whose matches all
    lack values emits no row. Composes with every wand_topk mode and
    deletes / doc_filter / field_meta. The ``k`` column is ignored."""
    if not 0.0 < rsd < 1.0:
        raise ValueError(f"rsd must be in (0, 1), got {rsd!r}")
    vals = _matched_values(
        spark, merged, tstats, meta, queries, values, kwargs, "distinct_values"
    )
    fold = (
        F.count_distinct(F.col("val"))
        if exact
        else F.approx_count_distinct(F.col("val"), rsd)
    )
    return vals.groupBy("query_id").agg(fold.alias("cardinality"))


def adjacency_matrix(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    **kwargs,
) -> DataFrame:
    """-> (query_a, query_b, n_docs): the Elasticsearch
    ``adjacency_matrix`` aggregation — for every query pair (a <= b
    lexicographically, diagonal included), how many docs match BOTH.
    The co-occurrence structure of a query set over the corpus ("how
    much do these intents overlap"), used for filter-panel UIs and
    query-set dedup.

    One exhaustive membership pass (collector="ids"), then a self-join
    on doc_id: the pair fan-out per doc is |queries matching it|^2 —
    bounded by the query-set size, never the corpus — and the final
    groupBy folds a match-bounded frame. Empty intersections emit no
    row (the ES behavior). Composes with every mode and deletes /
    doc_filter / field_meta; ``k`` is ignored."""
    ids = matched_ids(spark, merged, tstats, meta, queries, **kwargs)
    a = ids.select(F.col("query_id").alias("query_a"), "doc_id")
    b = ids.select(F.col("query_id").alias("query_b"), "doc_id")
    return (
        a.join(b, "doc_id")
        .filter(F.col("query_a") <= F.col("query_b"))
        .groupBy("query_a", "query_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _encode_groups(spark, groups, max_buckets):
    """-> (dim, gm): dictionary-encode a (doc_id, group) frame into a
    (gcode, group) label dim + (doc_id, gcode) assignment; a keyword
    DocValues handle passes through (its stored dictionary is the dim).
    ONE distinct over the narrow group column, bounded by max_buckets
    (the cap raises loudly instead of silently truncating buckets)."""
    if isinstance(groups, DocValues):
        if groups.labels is None:
            raise ValueError(
                f"group docvalues field {groups.name!r} is numeric — "
                "grouping needs a keyword field (stored label dictionary)"
            )
        labels = groups.labels
        gm: DataFrame | DocValues = groups
    else:
        gcol = groups.columns[1]
        g = groups.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(gcol).cast("string").alias("group"),
        ).filter(F.col("group").isNotNull())
        labels = sorted(
            r["group"]
            for r in g.select("group").distinct().limit(max_buckets + 1).collect()
        )
        if len(labels) > max_buckets:
            raise ValueError(
                f"group column {gcol!r} exceeds max_buckets={max_buckets} "
                "distinct values — bucket it coarser (histogram) or raise "
                "the cap"
            )
    dim = spark.createDataFrame(
        list(enumerate(labels)), "gcode long, group string"
    )
    if not isinstance(groups, DocValues):
        gm = g.join(F.broadcast(dim), "group").select("doc_id", "gcode")
    return dim, gm


def top_hits_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    groups: DataFrame,
    n: int = 3,
    max_buckets: int = 65536,
    **kwargs,
) -> DataFrame:
    """-> (query_id, group, rank, doc_id, score): the top-``n`` hits BY
    SCORE within each bucket of each query's matched docs — the
    Elasticsearch ``top_hits`` sub-aggregation under a ``terms``
    aggregation ("the 3 best hits per language"), Lucene's grouping
    module shape.

    ``groups`` is a (doc_id, group) frame or a keyword DocValues handle
    (task-local reads). Labels dictionary-encode driver-side exactly as
    group_matches; codes ride the shard-cogrouped side channel
    (leaf = -3). Each shard ships at most ``n`` rows per (query, bucket)
    it sees — the same shard-local/global two-phase ES runs — and the
    global cut is a window over that bounded frame (shards x buckets x
    n rows), partitioned by (query, bucket). Docs with no group label
    are skipped (the ES missing-bucket default). Membership is
    exhaustive (pruning keeps only the GLOBAL top-k, which can starve a
    rare bucket's best hit); composes with every mode and deletes /
    doc_filter / field_meta. Ranks are per (query, bucket), ties break
    (score DESC, doc_id ASC). The ``k`` column of ``queries`` is
    ignored — ``n`` is the per-bucket size."""
    kwargs.pop("collector", None)
    kwargs.pop("group_meta", None)
    kwargs.pop("group_k", None)
    dim, gm = _encode_groups(spark, groups, max_buckets)
    out = wand_topk(
        spark, merged, tstats, meta, queries,
        collector="group_topk", group_meta=gm, group_k=int(n), **kwargs,
    ).join(F.broadcast(dim), "gcode")
    return out.select("query_id", "group", "rank", "doc_id", "score")


def group_matches(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    groups: DataFrame,
    values: DataFrame | None = None,
    max_buckets: int = 65536,
    **kwargs,
) -> DataFrame:
    """-> (query_id, group, n_docs[, n_values, sum, min, max, avg]):
    bucketed aggregation over each query's matched docs — the
    Elasticsearch ``terms`` aggregation, with an optional ``stats``
    sub-aggregation when ``values`` is given ("docs mentioning X, by
    language, with their length stats"). A histogram / date-histogram is
    the same call with a computed bucket label (e.g. floor(ts/day)).

    ``groups`` is a (doc_id, group) frame; labels dictionary-encode
    driver-side (ONE distinct over the narrow group column, bounded by
    ``max_buckets`` — facet fields are low-cardinality by contract, and
    the cap raises loudly instead of silently truncating buckets the way
    ES ``size`` does). Codes ride the shard-cogrouped side channel
    (leaf = -3) next to tombstones; each shard emits per-(query, code)
    fold partials and an associative (sum/min/max) merge over the
    bucket-bounded frame replaces the rank window — the hit list never
    materializes. Docs with no group label are skipped (the ES
    missing-bucket default); within a bucket, docs missing a metric
    value count in n_docs but not the value stats. Membership is
    exhaustive (pruning off, as with counting); composes with every mode
    and deletes / doc_filter / field_meta. Queries matching nothing emit
    no rows. The ``k`` column of ``queries`` is ignored. ``groups``
    and/or ``values`` may be DocValues handles (index/docvalues.py) —
    ``groups`` must then be a keyword field (its stored dictionary
    decodes the buckets) — and read task-locally from the stored
    fields, no per-batch shuffle."""
    kwargs.pop("collector", None)
    kwargs.pop("sort_meta", None)
    kwargs.pop("group_meta", None)
    dim, gm = _encode_groups(spark, groups, max_buckets)
    sm = None if values is None else _value_source(values)
    out = wand_topk(
        spark, merged, tstats, meta, queries,
        collector="group_stats", group_meta=gm, sort_meta=sm, **kwargs,
    ).join(F.broadcast(dim), "gcode")
    if values is None:
        return out.select("query_id", "group", "n_docs")
    return out.select(
        "query_id", "group", "n_docs", "n_values", "sum", "min", "max", "avg"
    )


def composite_buckets(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    queries: DataFrame,
    groups: DataFrame,
    size: int = 10,
    after: str | dict | None = None,
    values: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """-> (query_id, group, n_docs[, stats...]): the Elasticsearch
    ``composite`` aggregation — buckets stream in ASCENDING KEY order,
    ``size`` per page, resumed by an ``after`` cursor (the last key of
    the previous page; a plain string for all queries or a
    {query_id: key} dict). Pages tile the full bucket set exactly:
    page N's first key is the smallest key > page N-1's last.

    Built on group_matches: shards emit per-(query, bucket) fold
    partials (never hit lists), the associative merge produces the
    bucket-bounded frame, and the page cut is a per-query window over
    THAT frame — so one pass serves every page of one request batch,
    and the bucket cap raises loudly (group_matches max_buckets)
    instead of silently dropping keys the way unbounded terms-aggs do.
    Composes with every mode and deletes / doc_filter / field_meta."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    out = group_matches(
        spark, merged, tstats, meta, queries, groups, values=values, **kwargs
    )
    if after is not None:
        if isinstance(after, dict):
            cur = spark.createDataFrame(
                list(after.items()), "query_id string, after string"
            )
            out = (
                out.join(F.broadcast(cur), "query_id", "left")
                .filter(F.col("after").isNull() | (F.col("group") > F.col("after")))
                .drop("after")
            )
        else:
            out = out.filter(F.col("group") > F.lit(str(after)))
    w = Window.partitionBy("query_id").orderBy(F.asc("group"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(int(size)))
        .drop("_rn")
    )


def _shard_and_rank(
    spark: SparkSession,
    merged: DataFrame,
    meta: IndexMeta,
    tokenized: list,
    rows: list,
    cand_terms: list[str],
    keep_positions: bool,
    prune: bool,
    deletes: DataFrame | None,
    mode: str,
    slop: int,
    doc_filter: DataFrame | None,
    fieldsets: DataFrame | None = None,
    offset: int = 0,
    collector: str = "topk",
    sort_meta: DataFrame | None = None,
    sort_ascending: bool = False,
    group_meta: DataFrame | None = None,
    search_after: dict | None = None,
    group_k: int = 3,
    sort_multiply: bool = False,
    demote_sets: DataFrame | None = None,
    negative_boost: float | dict = 0.5,
) -> DataFrame:
    """shared execution tail for every mode: candidate-block In(term)
    pushdown -> one shuffle by shard -> shard-local batch scoring, each
    query's matches folded into the partial rows of
    ``COLLECTORS[collector]`` -> that collector's driver-side reduce
    (topk: the global per-query window, ranks (offset, k]; count: the
    per-query sum; the aggregations: an associative merge or no reduce).
    See wand_topk's docstring.

    ``fieldsets`` (boolean mode): a (doc_id, leaf) frame — the resolved
    docID set of each field:value leaf. It rides the SAME cogrouped side
    channel as tombstones/allow-lists: rows tagged leaf >= 0 become the
    per-leaf membership arrays, leaf == -1 rows are the base
    tombstone/allow set.

    ``sort_meta`` / ``group_meta`` given as a DocValues handle
    (index/docvalues.py) skip the side channel entirely: each shard task
    reads its own segments' stored column task-locally (pyarrow,
    partition-pruned) — no per-batch metadata shuffle, the Lucene
    docvalues access pattern."""
    coll = COLLECTORS[collector]
    if not rows:
        return spark.createDataFrame([], coll.result)
    dv_sort = sort_meta if isinstance(sort_meta, DocValues) else None
    if dv_sort is not None:
        sort_meta = None
    dv_group = group_meta if isinstance(group_meta, DocValues) else None
    if dv_group is not None:
        group_meta = None
    sorted_output = sort_meta is not None or dv_sort is not None
    grouped = pd.DataFrame(
        rows, columns=["query_id", "k", "terms", "idfs", "nq", "phrase", "ast"]
    )
    demote_tagged = None
    if demote_sets is not None:
        # each query's negative docID set gets a PRIVATE leaf id far
        # above any field-leaf id (those enumerate from 0 and are
        # bounded by the batch's distinct field predicates); the set
        # rides the same cogrouped fieldset channel — never broadcast
        _DEMOTE_BASE = 1_000_000_000

        def _nb_of(qid):
            if isinstance(negative_boost, dict):
                return float(negative_boost.get(qid, 1.0))
            return float(negative_boost)

        demote_map = {
            qid: (_DEMOTE_BASE + i, _nb_of(qid))
            for i, qid in enumerate(grouped["query_id"])
        }
        grouped["demote_leaf"] = np.array(
            [demote_map[qid][0] for qid in grouped["query_id"]],
            dtype=np.int64,
        )
        grouped["demote_nb"] = np.array(
            [demote_map[qid][1] for qid in grouped["query_id"]],
            dtype=np.float64,
        )
        leaf_lit = F.create_map(
            *[
                x
                for qid, (lid, _nb) in demote_map.items()
                for x in (F.lit(str(qid)), F.lit(int(lid)))
            ]
        )
        demote_tagged = (
            demote_sets.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.element_at(
                    leaf_lit, F.col("query_id").cast("string")
                ).alias("leaf"),
            )
            .filter(F.col("leaf").isNotNull())
            .select("doc_id", F.col("leaf").cast("long").alias("leaf"))
        )
    if search_after:
        # per-query cursors ride the broadcast query frame (bounded:
        # one (float, long) per query); NaN marks a cursor-less query
        grouped["after_s"] = np.array(
            [
                float(search_after[qid][0]) if qid in search_after else np.nan
                for qid in grouped["query_id"]
            ],
            dtype=np.float64,
        )
        grouped["after_d"] = np.array(
            [
                int(search_after[qid][1]) if qid in search_after else -1
                for qid in grouped["query_id"]
            ],
            dtype=np.int64,
        )
    b_qt = spark.sparkContext.broadcast(grouped)

    # shard count is DATA-derived (~SHARD_TARGET_DOCS docs/shard), not
    # cluster-derived: the same index answers the same query batch with
    # the same physical work at every cluster size, so adding executors
    # divides wall time instead of multiplying per-shard fixed cost (the
    # round-5 scaling finding: parallelism-derived shards made the 4x
    # cluster do 4x the per-query fold setups). The 2x-parallelism floor
    # only binds when the corpus is small relative to the cluster —
    # scoring parallelism then still covers every core.
    n_segments = max(1, (meta.n_docs + meta.segment_docs - 1) // meta.segment_docs)
    par = spark.sparkContext.defaultParallelism
    target_shards = max(par * 2, -(-meta.n_docs // SHARD_TARGET_DOCS))
    shard_segments = max(1, n_segments // target_shards)
    cand = merged.filter(F.col("term").isin(cand_terms))
    if not keep_positions and "pos_bin" in cand.columns:
        # positions roughly double a positional index's block bytes and
        # only phrase verification reads them — drop the column BEFORE
        # the shard shuffle so or/and queries never ship it (the
        # projection also prunes it out of the parquet scan)
        cand = cand.drop("pos_bin")
    cand = cand.withColumn(
        "shard", (F.col("segment_id") / F.lit(shard_segments)).cast("long")
    )
    avgdl = meta.avgdl

    side = None
    allow = False
    if doc_filter is not None:
        side = doc_filter.select(F.col("doc_id").cast("long").alias("doc_id"))
        if deletes is not None:
            side = side.join(
                deletes.select(F.col("doc_id").cast("long").alias("doc_id")),
                "doc_id",
                "left_anti",
            )
        allow = True
    elif deletes is not None:
        side = deletes.select(F.col("doc_id").cast("long").alias("doc_id"))

    if side is not None:
        side = side.withColumn("leaf", F.lit(-1).cast("long"))
    if demote_tagged is not None:
        fieldsets = (
            demote_tagged
            if fieldsets is None
            else fieldsets.unionByName(demote_tagged)
        )
    if fieldsets is not None:
        side = fieldsets if side is None else side.unionByName(fieldsets)
    if side is not None:
        # the side channel gains a value column only sort keys use;
        # tombstone/allow/fieldset rows carry NULL
        side = side.withColumn("val", F.lit(None).cast("double"))
    if sort_meta is not None:
        # sort keys ride the same cogrouped channel, tagged leaf = -2;
        # ascending sorts negate the key here so the shared
        # largest-first selection and final window stay unchanged (the
        # final select un-negates)
        skey = F.col("sort_key").cast("double")
        sd = sort_meta.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(-2).cast("long").alias("leaf"),
            (-skey if sort_ascending else skey).alias("val"),
        )
        side = sd if side is None else side.unionByName(sd)
    if group_meta is not None:
        # bucket codes ride the same cogrouped channel, tagged leaf = -3
        gd = group_meta.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(-3).cast("long").alias("leaf"),
            F.col("gcode").cast("double").alias("val"),
        )
        side = gd if side is None else side.unionByName(gd)

    # docvalues reads happen INSIDE the shard task: segments
    # [shard*G, (shard+1)*G) are this task's blocks by construction, so
    # the pruned parquet read touches exactly the task's own rows —
    # no shuffle ever carries the field
    def _dv_keys(dv, shard):
        r = read_segment_values(
            dv.data_path, int(shard) * shard_segments, (int(shard) + 1) * shard_segments
        )
        if r is not None and dv is dv_sort and sort_ascending:
            # the DataFrame path negates ascending keys driver-side;
            # the dv path negates after the task-local read — same
            # largest-first selection, same final un-negate
            r = (r[0], -r[1])
        return r

    has_base = allow or deletes is not None  # leaf -1 rows mask postings

    def score_shard(key, pdf, ids):
        """one shard task: ``ids`` is the shard's side-channel rows, or
        None when the batch has no side channel"""
        base, fsets, skeys, gkeys = None, {}, None, None
        if ids is not None:
            leaves = ids["leaf"].to_numpy(dtype=np.int64)
            docs = ids["doc_id"].to_numpy(dtype=np.int64)
            # leaf == -1 is the base tombstone/allow set; -2 tags sort
            # keys and metric values, -3 bucket codes (never membership);
            # >= 0 are field-leaf docID sets
            if has_base:
                base = np.sort(np.unique(docs[leaves == -1]))
            fsets = {
                int(l): np.sort(np.unique(docs[leaves == l]))
                for l in np.unique(leaves[leaves >= 0])
            }
            vals = ids["val"].to_numpy(dtype=np.float64)

            def keyed(tag):
                sel = leaves == tag
                if not sel.any():
                    return None
                o = np.argsort(docs[sel], kind="stable")
                return docs[sel][o], vals[sel][o]

            skeys, gkeys = keyed(-2), keyed(-3)
        if dv_sort is not None:
            skeys = _dv_keys(dv_sort, key[0])
        if skeys is None and sorted_output and not sort_multiply:
            # a shard none of whose docs has a key still sorts by the
            # field: every doc there is "missing" and sorts last
            skeys = _NO_KEYS
        if dv_group is not None:
            gkeys = _dv_keys(dv_group, key[0])
        return _score_shard_multi(
            pdf, b_qt.value, avgdl, prune,
            deleted=None if allow else base, mode=mode, slop=slop,
            allowed=base if allow else None, field_sets=fsets,
            collector=collector,
            sort_keys=None if sort_multiply else skeys,
            group_keys=gkeys,
            factors=skeys if sort_multiply else None,
            group_k=group_k,
        )

    if side is None:
        local = cand.groupBy("shard").applyInPandas(
            lambda key, pdf: score_shard(key, pdf, None), schema=coll.partial
        )
    else:
        # a doc's shard is a pure function of its docID (segment_id =
        # doc_id // segment_docs), so the docID set (tombstones, an
        # allow-list, or a field leaf's membership set) shuffles straight
        # to the one task whose blocks can contain it — never broadcast
        docs_per_shard = meta.segment_docs * shard_segments
        side = side.withColumn(
            "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
        )
        local = (
            cand.groupby("shard")
            .cogroup(side.groupby("shard"))
            .applyInPandas(score_shard, schema=coll.partial)
        )
    return coll.reduce(
        local, _Tail(spark, tokenized, offset, group_k, sorted_output and sort_ascending)
    )
