"""Term vectors — the Elasticsearch ``_termvectors`` / Lucene
``Terms Vectors`` read API: for a bounded set of docIDs, every term of
each doc with its in-doc frequency, document length, corpus document
frequency and idf (and token positions on a positional index), read
FROM THE INDEX, not by re-tokenizing source text.

The inverted index has no per-doc forward file, so the read is an
"uninvert" scan (the purge/fsck shape): every block row carries its
docID span (first_doc, last_doc — index/schema.py BLOCKS), so a
containment predicate keeps only blocks that can hold a requested doc.
merged/ is term-range partitioned (query-major), so this is a PUSHED
data predicate (parquet row-group stats), not partition pruning — the
scan touches block METADATA index-wide but decodes only the owning
blocks, each once, inside an Arrow-batched mapInPandas with a numpy
membership mask. Nothing corpus-sized shuffles; the decoded volume is
O(requested docs x their vocabulary).

This is a point-lookup API (the ES endpoint takes explicit ids):
``doc_ids`` is a bounded driver-side list by contract, like query
terms — not a frame to join a corpus against. For corpus-scale forward
data, store it at index time (index/docvalues.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark.codec import (
    decode_doc_deltas,
    decode_positions,
    decode_tfs,
    decode_varints,
)
from angle_spark.index.build import IndexMeta
from angle_spark.index.stats import idf_value
from angle_spark.query.wand import query_term_stats

MAX_TERMVECTOR_DOCS = 10_000  # point-lookup contract, enforced loudly

_TV_SCHEMA = "doc_id long, term string, tf long, dl long"
_TV_POS_SCHEMA = _TV_SCHEMA + ", positions array<int>"


def candidate_blocks(merged: DataFrame, meta: IndexMeta, ids: list[int]):
    """blocks whose [first_doc, last_doc] span can hold a requested doc
    — only these DECODE. The exact per-id disjunction is bounded to
    keep the plan small; larger batches fall back to the coarse
    envelope (segment set + global span) and let the numpy mask finish
    the job. All predicates push to the parquet scan (row-group
    min/max stats; plan-asserted in tests)."""
    segs = sorted({d // meta.segment_docs for d in ids})
    cand = merged.filter(
        F.col("segment_id").isin(segs)
        & (F.col("first_doc") <= F.lit(max(ids)))
        & (F.col("last_doc") >= F.lit(min(ids)))
    )
    if len(ids) <= 64:
        contain = None
        for d in ids:
            c = (F.col("first_doc") <= F.lit(d)) & (F.col("last_doc") >= F.lit(d))
            contain = c if contain is None else (contain | c)
        cand = cand.filter(contain)
    return cand


def term_vectors(
    spark: SparkSession,
    merged: DataFrame,
    tstats: DataFrame,
    meta: IndexMeta,
    doc_ids: list[int],
    positions: bool = False,
) -> DataFrame:
    """-> (doc_id, term, tf, dl, df, idf[, positions]): the term vector
    of every requested doc, ordered facts straight from the posting
    blocks. ``positions=True`` needs a positional index and adds each
    term's ascending in-doc token positions. Unknown docIDs simply
    return no rows (the ES "found": false analog); duplicate ids
    collapse."""
    ids = sorted({int(d) for d in doc_ids})
    if not ids:
        raise ValueError("doc_ids is empty")
    if len(ids) > MAX_TERMVECTOR_DOCS:
        raise ValueError(
            f"term_vectors is a point-lookup API (<= {MAX_TERMVECTOR_DOCS} "
            f"docs), got {len(ids)} — store a docvalues field for "
            "corpus-scale forward data"
        )
    if positions and not getattr(meta, "positional", False):
        raise ValueError(
            "positions=True needs a positional index — rebuild with "
            "build_index(..., positional=True)"
        )
    cand = candidate_blocks(merged, meta, ids)
    cols = ["term", "docs_bin", "tfs_bin", "dls_bin"]
    if positions:
        cols.append("pos_bin")
    cand = cand.select(*cols)
    ids_arr = np.array(ids, dtype=np.int64)
    want_pos = positions

    def decode(it):
        for pdf in it:
            outs = []
            for row in pdf.itertuples(index=False):
                d = decode_doc_deltas(row.docs_bin)
                hit = np.isin(d, ids_arr)
                if not hit.any():
                    continue
                tf = decode_tfs(row.tfs_bin).astype(np.int64)
                dl = decode_varints(row.dls_bin).astype(np.int64)
                out = pd.DataFrame(
                    {
                        "doc_id": d[hit],
                        "term": row.term,
                        "tf": tf[hit],
                        "dl": dl[hit],
                    }
                )
                if want_pos:
                    flat, bounds = decode_positions(row.pos_bin, tf)
                    out["positions"] = [
                        flat[bounds[i]: bounds[i + 1]].astype(np.int32)
                        for i in np.flatnonzero(hit)
                    ]
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    decoded = cand.mapInPandas(
        decode, schema=_TV_POS_SCHEMA if positions else _TV_SCHEMA
    ).localCheckpoint()  # tiny by contract; one decode pass feeds both
    # the term collect and the returned frame (no cache-manager entry)
    terms = sorted(r["term"] for r in decoded.select("term").distinct().collect())
    if not terms:
        return decoded.withColumn("df", F.lit(None).cast("long")).withColumn(
            "idf", F.lit(None).cast("double")
        )
    ts = query_term_stats(tstats, terms)  # (term, df); idf recomputes
    # from live_docs — the post-purge corpus, same rule as the scorer
    stats_df = spark.createDataFrame(
        [
            (t, int(d), idf_value(meta.live_docs, int(d)))
            for t, d in zip(ts["term"], ts["df"])
        ],
        "term string, df long, idf double",
    )
    out = decoded.join(F.broadcast(stats_df), "term")
    front = ["doc_id", "term", "tf", "dl", "df", "idf"]
    return out.select(*front, *(["positions"] if positions else []))
