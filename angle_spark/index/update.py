"""update_by_query — ES ``_update_by_query`` / Lucene
``updateDocument(Query)``: reindex every LIVE doc a query matches, with
its text rewritten by a caller-supplied Column transform. The
training-data shape: in-place corpus curation (scrub a leaked token,
normalize a boilerplate phrase) without rebuilding the index — the soft
sibling of ``delete_by_query`` (index/deletes.py), completing the CRUD
surface (append = streaming/maintain.py, read = query/, delete =
deletes.py, update = here). Reference analog: rewriting training pairs
before re-encoding (reference README.md:119-128 data-prep discussion).

Mechanics — updates are DELETE + APPEND, exactly Lucene's
updateDocument contract (documents are immutable once indexed):

  1. one membership pass pins the hit set (``collector="ids"``),
  2. the transformed replacements append as streamed delta segments
     with NEW docIDs above the watermark (append_micro_batch — the
     O(delta) path; stats refresh from lineage),
  3. the originals tombstone (O(matches); the index is never rewritten).

``source_docs`` carries the forward text (doc_id, text): this engine
stores postings, not source — the caller keeps source in the lake (the
usual Spark-warehouse split; ES stores _source next to the index, we
disclose the seam instead).

Crash contract (journaled, idempotent — the north rule's resumability
discipline; single-maintainer like every maintenance op in this repo,
see compact_delta_runs / purge_deletes):

  J. the hit set and {n0 = meta.n_docs, n_new} journal to <out>/ubq/
     (parquet + atomic json) BEFORE anything changes — the live view
     changes underneath a re-run (step B removes the originals), so the
     matched set must be pinned, not recomputed.
  A. if meta.n_docs == n0 the append has NOT committed: sweep any
     segment blocks with first_doc >= n0 (debris of a crashed append —
     every COMMITTED append bumps n_docs via the lineage refresh, so
     nothing above the watermark is ever referenced), then append the
     replacements and refresh — the refreshed meta write is THE commit
     point for the append.
  B. tombstone the journal's hit set (a re-run appends a duplicate
     tombstone file; tombstones dedupe on read — idempotent).
  C. delete the journal last.

Killing the process anywhere and re-calling update_by_query (or
recover_update) converges to exactly-once semantics. The visibility
order is ES's own: replacements appear first (transient coexistence
with the originals between A and B), then the originals vanish — never
a window where the documents are missing entirely.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark import fsio
from angle_spark.index import schema
from angle_spark.index.build import (
    IndexMeta,
    _read_table,
    _write,
    load_index,
    refresh_corpus_stats,
)
from angle_spark.index.deletes import (
    _load_deletes_df,
    _recover_purge_swap,
    delete_docs,
)


def _ubq_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "ubq")


def _load_meta(spark: SparkSession, out_dir: str) -> IndexMeta:
    return IndexMeta(
        **json.loads(
            fsio.read_text(spark, os.path.join(out_dir, "corpus_stats.json"))
        )
    )


def _sweep_uncommitted_segments(
    spark: SparkSession, out_dir: str, meta: IndexMeta
) -> None:
    """Delete segment blocks whose first_doc >= meta.n_docs — the debris
    of an append that wrote blocks but died before its lineage/stats
    commit. Safe under the single-maintainer contract: every committed
    append advances n_docs, so no reader references blocks above the
    watermark. The boundary segment (which may hold committed blocks
    below the watermark) rewrites via the same crash-safe swap the purge
    uses (_recover_purge_swap finishes a killed swap on re-entry)."""
    seg_root = os.path.join(out_dir, "segments")
    if not fsio.exists(spark, seg_root):
        return
    boundary = meta.n_docs // meta.segment_docs
    # finish any crashed boundary swap FIRST so the dir is readable
    for base in fsio.list_dir(spark, seg_root):
        if base.endswith("_old") or base.endswith("_tmp"):
            _recover_purge_swap(
                spark, os.path.join(seg_root, base[: base.rfind("_")])
            )
    for base in fsio.list_dir(spark, seg_root):
        if not base.startswith("segment_id="):
            continue
        child = os.path.join(seg_root, base)
        sid = int(base.split("=", 1)[1])
        if sid < boundary:
            continue
        if sid > boundary or meta.n_docs % meta.segment_docs == 0:
            fsio.delete(spark, child)
            continue
        df = _read_table(spark, child, meta.sink_format, schema.SEGMENT_FILES)
        if df.filter(F.col("first_doc") >= meta.n_docs).limit(1).count() == 0:
            continue
        keep = df.filter(F.col("first_doc") < meta.n_docs)
        if keep.limit(1).count() == 0:
            fsio.delete(spark, child)
            continue
        _write(keep, child + "_tmp", meta.sink_format, "overwrite")
        fsio.rename(spark, child, child + "_old")
        fsio.rename(spark, child + "_tmp", child)
        fsio.delete(spark, child + "_old")


def recover_update(spark: SparkSession, out_dir: str) -> int:
    """Finish a crashed update_by_query from its journal (no-op when
    none is pending). Returns the number of docs the recovered update
    rewrote (0 when nothing was pending)."""
    journal_path = os.path.join(_ubq_dir(out_dir), "journal.json")
    if not fsio.exists(spark, journal_path):
        return 0
    j = json.loads(fsio.read_text(spark, journal_path))
    hits = _read_table(
        spark, os.path.join(_ubq_dir(out_dir), "hits"), j["fmt"], schema.DELETES
    ).select("doc_id")
    return _finish_update(
        spark, out_dir, hits, int(j["n0"]), int(j["n_new"]),
        j["source_path"], j["transform_sql"],
    )


def _finish_update(
    spark: SparkSession,
    out_dir: str,
    hits: DataFrame,
    n0: int,
    n_new: int,
    source_path: str,
    transform_sql: str,
) -> int:
    from angle_spark.index.build import _lineage_dir
    from angle_spark.streaming.maintain import append_micro_batch

    meta = _load_meta(spark, out_dir)
    # the append's own commit point is its LINEAGE write (one atomic
    # Spark job, blocks land first): lineage covering n0 + n_new docs
    # means blocks AND counts are durable — only the stats refresh and
    # tombstones remain. Lineage still at n0 means any blocks above the
    # watermark are a half-append to sweep and redo.
    lineage_docs = int(
        _read_table(spark, _lineage_dir(out_dir), meta.sink_format, schema.LINEAGE)
        .agg(F.sum("doc_count"))
        .collect()[0][0]
    )
    if lineage_docs == n0:
        _sweep_uncommitted_segments(spark, out_dir, meta)
        # the caller's forward table, not an index table: its columns are
        # whatever ``transform`` reads, so this read keeps inference
        source_docs = spark.read.format(meta.sink_format).load(source_path)
        reps = (
            source_docs.join(hits, "doc_id")
            .select(
                F.col("doc_id").cast("string").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.expr(transform_sql).alias("text"),
            )
        )
        n_reps = reps.count()
        if n_reps != n_new:
            raise ValueError(
                f"source_docs covers {n_reps} of the {n_new} matched docs "
                "— it must carry every live doc_id, or matched documents "
                "would silently vanish"
            )
        append_micro_batch(reps, 0, out_dir, high_water_doc=n0)
    elif lineage_docs != n0 + n_new:
        raise RuntimeError(
            f"lineage advanced from {n0} to {lineage_docs} docs, expected "
            f"{n0 + n_new} — another maintenance op ran concurrently with "
            "update_by_query (maintenance must be serialized)"
        )
    # idempotent commit: recomputes (n_docs, avgdl) from lineage and
    # rewrites the meta atomically — same outcome however often it runs
    meta = refresh_corpus_stats(spark, out_dir)
    assert meta.n_docs == n0 + n_new
    delete_docs(spark, out_dir, hits)  # duplicate files dedupe on read
    fsio.delete(spark, _ubq_dir(out_dir))
    return n_new


def update_by_query(
    spark: SparkSession,
    out_dir: str,
    text: str,
    source_docs: DataFrame | str,
    transform: str,
    mode: str = "boolean",
    **search_kwargs,
) -> int:
    """Rewrite every LIVE doc matching ``text``: tombstone the original,
    append a replacement whose text is ``transform`` — a SQL expression
    string over the source columns (e.g.
    ``regexp_replace(text, '\\\\bdup\\\\b', 'clean')``); a string, not a
    Column, because it must survive the crash journal verbatim. Returns
    how many docs were rewritten. ``source_docs`` is the (doc_id, text)
    forward view — a path string is journaled by reference, a DataFrame
    is pinned into the journal as parquet (only the matched rows) — and
    must cover every matched doc_id.

    Matching sees the CURRENT live view (prior tombstones apply);
    replacements get new docIDs above the watermark and are queryable
    immediately (the streamed-delta read path); corpus stats refresh
    exactly (lineage-sum). Re-running after the transform removed the
    match is a no-op; crash recovery is automatic (module docstring)."""
    # finish any interrupted update FIRST — its journal pins an older
    # live view, and its step B changes what `text` would match now
    recover_update(spark, out_dir)

    from angle_spark.query.wand import matched_ids

    merged, tstats, meta = load_index(spark, out_dir)
    existing = _load_deletes_df(spark, out_dir, meta)
    queries = spark.createDataFrame(
        [("_ubq", text, 1)], schema="query_id string, text string, k int"
    )
    search_kwargs.pop("deletes", None)
    hits = matched_ids(
        spark, merged, tstats, meta, queries,
        mode=mode, deletes=existing, **search_kwargs,
    ).select("doc_id")

    ubq = _ubq_dir(out_dir)
    if fsio.exists(spark, ubq):
        fsio.delete(spark, ubq)  # journal-less debris from a failed start
    hits_path = os.path.join(ubq, "hits")
    _write(hits, hits_path, meta.sink_format, "overwrite")
    hits = _read_table(spark, hits_path, meta.sink_format, schema.DELETES).select(
        "doc_id"
    )
    n_new = hits.count()
    if n_new == 0:
        fsio.delete(spark, ubq)
        return 0
    if not isinstance(transform, str):
        raise TypeError(
            "transform must be a SQL expression string (it is stored "
            "verbatim in the crash journal)"
        )
    transform_sql = transform
    if isinstance(source_docs, str):
        source_path = source_docs
    else:
        source_path = os.path.join(ubq, "source")
        _write(
            source_docs.join(hits, "doc_id"),
            source_path,
            meta.sink_format,
            "overwrite",
        )
    fsio.write_text(
        spark,
        os.path.join(ubq, "journal.json"),
        json.dumps(
            {
                "n0": meta.n_docs,
                "n_new": n_new,
                "fmt": meta.sink_format,
                "source_path": source_path,
                "transform_sql": transform_sql,
            }
        ),
    )
    return _finish_update(
        spark, out_dir, hits, meta.n_docs, n_new, source_path, transform_sql
    )
