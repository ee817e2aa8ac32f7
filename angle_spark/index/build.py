"""Index build orchestration: checkpointed segment builds + global merge.

Iceberg-style semantics on plain parquet (the sandbox has no Iceberg
catalog jar; the sink is abstracted so an Iceberg writer slots in — see
SURVEY.md §7 "degrade gracefully, keep the API identical"). The reference's
analog is checkpoint-per-N-steps with max-epoch resume
(reference angle_emb/angle.py:933-944,1143-1148).

Layout under <out_dir>/ (column types: index/schema.py, which every
read passes — no read infers a schema):
    corpus_stats.json                     n_docs, avgdl, config
    segments/segment_id=K/*.parquet      encoded block rows, one dir per segment
    lineage/*.parquet                     (partition_id, doc_count, term_count,
                                           bytes, wall_ms, commit_ts,
                                           token_count) per segment commit;
                                          the facts are observed on the
                                          segment write job itself
                                          (spimi.write_segments)
    merged/*.parquet                      final queryable layout, flat files:
                                          rows hash-spread by (term, block
                                          chunk), each file sorted by (term,
                                          segment_id, block_in_seg) — see
                                          _merged_layout
    delta_runs/run_<lo>_<hi>/*.parquet    LSM delta tiers from incremental
                                          merges, same layout as merged/
                                          (only runs listed in meta are
                                          live; see merge_index)
    term_stats/*.parquet                  (term, df, cf)

Resume: the work list is segment ids minus lineage's committed ids
(anti-join semantics; here a driver-side set difference since the segment
count is bounded — at 10^12 turns / 8M-doc segments it is ~125k ids, a few
MB). Builds run in batches of segments, one Spark job per batch, dynamic
partition overwrite making a half-written batch safely rebuildable.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark import fsio

from angle_spark.codec import BLOCK_SIZE
from angle_spark.index import schema
from angle_spark.index.spimi import write_segments
from angle_spark.index.stats import corpus_stats

# the IndexMeta.n_buckets default: every meta carries the key, nothing
# reads it — the merged layout is _merged_layout's (LAYOUT_BUCKETS below)
N_BUCKETS = 64


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    segment_docs: int
    block_size: int
    n_buckets: int = N_BUCKETS
    sink_format: str = "parquet"
    # doc-count watermark of the last merge: every block whose first_doc is
    # >= merged_docs is a committed-but-unmerged delta (streamed appends
    # assign docIDs above the high-water mark, so one integer cleanly
    # splits merged/ content from delta blocks). 0 = legacy meta written
    # before this field existed -> treat merged/ as covering everything.
    merged_docs: int = 0
    # cumulative purge counters (index/deletes.py). n_docs stays the
    # docID-space bound (dense-assignment watermark, orphan guard);
    # SCORING uses live_docs = n_docs - purged_docs, and stored avgdl is
    # the live average once a purge has run. Both 0 on never-purged
    # indexes, where live == total and nothing changes.
    purged_docs: int = 0
    purged_tokens: int = 0
    # whether blocks carry pos_bin (token positions — phrase retrieval).
    # Persisted so streamed appends and purge rewrites keep emitting the
    # same block shape the index was built with.
    positional: bool = False
    # LSM-style delta tiers: each incremental merge lays its delta out as
    # ONE run directory under <out_dir>/delta_runs/ and lists the run
    # name here. Readers union merged/ + exactly these runs (+ raw
    # unmerged segments) — an UNREFERENCED run dir is crash debris and is
    # never read, which is what makes the incremental merge idempotent:
    # the meta write is the single atomic commit point. A full merge (the
    # compaction) folds every run back into merged/ and clears the list.
    delta_runs: list = None  # type: ignore[assignment]
    # runs superseded by the LAST maintenance commit (a compaction folded
    # them into a combined run). They are no longer read, but stay on
    # disk for ONE maintenance generation so a concurrent reader holding
    # the previous meta's lazy union plan (e.g. a cached Searcher) never
    # hits missing files — Lucene IndexDeletionPolicy shape. The NEXT
    # maintenance commit clears this list and the sweep deletes them.
    # Readers must refresh at least once per maintenance cycle; the full
    # (non-incremental) merge and purge rewrite merged/ in place and
    # remain compaction-class: do not run them under open readers.
    retired_runs: list = None  # type: ignore[assignment]
    # analyzer version the corpus was tokenized with (functions/
    # tokenizer.py ANALYZERS). Queries MUST use the same analyzer —
    # wand_topk dispatches on this field — and streamed appends keep
    # emitting the same rendition. Legacy metas (pre-round-5) lack the
    # key and default to v1.
    analyzer: str = "v1-ascii-alnum"
    # term_stats/ covers docs with doc_id < stats_docs. Incremental
    # merges do NOT rewrite term_stats (no swap, no crash window — the
    # round-3 ADVICE hole); readers aggregate stats for newer blocks from
    # the delta runs at load. -1 = legacy meta -> stats cover everything
    # merged (pre-runs incremental merges rebuilt term_stats in place).
    stats_docs: int = -1
    # scoring-statistics override (ES dfs_query_then_fetch — see
    # query/multi_index.py): when set, idf computes against THIS doc
    # count instead of the index's own live count, making scores
    # comparable across a multi-index search. Never persisted with a
    # value (search_indices sets it on an in-memory copy only); None =
    # normal single-index scoring.
    scoring_docs: int | None = None

    def __post_init__(self) -> None:
        if self.delta_runs is None:
            self.delta_runs = []
        if self.retired_runs is None:
            self.retired_runs = []
        if self.stats_docs < 0:
            self.stats_docs = self.merged_docs

    @property
    def live_docs(self) -> int:
        if self.scoring_docs is not None:
            return self.scoring_docs
        return self.n_docs - self.purged_docs


def _write(df: DataFrame, path: str, fmt: str, mode: str, partition_by=None) -> None:
    """format-pluggable sink seam. "parquet" is the sandbox default; any
    Spark DataSourceV2 format (e.g. "iceberg" with a catalog jar on the
    classpath) goes through the generic format().save() path — the layout
    contract (columns, partitioning, commit-then-lineage ordering) is
    format-independent. The sandbox ships no Iceberg jar, so that path is
    smoke-tested only for graceful failure (tests/test_fsio.py)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(path)
    else:
        w.format(fmt).save(path)


def _read_table(spark: SparkSession, path: str, fmt: str, ddl: str) -> DataFrame:
    """Read one index table with its declared schema (``ddl``, one of
    index/schema.py's): no inference job, and a partition column takes
    the declared type instead of the one discovery guesses."""
    reader = spark.read.schema(ddl)
    if fmt == "parquet":
        return reader.parquet(path)
    return reader.format(fmt).load(path)


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def _commit_lineage(
    spark: SparkSession,
    out_dir: str,
    fmt: str,
    doc_counts: dict,
    stats: dict,
    wall_ms: int,
) -> None:
    """Append one lineage row per segment of ``doc_counts`` (segment_id
    -> docs this commit added to it), with the facts
    ``spimi.write_segments`` observed for it; a segment without blocks
    (no doc of it has a token) commits zero terms, bytes and tokens."""

    def fact(s, name):
        return int(stats[s][name]) if s in stats else 0

    rows = [
        (s, n, fact(s, "term_count"), fact(s, "bytes"), wall_ms, fact(s, "token_count"))
        for s, n in doc_counts.items()
    ]
    lineage = spark.createDataFrame(
        rows,
        schema=(
            "partition_id long, doc_count long, term_count long, "
            "bytes long, wall_ms long, token_count long"
        ),
    ).withColumn("commit_ts", F.current_timestamp())
    _write(
        lineage.select(
            "partition_id", "doc_count", "term_count", "bytes", "wall_ms",
            "commit_ts", "token_count",
        ),
        _lineage_dir(out_dir),
        fmt,
        "append",
    )


def committed_segments(
    spark: SparkSession, out_dir: str, sink_format: str = "parquet"
) -> set[int]:
    # existence probed via the Hadoop FS API (works on file://, s3a://,
    # hdfs:// alike); a missing/empty lineage dir means a fresh build
    path = _lineage_dir(out_dir)
    if sink_format == "parquet":
        if not fsio.has_files_with_suffix(spark, path, ".parquet"):
            return set()
    elif not fsio.exists(spark, path):
        return set()
    try:
        return {
            r["partition_id"]
            for r in _read_table(spark, path, sink_format, schema.LINEAGE)
            .select("partition_id")
            .distinct()
            .collect()
        }
    except Exception:
        # a dir that exists but holds no committed data (crash before the
        # first commit, stray _temporary dirs) must mean "fresh build",
        # not a broken resume — generic formats have no suffix probe
        return set()


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    segment_docs: int | None = None,
    block_size: int = BLOCK_SIZE,
    batch_segments: int = 64,
    fail_after_batches: int | None = None,
    sink_format: str = "parquet",
    positional: bool = False,
    analyzer: str = "v1-ascii-alnum",
) -> IndexMeta:
    """docs(doc_id, tokens, dl) -> on-disk index; resumable.

    ``analyzer`` RECORDS the tokenizer version the caller used in
    with_tokens (the tokens arrive pre-computed); it is persisted in the
    meta so the query side always tokenizes queries the same way.

    segment_docs=None sizes segments for ~4 per core (a cluster deployment
    pins it explicitly; it must stay constant across resumed runs —
    it is persisted in corpus_stats.json and the resume path should pass
    the same value).

    fail_after_batches: test hook — raise after N committed batches to
    simulate a killed job (kill/resume pytest, SURVEY.md §5).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # DISK_ONLY: building the in-memory columnar cache for array<string>
    # token columns is ~6x slower than writing them to local disk, and the
    # re-read is sub-second (measured; see BENCH.md)
    from pyspark import StorageLevel

    docs = docs.persist(StorageLevel.DISK_ONLY)
    # one agg job yields the corpus stats AND the docID span: dense ids
    # (0..N-1, the assigner's contract and the overwhelmingly common
    # case) make per-segment doc counts pure arithmetic, skipping the
    # old dedicated groupBy job (r6 guide §1: small builds were ~30
    # Spark jobs of fixed latency each)
    srow = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 0.0)
    dense_ids = n_docs > 0 and srow["lo"] == 0 and srow["hi"] == n_docs - 1
    if segment_docs is None:
        # data-derived, never core-count-derived: the index content must be
        # identical at any parallelism level (and block fragmentation must
        # not grow with the cluster). ~128 segments locally; a cluster
        # deployment pins e.g. 8M docs/segment explicitly.
        segment_docs = min(8_000_000, max(4096, n_docs // 128))
    meta = IndexMeta(
        n_docs,
        avgdl,
        segment_docs,
        block_size,
        sink_format=sink_format,
        positional=positional,
        analyzer=analyzer,
    )
    fsio.mkdirs(spark, out_dir)
    fsio.write_text(
        spark, os.path.join(out_dir, "corpus_stats.json"), json.dumps(meta.__dict__)
    )

    n_segments = (n_docs + segment_docs - 1) // segment_docs
    done = committed_segments(spark, out_dir, sink_format)
    todo = [s for s in range(n_segments) if s not in done]

    # per-segment doc counts: arithmetic for dense ids; one job up front
    # otherwise (segment count is bounded)
    if dense_ids:
        seg_counts = {
            s: min((s + 1) * segment_docs, n_docs) - s * segment_docs
            for s in range(n_segments)
        }
    else:
        seg_counts = {
            r["segment_id"]: r["count"]
            for r in docs.select(
                (F.col("doc_id") / F.lit(segment_docs)).cast("long").alias("segment_id")
            )
            .groupBy("segment_id")
            .count()
            .collect()
        }

    seg_dir = os.path.join(out_dir, "segments")
    batches = 0
    built_hi: int | None = None
    for i in range(0, len(todo), batch_segments):
        batch = todo[i : i + batch_segments]
        t0 = time.monotonic()
        lo_ids = F.col("doc_id") / F.lit(segment_docs)
        batch_docs = docs.filter(lo_ids.cast("long").isin(batch))
        # one pass encodes and writes the batch and observes each
        # segment's lineage facts on the way (spimi.write_segments): no
        # re-read of the committed blocks. Only this batch's segments
        # are written, so the facts are exactly this commit's; their
        # last_doc maximum is also the max-doc watermark merge_index
        # would otherwise re-scan for.
        stats = write_segments(
            batch_docs, avgdl, segment_docs, block_size, positional,
            seg_dir, sink_format, "overwrite",
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        for st in stats.values():
            if built_hi is None or st["hi"] > built_hi:
                built_hi = int(st["hi"])
        _commit_lineage(
            spark, out_dir, sink_format,
            {s: seg_counts.get(s, 0) for s in batch}, stats, wall_ms,
        )
        batches += 1
        if fail_after_batches is not None and batches >= fail_after_batches:
            raise RuntimeError(f"injected failure after {batches} batches")

    # a fresh, uninterrupted build observed every block's last_doc on its
    # segment writes — merge_index can skip its own watermark scan. A
    # resumed build (done != empty) only saw the new batches; merge
    # recomputes. -1 encodes "complete but empty" (no blocks at all).
    if not done:
        known_hi = built_hi if built_hi is not None else -1
    else:
        known_hi = None
    merge_index(spark, out_dir, meta, known_hi=known_hi)
    docs.unpersist()
    return meta


def _runs_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "delta_runs")


def _sweep_unreferenced_runs(spark: SparkSession, out_dir: str, meta: IndexMeta) -> None:
    """delete run dirs that are neither live (meta.delta_runs) nor in
    their one-generation retirement grace (meta.retired_runs) — crash
    debris (a run written but never committed) or runs retired TWO
    maintenance commits ago, which no reader holding the current or the
    immediately-previous meta can still reference."""
    live = set(meta.delta_runs) | set(meta.retired_runs)
    for name in fsio.list_dir(spark, _runs_dir(out_dir)):
        if name not in live:
            fsio.delete(spark, os.path.join(_runs_dir(out_dir), name))


# merged-layout spread parameters (see _merged_layout): a term's blocks
# stay together per LAYOUT_BLOCK_CHUNK-block chunk, chunks hash into
# LAYOUT_BUCKETS spread units. Buckets >> any sane partition count so the
# hash balances (guide §2.5: many more distinct key values than
# partitions); the chunk size keeps a stopword's posting list from
# hot-spotting one task while small terms land whole in one bucket.
LAYOUT_BUCKETS = 32768
LAYOUT_BLOCK_CHUNK = 64


def _merged_layout(df: DataFrame) -> DataFrame:
    """Deterministic bucket-hash exchange + per-partition sort for the
    queryable block layout (merged/ and the delta runs).

    Layout contract: rows sorted by (term, segment_id, block_in_seg)
    within every parquet file — row-group min/max stats on the sorted
    term column give the query scan free block skipping — and no hot
    partition when one stopword's posting list dwarfs the rest.

    Until round 6 this was repartitionByRange on the same key, which
    satisfies both but whose RangePartitioner SAMPLES the exchange's
    child to pick boundaries — one full EXTRA execution of whatever
    feeds it (Spark reuses shuffle map outputs below the child, not the
    child's own stage): a second scan+decode of segments/ in every
    merge, and a second full re-encode pass in resegment_index
    (measured: exactly 2x the _encode_run invocations). Hashing
    (term, block-chunk) into many buckets needs no sampling pass and
    keeps both contract properties: a term occupies one bucket per
    LAYOUT_BLOCK_CHUNK blocks (hot terms spread, small terms whole), the
    bucket count hash-balances partitions, the within-partition sort is
    unchanged so row groups stay term-sorted, and the key is
    deterministic (retry/speculation-safe, unlike rand-derived keys).
    Global cross-file term order is gone, but nothing read it: queries
    re-shard by segment group, and pruning is row-group-level."""
    bucket = F.pmod(
        F.xxhash64(
            "term",
            (F.col("block_in_seg") / F.lit(LAYOUT_BLOCK_CHUNK)).cast("int"),
        ),
        F.lit(LAYOUT_BUCKETS),
    )
    return df.repartition(bucket).sortWithinPartitions(
        "term", "segment_id", "block_in_seg"
    )


def compact_delta_runs(spark: SparkSession, out_dir: str, meta: IndexMeta) -> None:
    """Middle merge tier (Lucene TieredMergePolicy shape): fold ALL
    current delta runs into ONE combined run, leaving merged/ untouched.
    Bounds the file count under a long streamed-append tail without ever
    paying the O(index) full compaction. Crash-safe the same way the
    incremental merge is: the combined run is written under a name no
    reader references, then the meta write atomically repoints
    delta_runs; old run dirs are deleted only after the commit (and a
    died cleanup is swept by the next merge)."""
    runs = list(meta.delta_runs)
    if len(runs) <= 1:
        _sweep_unreferenced_runs(spark, out_dir, meta)
        return
    fmt = meta.sink_format
    combined = _read_table(
        spark, os.path.join(_runs_dir(out_dir), runs[0]), fmt, schema.BLOCKS
    )
    for r in runs[1:]:
        combined = combined.unionByName(
            _read_table(spark, os.path.join(_runs_dir(out_dir), r), fmt, schema.BLOCKS)
        )
    lo = min(int(r.split("_")[1]) for r in runs)
    hi = max(int(r.split("_")[2]) for r in runs)
    # name spans [lo, hi] — distinct from every input run (each input
    # either starts later or ends earlier), so no referenced dir is
    # ever overwritten
    name = f"run_{lo}_{hi}"
    path = os.path.join(_runs_dir(out_dir), name)
    if fsio.exists(spark, path):
        fsio.delete(spark, path)  # unreferenced debris from a crashed attempt
    _write(_merged_layout(combined), path + "_tmp", fmt, "overwrite")
    fsio.rename(spark, path + "_tmp", path)
    meta.delta_runs = [name]
    # superseded runs enter their one-generation grace: still on disk,
    # no longer read — a concurrent reader on the previous meta's plan
    # keeps resolving its files until it refreshes
    meta.retired_runs = [r for r in runs if r != name]
    fsio.write_text(
        spark, os.path.join(out_dir, "corpus_stats.json"), json.dumps(meta.__dict__)
    )  # atomic commit point
    _sweep_unreferenced_runs(spark, out_dir, meta)


def merge_index(
    spark: SparkSession,
    out_dir: str,
    meta: IndexMeta,
    incremental: bool = False,
    max_delta_runs: int = 8,
    known_hi: int | None = None,
) -> None:
    """Segments -> final queryable layout + global term stats.

    Segments hold disjoint ascending docID ranges, so the globally sorted
    posting list of a term is its blocks ordered by (segment_id,
    block_in_seg) — the merge is a *layout* operation, not a re-sort.
    Layout = _merged_layout: deterministic bucket-hash of (term,
    block-chunk) + sort within partitions by (term, segment_id,
    block_in_seg): parquet row-group min/max stats on the sorted term
    column give the query side free block skipping (finer than
    hash-bucket dirs, and no small-file explosion), while the block-chunk
    hash component spreads a stopword's posting list across several
    partitions instead of hot-spotting one task (skew-aware salting by
    block position). No sampling pass — see _merged_layout.

    incremental=True merges ONLY blocks newer than the meta.merged_docs
    watermark — an O(delta) operation, never an O(index) rewrite. The
    delta is laid out among itself (_merged_layout) and written as ONE new run
    directory under delta_runs/ (merged/ is never touched); the meta
    write that lists the run and advances the watermark is the single
    atomic commit point, so a crash anywhere leaves either the old state
    or the new one — never a double-counted delta (a written-but-
    unlisted run is invisible to readers and swept later; round-3 ADVICE
    item). term_stats/ is NOT rewritten (no swap, no crash window):
    readers aggregate stats for post-``stats_docs`` blocks from the runs
    at load. When the run count exceeds ``max_delta_runs``, the runs are
    folded into one (compact_delta_runs) — the middle tier that bounds
    file count under a long append tail. A periodic full merge
    (incremental=False) is the top-tier compaction that restores the
    tight single-layout merged/, rebuilds term_stats, and clears the runs.
    Requires a watermark (merged_docs > 0), i.e. one prior full merge —
    build_index always provides that.

    The full merge is NOT atomic (merged/ + term_stats are overwritten
    in place): a crash mid-compaction requires rerunning the merge
    before the index is readable again, exactly the contract a Lucene
    forceMerge has. purge_deletes' kill-matrix covers the rerun path.
    """
    fmt = meta.sink_format
    merged_path = os.path.join(out_dir, "merged")
    tstats_path = os.path.join(out_dir, "term_stats")
    seg = _read_table(spark, os.path.join(out_dir, "segments"), fmt, schema.BLOCKS)

    if incremental and meta.merged_docs > 0:
        # delta = blocks past the watermark; segment_id lower bound lets
        # the scan prune whole partition dirs before the row-group filter
        first_seg = meta.merged_docs // meta.segment_docs
        delta = seg.filter(
            (F.col("segment_id") >= F.lit(first_seg))
            & (F.col("first_doc") >= F.lit(meta.merged_docs))
        )
        hi = delta.agg(F.max("last_doc")).collect()[0][0]
        if hi is None:
            return  # nothing new since the last merge
        lo = meta.merged_docs
        name = f"run_{lo}_{int(hi)}"
        path = os.path.join(_runs_dir(out_dir), name)
        if fsio.exists(spark, path):
            fsio.delete(spark, path)  # debris: same delta, crashed commit
        _write(_merged_layout(delta), path + "_tmp", fmt, "overwrite")
        fsio.rename(spark, path + "_tmp", path)
        meta.delta_runs = list(meta.delta_runs) + [name]
        meta.merged_docs = int(hi) + 1
        # this commit advances the maintenance generation: runs retired
        # by the PREVIOUS commit leave their grace window and get swept
        meta.retired_runs = []
        fsio.write_text(
            spark,
            os.path.join(out_dir, "corpus_stats.json"),
            json.dumps(meta.__dict__),
        )  # atomic commit point
        if len(meta.delta_runs) > max_delta_runs:
            compact_delta_runs(spark, out_dir, meta)
        else:
            _sweep_unreferenced_runs(spark, out_dir, meta)
        return

    _write(_merged_layout(seg), merged_path, fmt, "overwrite")
    merged = _read_table(spark, merged_path, fmt, schema.BLOCKS)
    # max-doc watermark: a fresh build already aggregated it from its
    # lineage passes (known_hi; -1 = complete-but-empty) — otherwise one
    # column-pruned scan of (last_doc)
    if known_hi is not None:
        hi = known_hi if known_hi >= 0 else None
    else:
        hi = merged.agg(F.max("last_doc").alias("hi")).collect()[0]["hi"]
    _write(
        merged.groupBy("term").agg(
            F.sum("n_postings").alias("df"),
            # collection frequency: total term occurrences — (term,
            # doc) is unique across blocks so the tf sums add cleanly
            F.sum("sum_tf").alias("cf"),
        ),
        tstats_path,
        fmt,
        "overwrite",
    )
    meta.merged_docs = int(hi) + 1 if hi is not None else 0
    meta.stats_docs = meta.merged_docs
    meta.delta_runs = []
    meta.retired_runs = []
    fsio.write_text(
        spark, os.path.join(out_dir, "corpus_stats.json"), json.dumps(meta.__dict__)
    )
    # the full merge rewrites merged/ in place above — it is already
    # compaction-class (no concurrent readers), so no grace needed here
    if fsio.exists(spark, _runs_dir(out_dir)):
        fsio.delete(spark, _runs_dir(out_dir))  # all folded into merged/


def refresh_corpus_stats(spark: SparkSession, out_dir: str) -> IndexMeta:
    """Recompute (n_docs, avgdl) from LINEAGE ONLY — every commit row
    carries (doc_count, token_count), so a streamed refresh is
    O(#lineage rows), never a scan over the index blocks — and rewrite
    corpus_stats.json. Needed after streamed delta segments land, so BM25
    scores use corpus-true stats rather than build-time ones. Exact:
    avgdl = sum(all tf) / n_docs, both integers until the final division.
    Legacy lineage rows written before token_count existed read it as
    NULL and force the (column-pruned) segments sum_tf scan."""
    stats_path = os.path.join(out_dir, "corpus_stats.json")
    meta = IndexMeta(**json.loads(fsio.read_text(spark, stats_path)))
    # every lineage row counts each doc/token exactly once (batch rows:
    # per segment; streamed rows: per micro-batch) -> plain sums
    lin = _read_table(spark, _lineage_dir(out_dir), meta.sink_format, schema.LINEAGE)
    row = lin.agg(
        F.sum("doc_count").alias("docs"),
        F.sum("token_count").alias("tokens"),
        F.count(F.when(F.col("token_count").isNull(), 1)).alias("nulls"),
    ).collect()[0]
    n_docs = int(row["docs"])
    if row["nulls"] == 0 and row["tokens"] is not None:
        # lineage totals include since-purged docs; the cumulative purge
        # counters (index/deletes.py) subtract them back out exactly
        live_tokens = int(row["tokens"]) - meta.purged_tokens
    else:  # legacy / mixed-era lineage: any row missing token_count
        # forces the (column-pruned) block scan — never a silent
        # undercount. Purged postings are already absent from blocks, so
        # the counters must NOT be subtracted on this path.
        seg = _read_table(
            spark, os.path.join(out_dir, "segments"), meta.sink_format, schema.BLOCKS
        )
        live_tokens = int(seg.agg(F.sum("sum_tf")).collect()[0][0] or 0)
    meta.n_docs = n_docs
    live_docs = n_docs - meta.purged_docs
    meta.avgdl = live_tokens / live_docs if live_docs else 0.0
    fsio.write_text(spark, stats_path, json.dumps(meta.__dict__))
    return meta


def load_index(spark: SparkSession, out_dir: str):
    """-> (blocks DF, term_stats DF, IndexMeta).

    Blocks = merged/ ∪ the delta runs listed in meta.delta_runs ∪
    committed-but-unmerged delta segments (streamed appends past the
    merged_docs watermark) — all UNIONED lazily, so queries see streamed
    data with NO merge_index call and no merged/ rewrite (the union is a
    plan node; term/first_doc predicates push into every side). The
    orphan guard ``first_doc < n_docs`` excludes blocks whose micro-batch
    crashed before its lineage commit: docIDs are dense and assigned in
    commit order, so committed blocks are exactly those below the lineage
    doc sum (callers get fresh n_docs/avgdl from refresh_corpus_stats —
    which BM25 scoring needs anyway).

    term_stats/ covers docs below meta.stats_docs (incremental merges
    never rewrite it); stats for newer blocks are aggregated from the
    SAME delta union — O(delta), compaction-bounded by the run tier.
    merged_docs == 0 means legacy meta (pre-watermark) -> merged/ is
    assumed complete, exactly the old behavior."""
    meta = IndexMeta(
        **json.loads(fsio.read_text(spark, os.path.join(out_dir, "corpus_stats.json")))
    )
    fmt = meta.sink_format
    merged = _read_table(spark, os.path.join(out_dir, "merged"), fmt, schema.BLOCKS)
    tstats = _read_table(
        spark, os.path.join(out_dir, "term_stats"), fmt, schema.TERM_STATS
    )

    deltas: list[DataFrame] = [
        _read_table(spark, os.path.join(_runs_dir(out_dir), r), fmt, schema.BLOCKS)
        for r in meta.delta_runs
    ]
    if 0 < meta.merged_docs < meta.n_docs:
        first_seg = meta.merged_docs // meta.segment_docs
        deltas.append(
            _read_table(
                spark, os.path.join(out_dir, "segments"), fmt, schema.BLOCKS
            ).filter(
                (F.col("segment_id") >= F.lit(first_seg))
                & (F.col("first_doc") >= F.lit(meta.merged_docs))
                & (F.col("first_doc") < F.lit(meta.n_docs))
            )
        )
    if deltas:
        delta = deltas[0]
        for d in deltas[1:]:
            delta = delta.unionByName(d)
        merged = merged.unionByName(delta)
        # every delta block sits past stats_docs (runs are created only
        # after the last full merge; raw segments past merged_docs are
        # newer still), so the stats gap is exactly this union
        tstats = (
            tstats.unionByName(
                delta.groupBy("term").agg(
                    F.sum("n_postings").alias("df"),
                    F.sum("sum_tf").alias("cf"),
                )
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
    return merged, tstats, meta
