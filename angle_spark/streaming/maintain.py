"""Streaming index maintenance.

The reference has only a streaming *source* flag (HF IterableDataset,
reference angle_emb/angle_trainer.py:107-108,219 — sequential shards, no
watermarks or stateful ops). The Spark-native upgrade: new transcript
turns arrive as a stream; each micro-batch appends delta segments to the
index via foreachBatch, with dropDuplicatesWithinWatermark on
(conv_id, turn_idx) handling replays/late data (SURVEY.md §2.9).

Delta segments reuse the SPIMI builder: a micro-batch's turns get docIDs
above the current high-water mark, become one-or-more new segments, and
land with the same lineage rows the batch build writes, in the index's
sink format — so resume, merge, and the WAND scorer treat streamed
segments identically to batch ones. A micro-batch runs its docID
assignment over per-conversation counts, which also counts the batch,
and then ONE pass over the batch that joins the docIDs, tokenizes,
encodes and writes, observing the lineage facts on the way
(spimi.write_segments). Queries see the union of merged/ plus any committed delta segments.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from angle_spark.index.build import IndexMeta, _commit_lineage
from angle_spark.index.spimi import write_segments
from angle_spark.index.stats import with_tokens
from angle_spark.operators.docids import assign_doc_ids_counted


def _load_meta(spark, out_dir: str) -> IndexMeta:
    from angle_spark import fsio

    return IndexMeta(
        **json.loads(fsio.read_text(spark, os.path.join(out_dir, "corpus_stats.json")))
    )


def append_micro_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str, high_water_doc: int
) -> int:
    """foreachBatch body: assign docIDs after the high-water mark, build
    delta segment blocks, append to segments/ + lineage. Returns the new
    high-water mark. Stats (df, avgdl) are refreshed by the next
    merge_index run — standard segment-then-merge search maintenance."""
    t0 = time.monotonic()
    spark = batch_df.sparkSession
    meta = _load_meta(spark, out_dir)
    rows = batch_df.select("conv_id", "turn_idx", "text").dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    # docIDs via the two-pass offset-prefix assigner (operators/docids.py)
    # shifted above the high-water mark — a large backfill micro-batch
    # parallelizes like the batch build instead of serializing on one
    # unpartitioned-window task. Its pass 1 already counted the batch.
    assigned, n_new = assign_doc_ids_counted(rows)
    if n_new == 0:
        return high_water_doc
    ids = assigned.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(high_water_doc)).cast("long")
    )
    docs = with_tokens(ids).select("doc_id", "tokens", "dl")
    # NOTE: blocks built here encode max_impact with the BUILD-TIME
    # meta.avgdl, which drifts as the stream appends — the stored
    # max_impact column is ADVISORY across batch/streamed segments and the
    # query side (query/wand.py) recomputes bounds from (max_tf, min_dl)
    # with the current avgdl; never prune on the stored column directly.
    #
    # One pass runs the docID join, the tokenizer, the encode and the
    # write, and observes the lineage facts on the way. They come from
    # the write itself, never from aggregating committed files: this
    # sink APPENDS, so a foreachBatch re-execution after a crash leaves
    # the crashed attempt's orphan files behind, which a re-read would
    # double-count.
    stats = write_segments(
        docs, meta.avgdl, meta.segment_docs, meta.block_size, meta.positional,
        os.path.join(out_dir, "segments"), meta.sink_format, "append",
    )
    # per-segment doc counts for THIS batch: docIDs are dense in
    # [high_water_doc, high_water_doc + n_new), so each segment's share
    # is pure arithmetic (every doc counted exactly once across all
    # lineage rows — refresh_corpus_stats sums them; zero-token docs have
    # no blocks but still occupy ids, hence range overlap, not block stats)
    sd = meta.segment_docs
    lo, hi = high_water_doc, high_water_doc + n_new
    _commit_lineage(
        spark, out_dir, meta.sink_format,
        {
            s: min((s + 1) * sd, hi) - max(s * sd, lo)
            for s in range(lo // sd, (hi - 1) // sd + 1)
        },
        stats,
        int((time.monotonic() - t0) * 1000),
    )
    return hi


def maintain_stream(
    stream_df: DataFrame,
    out_dir: str,
    start_high_water: int,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
) -> Any:
    """wire a transcripts stream into the index. Late/replayed turns are
    dropped by key within the watermark window."""
    state = {"hw": start_high_water}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        state["hw"] = append_micro_batch(batch_df, batch_id, out_dir, state["hw"])

    deduped = (
        stream_df.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    return (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
