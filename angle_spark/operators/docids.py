"""Stable dense docID assignment over (conv_id, turn_idx).

The reference resolves "which row is which" positionally inside a batch
(zip alignment, reference angle_emb/evaluation.py:44-58); Spark rows have
no stable position, so document identity must be *computed*: docID =
rank of the row under the total order (conv_id, turn_idx), dense 0..N-1.

Two implementations:

* ``assign_doc_ids`` — scale path, decide-with-small-rows shape (guide
  §8): the global rank decomposes as

      doc_id = offset(conv_id) + rank of turn_idx within the conv

  where offset(conv) = total turns in all convs with a smaller conv_id.
  Offsets are computed on the per-conv COUNTS frame (O(#convs) narrow
  rows, column-pruned scan of the source), cumulated with the classic
  two-pass partition-prefix trick (range-partition the counts, collect
  only P partition sums to the driver, add the per-partition running sum
  task-locally). The corpus itself is shuffled exactly ONCE (hash by
  conv_id for the per-conv rank window; the offsets join reuses that
  partitioning or broadcasts). The round-5 implementation instead
  range-partitioned and PERSISTED the full corpus (wide text rows) to
  pin partition boundaries between two passes — a full extra
  materialization that this shape never needs (measured ~10s of the
  sf0.1 build leg, r6).

* ``assign_doc_ids_window`` — semantic spec: a global row_number window.
  Single-partition (correct, unscalable); used by tests to cross-check
  the scale path.

Skew note: the per-conv rank window keys on conv_id, so one pathological
conversation with ~10^8 turns would serialize on one task; transcript
conversations are bounded (tens to thousands of turns), and the previous
range-partition shape paid the same worst case at the sort instead.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Spark versions whose assignment invariants have been probed in this
# process — the invariant probe (dense ids 0..N-1, all distinct) runs
# once per version so a planner regression fails LOUDLY, not silently.
_LAYOUT_VALIDATED: set[str] = set()


def assign_doc_ids(
    df: DataFrame, num_partitions: int | None = None, validate: bool | str = "auto"
) -> DataFrame:
    """Add ``doc_id`` = dense rank over (conv_id, turn_idx). Scalable.

    validate: "auto" (default) runs a one-job invariant probe — dense ids
    0..N-1, all distinct — the FIRST time each Spark version is seen in
    this process; True forces it, False skips (the probe is one agg over
    the result frame, cheap but not free)."""
    return assign_doc_ids_counted(df, num_partitions, validate)[0]


def assign_doc_ids_counted(
    df: DataFrame, num_partitions: int | None = None, validate: bool | str = "auto"
) -> tuple[DataFrame, int]:
    """:func:`assign_doc_ids` plus the row count of ``df``, which pass 1
    learns for free (the sum of the per-partition turn totals) — a
    caller that needs both submits no count job of its own."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    # per-conv turn counts: a column-pruned scan + map-side-combined agg
    # (shuffle volume = #convs rows, never the corpus)
    counts = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
    # a local checkpoint (2 longs/conv — tiny) pins the partitions'
    # content and order for both passes; unlike a persist it registers
    # nothing in the cache manager, so a later assignment of the same
    # input recomputes instead of hitting a stale cache entry, and the
    # blocks are freed with the frame (ContextCleaner)
    parted = (
        counts.repartitionByRange(num_partitions, "conv_id")
        .sortWithinPartitions("conv_id")
        .localCheckpoint(eager=False)
    )
    # pass 1: per-partition turn totals — P longs to the driver, never data
    prows = (
        parted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum("_n").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    psums = {r["pid"]: r["s"] for r in prows}
    n_convs = sum(r["c"] for r in prows)
    bases = []
    acc = 0
    for pid in range(num_partitions):
        bases.append(acc)
        acc += psums.get(pid, 0) or 0
    b_bases = spark.sparkContext.broadcast(bases)

    # pass 2: task-local running prefix over the SAME checkpointed
    # partitions (content and order pinned, so the prefix is deterministic)
    def _cum(it):
        from pyspark import TaskContext

        run = b_bases.value[TaskContext.get().partitionId()]
        for pdf in it:
            n = pdf["_n"].to_numpy()
            off = n.cumsum() - n + run
            run += int(n.sum())
            yield pd.DataFrame({"conv_id": pdf["conv_id"], "_off": off})

    conv_field = next(f for f in df.schema.fields if f.name == "conv_id")
    offsets = parted.mapInPandas(
        _cum, schema=f"conv_id {conv_field.dataType.simpleString()}, _off long"
    )
    # mapInPandas output has no size statistics, so the planner can't
    # prove the offsets frame broadcastable; pass 1 just counted it
    # exactly — hint the broadcast while it is bounded, let the planner
    # shuffle-join past that (the corpus is hash-partitioned by conv_id
    # for the rank window either way)
    if n_convs <= 4_000_000:
        offsets = F.broadcast(offsets)

    # attach: null-safe equi-join (a NULL conv_id is a valid group and
    # sorts first, matching the old range-partition order); the rank
    # window reuses the join's conv_id hash partitioning
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    result = (
        df.join(offsets, ["conv_id"], "left")
        if not conv_field.nullable
        else df.join(
            offsets.withColumnRenamed("conv_id", "_cid"),
            F.col("conv_id").eqNullSafe(F.col("_cid")),
            "left",
        ).drop("_cid")
    )
    result = result.withColumn(
        "doc_id",
        (F.col("_off") + F.row_number().over(w) - F.lit(1)).cast("long"),
    ).drop("_off")

    if validate == "auto":
        validate = spark.version not in _LAYOUT_VALIDATED
    if validate:
        probe = result.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("doc_id").alias("mx"),
            F.count_distinct("doc_id").alias("nd"),
        ).first()
        n = probe["n"]
        if n and (probe["mx"] != n - 1 or probe["nd"] != n):
            raise RuntimeError(
                "doc_id assignment invariant broken: ids not dense 0..N-1 "
                f"(n={n}, max={probe['mx']}, distinct={probe['nd']})"
            )
        _LAYOUT_VALIDATED.add(spark.version)
    return result, acc  # acc ends as the sum over every partition


def assign_doc_ids_window(df: DataFrame) -> DataFrame:
    """Spec implementation: global window (single partition — test-only)."""
    w = Window.orderBy("conv_id", "turn_idx")
    return df.withColumn("doc_id", F.row_number().over(w) - F.lit(1).cast("long"))
