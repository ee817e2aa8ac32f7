"""Index integrity checker (fsck): every on-disk invariant, distributed.

What a search team runs after a migration, a crash recovery, or a
suspicious query result — and what the maintenance tests lean on. All
block-level checks run inside one mapInPandas pass per table (violations
stream out as rows, nothing collects but the violations themselves);
stats-level checks are joins/aggregations. Nothing here assumes the
index is small.

Checked invariants:
  blocks (segments/ and merged/):
    - codec integrity: docs/tfs/dls decode to n_postings values each
    - docIDs strictly ascending within a block
    - first_doc/last_doc match the decoded extremes
    - max_tf / min_dl / sum_tf match the decoded arrays
    - the block's docID range lies inside its segment's range
    - positional indexes: pos_bin decodes to sum(tf) values, per-posting
      positions strictly ascending and < the posting's dl
  term_stats:
    - df == sum of n_postings per term over merged blocks (+ unmerged
      deltas), cf == sum of sum_tf — exact, via a full anti-joined diff
  meta/lineage:
    - n_docs == lineage doc_count sum; merged_docs <= n_docs;
      purge counters within range; positional flag matches pos_bin bytes
  deletes:
    - tombstones in [0, n_docs)

Returns a DataFrame (table, check, detail) of violations — empty means
healthy. The CLI wrapper (scripts/fsck_index.py) exits nonzero on any.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angle_spark import fsio
from angle_spark.codec import decode_doc_deltas, decode_positions, decode_tfs, decode_varints
from angle_spark.index import schema
from angle_spark.index.build import IndexMeta, _read_table

_VIOLATION_SCHEMA = "table string, check string, detail string"


def _check_blocks_pdf(
    pdf: pd.DataFrame, table: str, segment_docs: int, positional: bool
) -> pd.DataFrame:
    out = []

    def bad(check, row, extra=""):
        out.append(
            (
                table,
                check,
                f"term={row.term} segment={row.segment_id} "
                f"block={row.block_in_seg} first={row.first_doc} {extra}".strip(),
            )
        )

    for row in pdf.itertuples(index=False):
        try:
            d = decode_doc_deltas(row.docs_bin)
            tf = decode_tfs(row.tfs_bin)
            dl = decode_varints(row.dls_bin).astype(np.int64)
        except Exception as e:  # codec-level corruption
            bad("decode_error", row, repr(e))
            continue
        n = int(row.n_postings)
        if not (len(d) == len(tf) == len(dl) == n):
            bad("posting_count", row, f"decoded {len(d)}/{len(tf)}/{len(dl)} != {n}")
            continue
        if n and not (np.diff(d) > 0).all():
            bad("docs_not_ascending", row)
        if n and (int(d[0]) != row.first_doc or int(d[-1]) != row.last_doc):
            bad("doc_range_mismatch", row, f"decoded [{d[0]},{d[-1]}]")
        if n and int(tf.max()) != row.max_tf:
            bad("max_tf_mismatch", row, f"decoded {tf.max()}")
        if n and int(dl.min()) != row.min_dl:
            bad("min_dl_mismatch", row, f"decoded {dl.min()}")
        if n and int(tf.sum()) != row.sum_tf:
            bad("sum_tf_mismatch", row, f"decoded {tf.sum()}")
        seg_lo = row.segment_id * segment_docs
        if n and (d[0] < seg_lo or d[-1] >= seg_lo + segment_docs):
            bad("doc_outside_segment", row, f"segment range [{seg_lo},{seg_lo+segment_docs})")
        pos_bin = getattr(row, "pos_bin", b"") or b""
        if positional:
            try:
                flat, bounds = decode_positions(pos_bin, tf)
            except Exception as e:
                bad("pos_decode_error", row, repr(e))
                continue
            if len(flat) != int(tf.sum()):
                bad("pos_count_mismatch", row, f"{len(flat)} != {tf.sum()}")
                continue
            for i in range(n):
                g = flat[bounds[i] : bounds[i + 1]]
                if len(g) > 1 and not (np.diff(g) > 0).all():
                    bad("pos_not_ascending", row, f"posting {i}")
                    break
                if len(g) and (g[0] < 0 or g[-1] >= dl[i]):
                    bad("pos_outside_doc", row, f"posting {i} dl={dl[i]}")
                    break
        elif pos_bin:
            bad("unexpected_pos_bin", row, "meta.positional is False")
    return pd.DataFrame(out, columns=["table", "check", "detail"])


def fsck_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """-> violations DataFrame (empty == healthy). See module docstring."""
    meta = IndexMeta(
        **json.loads(fsio.read_text(spark, os.path.join(out_dir, "corpus_stats.json")))
    )
    fmt = meta.sink_format
    seg_docs, positional = meta.segment_docs, meta.positional
    checks: list[DataFrame] = []

    def block_checks(path: str, table: str) -> DataFrame:
        df = _read_table(spark, path, fmt, schema.BLOCKS)

        def fn(it):
            for pdf in it:
                v = _check_blocks_pdf(pdf, table, seg_docs, positional)
                if len(v):
                    yield v

        return df.mapInPandas(fn, schema=_VIOLATION_SCHEMA)

    checks.append(block_checks(os.path.join(out_dir, "segments"), "segments"))
    checks.append(block_checks(os.path.join(out_dir, "merged"), "merged"))
    for run in meta.delta_runs:
        checks.append(
            block_checks(os.path.join(out_dir, "delta_runs", run), f"delta_runs/{run}")
        )

    # term_stats: df/cf must equal the block-derived truth (merged plus
    # committed-but-unmerged deltas — the same union load_index serves)
    from angle_spark.index.build import load_index

    _, tstats, _ = load_index(spark, out_dir)
    seg = _read_table(spark, os.path.join(out_dir, "segments"), fmt, schema.BLOCKS)
    truth = seg.groupBy("term").agg(
        F.sum("n_postings").alias("t_df"), F.sum("sum_tf").alias("t_cf")
    )
    ts = tstats.select("term", F.col("df").alias("s_df"), F.col("cf").alias("s_cf"))
    # a legacy term_stats without cf reads it as NULL: the cf comparison
    # is then NULL, and only the df checks can flag the row
    cond = (
        F.col("s_df").isNull()
        | F.col("t_df").isNull()
        | (F.col("s_df") != F.col("t_df"))
        | (F.col("s_cf") != F.col("t_cf"))
    )
    stats_viol = (
        ts.join(truth, "term", "full_outer")
        .filter(cond)
        .select(
            F.lit("term_stats").alias("table"),
            F.lit("stats_mismatch").alias("check"),
            F.concat_ws(
                " ",
                F.col("term"),
                F.concat(F.lit("df="), F.col("s_df")),
                F.concat(F.lit("truth_df="), F.col("t_df")),
                F.concat(F.lit("cf="), F.col("s_cf")),
                F.concat(F.lit("truth_cf="), F.col("t_cf")),
            ).alias("detail"),
        )
    )
    checks.append(stats_viol)

    # meta/lineage level — a handful of scalars, checked driver-side
    scalar_rows: list[tuple[str, str, str]] = []
    lin = _read_table(spark, os.path.join(out_dir, "lineage"), fmt, schema.LINEAGE)
    lin_docs = int(lin.agg(F.sum("doc_count")).collect()[0][0] or 0)
    if lin_docs != meta.n_docs:
        scalar_rows.append(
            ("meta", "n_docs_vs_lineage", f"meta={meta.n_docs} lineage={lin_docs}")
        )
    if not (0 <= meta.merged_docs <= meta.n_docs):
        scalar_rows.append(
            ("meta", "merged_docs_range", f"{meta.merged_docs} vs n_docs={meta.n_docs}")
        )
    if not (0 <= meta.purged_docs <= meta.n_docs):
        scalar_rows.append(("meta", "purged_docs_range", str(meta.purged_docs)))

    from angle_spark.index.deletes import _load_deletes_df

    dels = _load_deletes_df(spark, out_dir, meta)
    if dels is not None:
        n_bad = dels.filter(
            (F.col("doc_id") < 0) | (F.col("doc_id") >= F.lit(meta.n_docs))
        ).count()
        if n_bad:
            scalar_rows.append(
                ("deletes", "tombstone_out_of_range", f"{n_bad} ids outside [0,{meta.n_docs})")
            )
    checks.append(spark.createDataFrame(scalar_rows, schema=_VIOLATION_SCHEMA))

    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
