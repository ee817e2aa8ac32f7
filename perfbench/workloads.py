"""The two workloads. Each drives the engine only through its public
functions, checks every result against the reference, and records every
engine call through the tracer (timed always, traced with --trace 1).

Both run the same index life per round -- build, docvalues, Searcher,
OR/AND/10-query batches, the collectors, a streamed append, incremental
merge, refresh, tombstones with a masked batch, purge and a batch on the
purged index -- so every operation is timed on both; they differ in the
kind of index (``plain``: doc/tf blocks, ``positional``: token positions
too).

Load shape: one process, one SparkSession at local[cores], one client in
a closed loop -- the next call starts when the previous one has returned.
A run is set-up followed by whole rounds; a new round starts only while
the previous round's length still fits in the ``--seconds`` budget (at
least one round always runs).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import (
    REFERENCE_QUERIES,
    KnownFault,
    Ledger,
    Session,
    Settings,
    Tracer,
    count_files,
    dir_bytes,
    make_corpus,
    make_queries,
    median,
    rmtree,
    write_parquet,
)
from reference import (
    Corpus,
    State,
    check_cardinality,
    check_group,
    check_percentiles,
    check_top_hits,
    check_topk,
)

# corpus sizes (conversations; ~20 turns each). Sized so one run ends in
# about a minute on 4 cores.
BASE_CONVS = 480
APPEND_CONVS = 100  # the streamed micro-batch
WARMUP_CONVS = 20
# the big batches: the 10 reference queries plus generated ones
BIG_BATCH = 200
PERCENTILES = (0.5, 0.95)
TOP_HITS_N = 3

# purge_deletes (index/deletes.py) cogroups segments keyed by the
# partition-discovered int segment_id with tombstones keyed by a long one;
# the two hash to different shuffle partitions, so once the segments span
# more than one partition most of them never meet their tombstones. That
# leaves tombstoned postings in place, purges too few tokens and so skews
# the live avgdl, and makes results differ from the reference or return
# tombstoned docs; any other problem after the purge is not its doing.
PURGE_FAULT = KnownFault(
    "purge_deletes cogroup key int vs long",
    ("n_postings", "purged_tokens", "avgdl", "differs from reference",
     "tombstoned doc_id returned"),
)

BIG_KINDS = ("or200", "and200", "masked200")
BATCH_KINDS = BIG_KINDS + ("ref10",)
BATCH_FIELDS = ("wall_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_read_bytes", "python_rows")

END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_turn": "B/turn",
    "batch_qps": "queries/s",
    "agg_round_s": "s",
    "append_turns_per_s": "turns/s",
    "merge_refresh_s": "s",
    "purge_s": "s",
}

PER_LAYER = {
    "docids.wall_s": "s", "docids.jobs": "count", "tokenize.wall_s": "s",
    "spimi.wall_s": "s", "spimi.cpu_s": "s", "spimi.blocks": "count",
    "spimi.postings": "count", "codec.bytes_per_posting": "B/posting",
    "build.wall_s": "s", "build.jobs": "count", "build.stages": "count",
    "build.shuffle_write_bytes": "B", "build.input_bytes": "B", "build.files": "count",
    "merge.wall_s": "s", "merge.shuffle_write_bytes": "B",
    "searcher.open_s": "s", "searcher.refresh_s": "s", "searcher.refresh_jobs": "count",
    **{
        f"{k}.{f}": {"wall_s": "s", "cpu_s": "s", "shuffle_read_bytes": "B"}.get(f, "count")
        for k in BATCH_KINDS
        for f in BATCH_FIELDS
    },
    "collect.wall_s": "s", "collect.jobs": "count", "collect.shuffle_read_bytes": "B",
    "append.wall_s": "s", "append.jobs": "count", "append.input_bytes": "B",
    "purge.wall_s": "s", "purge.jobs": "count", "purge.shuffle_bytes": "B",
    "purge.postings_removed": "count", "purge.removal_ratio": "ratio",
    "jvm.peak_rss_mb": "MiB",
    "trace.round_p50_s": "s", "trace.bookkeeping_s": "s",
}


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _postings(index_dir: str) -> int:
    """Postings in the index's segments/ (read with pyarrow: no Spark job)."""
    tbl = pq.read_table(os.path.join(index_dir, "segments"), columns=["n_postings"])
    return int(pc.sum(tbl["n_postings"]).as_py())


@dataclass
class Inputs:
    base: str  # corpus parquet the index is built from
    append: str  # the streamed micro-batch; its docIDs follow the base corpus
    fields: str  # (doc_id, role, ts) of the base corpus, for docvalues
    dead: np.ndarray  # the docIDs tombstoned: 1% of base + batch
    n_base: int
    n_total: int


@dataclass
class Expected:
    """What the reference says each step of an index life returns."""

    built: State  # the base corpus indexed
    appended: State  # plus the streamed batch
    masked: State  # with the tombstoned docs masked out
    purged: State  # after the purge: statistics over live docs only
    postings: int  # postings left after the purge
    purged_tokens: int
    removed: int  # postings the purge should remove


class Workload:
    positional = False

    def __init__(self, st: Settings, sess: Session, tracer: Tracer, ledger: Ledger):
        self.st, self.sess, self.tr, self.ledger = st, sess, tracer, ledger
        self.spark = sess.spark
        self.work = st.work_dir
        self.ref10 = REFERENCE_QUERIES
        self.big = self.ref10 + [tuple(r) for r in make_queries(
            BIG_BATCH - len(self.ref10), st.query_seed).itertuples(index=False)]
        self.round_s: list[float] = []
        self.index_stats: dict = {}
        self.meta0 = None  # IndexMeta of the first timed build
        self.purge_removed: list[int] = []

    # --- inputs and reference ------------------------------------------------

    def write_inputs(self) -> Inputs:
        """Base corpus, streamed batch and docvalues side table (parquet),
        and the 1% of docIDs a life tombstones."""
        base = make_corpus(BASE_CONVS, self.st.seed)
        # the streamed batch continues the conversation numbering, so its
        # docIDs follow the base corpus in (conv_id, turn_idx) order
        batch = make_corpus(APPEND_CONVS, self.st.seed, stream=1, first_conv=BASE_CONVS)
        n_total = len(base) + len(batch)
        rng = np.random.default_rng([self.st.seed, 3])
        inp = Inputs(
            base=os.path.join(self.work, "corpus_base"),
            append=os.path.join(self.work, "corpus_append"),
            fields=os.path.join(self.work, "fields"),
            dead=np.sort(rng.choice(n_total, size=n_total // 100, replace=False)),
            n_base=len(base),
            n_total=n_total,
        )
        write_parquet(base, inp.base)
        write_parquet(batch, inp.append)
        # doc_id is the row's position in (conv_id, turn_idx) order
        write_parquet(
            pd.DataFrame({
                "doc_id": np.arange(len(base), dtype=np.int64),
                "role": base["role"],
                "ts": base["ts"].astype("int64") // 10**9,
            }),
            inp.fields,
        )
        return inp

    def setup(self) -> None:
        from angle_spark.query.searcher import Searcher

        self.inp = self.write_inputs()
        # warm-up: a small build and a batch on it pay the process's first
        # run of the build and query paths (about 15 s of it), untimed
        warm = make_corpus(WARMUP_CONVS, self.st.seed, stream=2)
        warm_dir = os.path.join(self.work, "corpus_warm")
        warm_idx = os.path.join(self.work, "index_warm")
        write_parquet(warm, warm_dir)
        self.tr.warm = True
        try:
            with self.tr.span("warm-up", "warmup"):
                self.build(warm_dir, warm_idx)
                s = self.tr.call("Searcher", "open", Searcher, self.spark, warm_idx)[0]
                self.search(s, self.ref10, "ref10")
                s.close()
        finally:
            self.tr.warm = False

    def reference(self) -> None:
        inp = self.inp
        c = Corpus([inp.base, inp.append], self.st.duckdb_threads, os.environ["TMPDIR"])
        removed = int(np.isin(c.doc, inp.dead).sum())
        self.expected = Expected(
            built=State(c, inp.n_base),
            appended=State(c, inp.n_total),
            masked=State(c, inp.n_total, inp.dead),
            purged=State(c, inp.n_total, inp.dead, live_stats=True),
            postings=len(c.doc) - removed,
            purged_tokens=int(c.dl[inp.dead].sum()),
            removed=removed,
        )

    # --- one index life ------------------------------------------------------

    def build(self, corpus_dir: str, out_dir: str):
        from angle_spark.index.build import build_index
        from angle_spark.index.stats import with_tokens
        from angle_spark.operators.docids import assign_doc_ids

        def go():
            raw = self.spark.read.parquet(corpus_dir)
            docs = with_tokens(
                assign_doc_ids(raw, num_partitions=2 * self.st.cores)
            ).select("doc_id", "tokens", "dl")
            return build_index(self.spark, docs, out_dir, batch_segments=4096,
                               positional=self.positional)

        return self.tr.call("build_index", "build", go)[0]

    def query_df(self, queries):
        return self.spark.createDataFrame(
            pd.DataFrame(queries, columns=["query_id", "text", "k"]),
            schema="query_id string, text string, k int",
        )

    def search(self, searcher, queries, kind: str, mode: str = "or") -> list[dict]:
        df = self.query_df(queries)
        return self.tr.call(f"search {kind}", kind, lambda: _rows(searcher.search(df, mode=mode)))[0]

    def expect(self, op: str, what: str, got, want) -> None:
        self.ledger.record(op, [] if got == want else [f"{what} {got} != {want}"])

    def record_index(self, index_dir: str, n_turns: int) -> None:
        """On-disk size and block/posting counts of a freshly built index
        (read with pyarrow: no Spark job)."""
        tbl = pq.read_table(
            os.path.join(index_dir, "merged"),
            columns=["n_postings", "docs_bin", "tfs_bin", "dls_bin", "pos_bin"],
        )
        payload = sum(
            int(pc.sum(pc.binary_length(tbl[c])).as_py() or 0)
            for c in ("docs_bin", "tfs_bin", "dls_bin", "pos_bin")
        )
        self.index_stats = {
            "bytes_per_turn": (dir_bytes(os.path.join(index_dir, "merged"))
                               + dir_bytes(os.path.join(index_dir, "term_stats"))) / n_turns,
            "files": count_files(index_dir),
            "blocks": tbl.num_rows,
            "postings": int(pc.sum(tbl["n_postings"]).as_py()),
            "payload_bytes": payload,
        }

    def life(self, idx: str) -> None:
        """Build the base corpus into ``idx`` and take the index through
        every public operation, checking each result against the
        reference."""
        from angle_spark.index.build import merge_index, refresh_corpus_stats
        from angle_spark.index.deletes import delete_docs, purge_deletes
        from angle_spark.index.docvalues import write_docvalues
        from angle_spark.query.searcher import Searcher
        from angle_spark.streaming.maintain import append_micro_batch

        spark, tr, inp, ex, big = self.spark, self.tr, self.inp, self.expected, self.big
        # every life builds like a fresh process: nothing an earlier build
        # of the same corpus left persisted is reused
        spark.catalog.clearCache()

        meta = self.build(inp.base, idx)
        self.expect("build_index", "n_docs/avgdl", (meta.n_docs, meta.avgdl),
                    (inp.n_base, ex.built.avgdl))
        if self.meta0 is None:
            self.meta0 = meta
            self.record_index(idx, meta.n_docs)
        side = spark.read.parquet(inp.fields)
        dv_ts = tr.call("write_docvalues ts", "docvalues", write_docvalues, spark, idx, "ts",
                        side.selectExpr("doc_id", "cast(ts as double) as ts"))[0]
        dv_role = tr.call("write_docvalues role", "docvalues", write_docvalues, spark, idx,
                          "role", side.select("doc_id", "role"))[0]
        s = tr.call("Searcher", "open", Searcher, spark, idx)[0]

        # reads on the built index: the big batches, then the collectors
        # over the reference queries
        for kind, mode in (("or200", "or"), ("and200", "and")):
            self.ledger.record(kind, check_topk(ex.built, big, self.search(s, big, kind, mode), mode))
        q = self.ref10
        qdf = self.query_df(q)
        collectors = (
            ("group", lambda: s.group(qdf, dv_role, dv_ts),
             lambda rows: check_group(ex.built, q, rows)),
            ("percentiles", lambda: s.percentiles(qdf, dv_ts, percentiles=PERCENTILES),
             lambda rows: check_percentiles(ex.built, q, rows, PERCENTILES)),
            ("cardinality", lambda: s.cardinality(qdf, dv_ts),
             lambda rows: check_cardinality(ex.built, q, rows)),
            ("top_hits", lambda: s.top_hits(qdf, dv_role, n=TOP_HITS_N),
             lambda rows: check_top_hits(ex.built, q, rows, TOP_HITS_N)),
        )
        with tr.span("collectors", "collect"):
            for name, run, chk in collectors:
                self.ledger.record(name, chk(tr.call(name, "collector", lambda: _rows(run()))[0]))

        # writes: a streamed append, incremental merge and refresh
        hw = tr.call("append_micro_batch", "append", append_micro_batch,
                     spark.read.parquet(inp.append), 0, idx, meta.n_docs)[0]
        self.expect("append", "high-water", hw, inp.n_total)

        def merge():
            m = refresh_corpus_stats(spark, idx)
            merge_index(spark, idx, m, incremental=True)
            return m

        m = tr.call("merge_index", "merge", merge)[0]
        self.expect("merge", "merged_docs", m.merged_docs, inp.n_total)
        tr.call("Searcher.refresh", "refresh", s.refresh)
        self.expect("refresh", "n_docs/avgdl", (s.meta.n_docs, s.meta.avgdl),
                    (inp.n_total, ex.appended.avgdl))

        # tombstones, a masked batch, the purge and a batch after it
        tombs = spark.createDataFrame(pd.DataFrame({"doc_id": inp.dead}))
        n_del = tr.call("delete_docs", "delete", delete_docs, spark, idx, tombs)[0]
        self.expect("delete_docs", "tombstones", n_del, len(inp.dead))
        s.refresh_deletes()
        self.ledger.record("masked200", check_topk(ex.masked, big, self.search(s, big, "masked200")))
        s.close()

        before = _postings(idx)
        pm = tr.call("purge_deletes", "purge", purge_deletes, spark, idx)[0]
        after = _postings(idx)
        self.purge_removed.append(before - after)
        got = {"n_postings": after, "purged_docs": pm.purged_docs,
               "purged_tokens": pm.purged_tokens, "avgdl": pm.avgdl}
        want = {"n_postings": ex.postings, "purged_docs": len(inp.dead),
                "purged_tokens": ex.purged_tokens, "avgdl": ex.purged.avgdl}
        self.ledger.record("purge_deletes", [f"{k} {got[k]} != {want[k]}" for k in got if got[k] != want[k]],
                   PURGE_FAULT)
        # re-open the closed Searcher on the purged generation
        tr.call("Searcher.refresh reopen", "reopen", s.refresh)
        self.ledger.record("ref10 purged", check_topk(ex.purged, q, self.search(s, q, "ref10")),
                   PURGE_FAULT)
        s.close()
        rmtree(idx)

    def run_rounds(self) -> None:
        budget = self.st.seconds
        t0 = time.perf_counter()
        while True:
            r = len(self.round_s)
            ts = time.perf_counter()
            with self.tr.span(f"round {r}", "round") as sp:
                self.life(os.path.join(self.work, f"index_r{r}"))
            # timed length: the engine calls of the round (every span
            # recorded after the round's own)
            self.round_s.append(sum(c.end - c.start for c in self.tr.spans[sp.id + 1:] if c.call))
            last = time.perf_counter() - ts
            if time.perf_counter() - t0 + last > budget:
                break

    def probes(self) -> None:
        """Traced run only, after the rounds: the build's first stages
        materialized into the noop sink one at a time, so each gets its
        own wall and CPU time; segment size and avgdl are the ones the
        first timed build used. The cache is cleared afterwards: the docID
        assigner leaves its per-conversation counts persisted."""
        from angle_spark.index.spimi import build_segments
        from angle_spark.index.stats import with_tokens
        from angle_spark.operators.docids import assign_doc_ids

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        parts = 2 * self.st.cores
        raw = self.spark.read.parquet(self.inp.base)
        self.tr.call("docids noop", "probe.docids",
                     lambda: noop(assign_doc_ids(raw, num_partitions=parts)))
        ids_dir = os.path.join(self.work, "probe_ids")
        docs_dir = os.path.join(self.work, "probe_docs")
        assign_doc_ids(raw, num_partitions=parts).select("doc_id", "text").write.parquet(ids_dir)
        self.tr.call("tokenize noop", "probe.tokenize",
                     lambda: noop(with_tokens(self.spark.read.parquet(ids_dir))))
        with_tokens(self.spark.read.parquet(ids_dir)).select(
            "doc_id", "tokens", "dl").write.parquet(docs_dir)
        m = self.meta0
        docs = self.spark.read.parquet(docs_dir)
        self.tr.call("spimi noop", "probe.spimi", lambda: noop(build_segments(
            docs, m.avgdl, m.segment_docs, m.block_size, m.positional)))
        self.spark.catalog.clearCache()

    # --- metrics -------------------------------------------------------------

    def times(self, kind: str) -> list[float]:
        return [s.end - s.start for s in self.tr.of_kind(kind)]

    def collector_rounds(self) -> list[list]:
        """The collector calls of each round, grouped."""
        return [[c for c in self.tr.spans if c.parent == g.id] for g in self.tr.of_kind("collect")]

    def end_to_end(self, setup_s: float) -> dict:
        inp = self.inp
        return {
            "setup_s": setup_s,
            "build_turns_per_s": inp.n_base / median(self.times("build")),
            "index_bytes_per_turn": self.index_stats["bytes_per_turn"],
            "batch_qps": BIG_BATCH / median(
                (a + b + c) / 3 for a, b, c in zip(*(self.times(k) for k in BIG_KINDS))),
            "agg_round_s": median(sum(c.end - c.start for c in cs) for cs in self.collector_rounds()),
            "append_turns_per_s": (inp.n_total - inp.n_base) / median(self.times("append")),
            "merge_refresh_s": median(a + b for a, b in zip(self.times("merge"),
                                                             self.times("refresh"))),
            "purge_s": median(self.times("purge")),
        }

    def per_layer(self) -> dict:
        tr = self.tr

        def med(kind: str, key: str) -> float:
            spans = tr.of_kind(kind)
            if key == "wall_s":
                return median(s.end - s.start for s in spans)
            return median(s.stats[key] for s in spans)

        rounds = self.collector_rounds()
        m = {
            "docids.wall_s": med("probe.docids", "wall_s"),
            "docids.jobs": med("probe.docids", "jobs"),
            "tokenize.wall_s": med("probe.tokenize", "wall_s"),
            "spimi.wall_s": med("probe.spimi", "wall_s"),
            "spimi.cpu_s": med("probe.spimi", "cpu_s"),
            "spimi.blocks": self.index_stats["blocks"],
            "spimi.postings": self.index_stats["postings"],
            "codec.bytes_per_posting": self.index_stats["payload_bytes"] / self.index_stats["postings"],
            "build.wall_s": med("build", "wall_s"),
            "build.jobs": med("build", "jobs"),
            "build.stages": med("build", "stages"),
            "build.shuffle_write_bytes": med("build", "shuffle_write_bytes"),
            "build.input_bytes": med("build", "input_bytes"),
            "build.files": self.index_stats["files"],
            "merge.wall_s": med("merge", "wall_s"),
            "merge.shuffle_write_bytes": med("merge", "shuffle_write_bytes"),
            "searcher.open_s": med("open", "wall_s"),
            "searcher.refresh_s": med("refresh", "wall_s"),
            "searcher.refresh_jobs": med("refresh", "jobs"),
            **{f"{k}.{f}": med(k, f) for k in BATCH_KINDS for f in BATCH_FIELDS},
            "collect.wall_s": median(sum(c.end - c.start for c in cs) for cs in rounds),
            "collect.jobs": median(sum(c.stats["jobs"] for c in cs) for cs in rounds),
            "collect.shuffle_read_bytes": median(
                sum(c.stats["shuffle_read_bytes"] for c in cs) for cs in rounds),
            "append.wall_s": med("append", "wall_s"),
            "append.jobs": med("append", "jobs"),
            "append.input_bytes": med("append", "input_bytes"),
            "purge.wall_s": med("purge", "wall_s"),
            "purge.jobs": med("purge", "jobs"),
            "purge.shuffle_bytes": med("purge", "shuffle_write_bytes"),
            "purge.postings_removed": median(self.purge_removed),
            "purge.removal_ratio": median(self.purge_removed) / self.expected.removed,
            "jvm.peak_rss_mb": self.sess.jvm_peak_rss_mb(),
            "trace.round_p50_s": median(self.round_s),
            "trace.bookkeeping_s": tr.bookkeeping_s,
        }
        return m


class Plain(Workload):
    """The engine's default index: doc, tf and dl blocks."""


class Positional(Workload):
    """An index that also stores token positions, so build, append, merge
    and purge also encode (purge: re-encode) position blocks."""

    positional = True


WORKLOADS = {"plain": Plain, "positional": Positional}
