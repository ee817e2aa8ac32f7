"""Session, inputs, checks and tracing shared by the workloads.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
``work/<pid>`` (corpus, indexes, Spark scratch; removed at exit) and
``out`` (the spans file of a traced run).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# Inputs. The generator is the benchmark's own (the engine's synth module
# is not used), so a change to the program cannot change what is measured.
# Shape: Zipf(1.07) over a 10k-word vocabulary, 8-32 turns per conversation,
# 5-200 tokens per turn, ~5% capitalised words and ~5% trailing punctuation
# so the tokenizer's lower/split rule is exercised. Sizes are fixed and
# only word identities vary with the seed, so every seed asks for the same
# amount of work.
# ---------------------------------------------------------------------------

VOCAB_SIZE = 10_000
ZIPF_EXPONENT = 1.07
ROLES = np.array(["user", "assistant", "system", "tool"])
BASE_EPOCH_S = 1_735_689_600  # 2025-01-01T00:00:00Z

# the engine's 10-query reference set: frequent, rare, stopword-only,
# repeated-term, k=5 and no-hit queries
REFERENCE_QUERIES: list[tuple[str, str, int]] = [
    ("q_0001", "w0000", 10),
    ("q_0002", "w0001 w0002", 10),
    ("q_0003", "w0042 w0137", 10),
    ("q_0004", "w1234 w5678", 10),
    ("q_0005", "w0007 w9999", 10),
    ("q_0006", "w0003 w0250 w2500 w7500", 10),
    ("q_0007", "zzz9 nohit", 10),
    ("q_0008", "w0100 w0100 w0200", 10),
    ("q_0009", "w0011 w0023 w0035", 5),
    ("q_0010", "w8000", 10),
]


def _vocab() -> np.ndarray:
    return np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])


def _shuffled_cycle(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """n draws from lo..hi that repeat the full range as evenly as n
    allows, in random order: the total is the same for every seed."""
    return rng.permutation(np.resize(np.arange(lo, hi + 1), n))


def make_corpus(n_convs: int, seed: int, stream: int = 0, first_conv: int = 0) -> pd.DataFrame:
    """Transcripts table (conv_id, turn_idx, role, text, tool, ts) of
    conversations first_conv .. first_conv + n_convs - 1. The turn and
    token counts depend only on n_convs; the seed picks the words."""
    rng = np.random.default_rng([seed, 1, stream])
    vocab = _vocab()
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_EXPONENT
    cdf = np.cumsum(p / p.sum())
    n_turns = _shuffled_cycle(rng, 8, 32, n_convs)
    conv = np.repeat(np.arange(first_conv, first_conv + n_convs), n_turns)
    turn = np.concatenate([np.arange(n) for n in n_turns]).astype(np.int32)
    n_tok = _shuffled_cycle(rng, 5, 200, len(conv))
    words = vocab[np.searchsorted(cdf, rng.random(int(n_tok.sum())), side="right")]
    words = words.astype(object)
    caps = rng.random(len(words)) < 0.05
    words[caps] = np.char.upper(words[caps].astype(str))
    punct = rng.random(len(words)) < 0.05
    words[punct] = words[punct] + np.where(rng.random(int(punct.sum())) < 0.5, ",", ".")
    texts = [" ".join(c) for c in np.split(words, np.cumsum(n_tok)[:-1])]
    role_draw = rng.integers(0, 100, size=len(conv))
    roles = np.where(
        turn % 2 == 0,
        np.where(role_draw < 8, ROLES[2], ROLES[0]),
        np.where(role_draw < 15, ROLES[3], ROLES[1]),
    )
    ts = BASE_EPOCH_S + conv * 3600 + turn * 13 + rng.integers(0, 11, size=len(conv))
    return pd.DataFrame(
        {
            "conv_id": [f"conv_{c:08d}" for c in conv],
            "turn_idx": turn,
            "role": roles,
            "text": texts,
            "tool": np.where(roles == "tool", "search", ""),
            "ts": pd.to_datetime(ts, unit="s", utc=True),
        }
    )


def make_queries(n: int, seed: int) -> pd.DataFrame:
    """n queries, a quarter each of 1, 2, 3 and 4 terms; exactly a third
    of all term picks come from the 50 most frequent words (so queries
    share fold work like real traffic), the rest from the whole
    vocabulary."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab()
    n_terms = _shuffled_cycle(rng, 1, 4, n)
    picks = rng.integers(0, VOCAB_SIZE, size=int(n_terms.sum()))
    head = rng.permutation(len(picks))[: len(picks) // 3]
    picks[head] %= 50
    rows = [
        (f"bq_{i:04d}", " ".join(vocab[t]), 10)
        for i, t in enumerate(np.split(picks, np.cumsum(n_terms)[:-1]))
    ]
    return pd.DataFrame(rows, columns=["query_id", "text", "k"])


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-0.parquet"),
        coerce_timestamps="us",
    )


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum sidecars and
    markers excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


@dataclass
class Settings:
    workload: str
    seed: int
    query_seed: int
    seconds: int
    trace: bool
    cores: int
    shuffle_partitions: int
    driver_memory_mb: int
    duckdb_threads: int
    work_dir: str
    out_dir: str


def make_settings(workload: str, seed: int, query_seed: int, seconds: int, trace: bool) -> Settings:
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    base = os.path.join(ROOT, ".perfbench")
    return Settings(
        workload=workload,
        seed=seed,
        query_seed=query_seed,
        seconds=seconds,
        trace=trace,
        cores=cores,
        shuffle_partitions=4 * cores,
        # the engine's default is 48g; keep the JVM well inside this machine
        driver_memory_mb=int(min(4096, ram_mb // 4)),
        duckdb_threads=cores,
        work_dir=os.path.join(base, "work", str(os.getpid())),
        out_dir=os.path.join(base, "out"),
    )


class Session:
    """One SparkSession at local[cores] with all scratch inside the
    checkout. ``close`` stops Spark and waits for the JVM to exit."""

    def __init__(self, st: Settings):
        os.makedirs(st.work_dir)
        tmp = os.path.join(st.work_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # every JVM of the run (Spark's launcher and the driver) keeps its
        # temp files in the run directory and writes no /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        from angle_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench_{st.workload}",
            cores=st.cores,
            shuffle_partitions=st.shuffle_partitions,
            extra_conf={
                "spark.driver.memory": f"{st.driver_memory_mb}m",
                "spark.local.dir": os.path.join(st.work_dir, "spark_local"),
                "spark.sql.warehouse.dir": os.path.join(st.work_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the status store is read by the traced run; keep every
                # job, stage and SQL execution of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def close(self) -> None:
        gw = self.sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and all its descendants
    (the JVM plus the Python daemon and workers it forks)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = int(fields[11]) + int(fields[12])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Checks: every operation counts as attempted; a failed check counts it
# as failed. A run is correct when every failure is one a known engine
# fault explains. ``notes`` keeps the first mismatches for the info line.
# ---------------------------------------------------------------------------


@dataclass
class KnownFault:
    """An engine fault the benchmark knows of: its name, and the marks of
    the problems it explains (substrings of the problem texts)."""

    name: str
    signs: tuple[str, ...]

    def explains(self, problem: str) -> bool:
        return any(s in problem for s in self.signs)


@dataclass
class Ledger:
    attempted: int = 0
    failed: int = 0
    unexplained: int = 0  # failures not all explained by a known engine fault
    notes: list = field(default_factory=list)

    def record(self, op: str, problems: list[str], fault: KnownFault | None = None) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.unexplained += fault is None or not all(fault.explains(p) for p in problems)
            if len(self.notes) < 20:
                self.notes.append({"op": op, "fault": fault and fault.name,
                                   "problems": problems[:5]})


# ---------------------------------------------------------------------------
# Tracing. Every call into the engine goes through ``Tracer.call``; with
# tracing on, the call gets its own Spark job group and, once it returns,
# its jobs, stages, tasks, executor time, shuffle and I/O bytes are read
# from the status store and its Python-boundary rows from the SQL plan
# metrics. Spans stay in memory and are written once by ``dump``.
# ---------------------------------------------------------------------------

_PY_NODE_MARKERS = ("InPandas", "InArrow", "EvalPython", "Python")


def _metric_int(text: str) -> int:
    line = text.splitlines()[-1] if text.startswith("total") else text
    return int(float(line.split()[0].replace(",", "")))


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0
    call: bool = False  # an engine call (not a grouping span)
    jobs: int = 0
    stats: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sess: Session, enabled: bool, run_id: str):
        self.sess = sess
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.bookkeeping_s = 0.0
        self.warm = False  # while True, every call gets kind "warmup"
        self.t0 = time.perf_counter()
        if enabled:
            self.store = sess.sc._jsc.sc().statusStore()
            self.sql_store = sess.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, kind: str = ""):
        """A grouping span (setup, warm-up, round, collectors). Engine
        calls inside it become its children."""
        sp = Span(len(self.spans), name, kind, self.stack[-1].id if self.stack else None,
                  time.perf_counter() - self.t0)
        self.spans.append(sp)
        self.stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            self.stack.pop()

    def call(self, name: str, kind: str, fn, *args, **kwargs):
        """Run one engine call, timed. Returns (result, seconds)."""
        if self.warm:
            name, kind = f"warm-up {name}", "warmup"
        sp = Span(len(self.spans), name, kind, self.stack[-1].id if self.stack else None, 0.0,
                  call=True)
        self.spans.append(sp)
        group = f"perfbench-{self.run_id}-{sp.id}"
        if self.enabled:
            tb = time.perf_counter()
            self.sess.sc.setJobGroup(group, name)
            n_exec0 = int(self.sql_store.executionsCount())
            cpu0 = tree_cpu_s(self.sess.jvm_pid)
            self.bookkeeping_s += time.perf_counter() - tb
        j0 = self.sess.next_job_id()
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        t1 = time.perf_counter()
        sp.jobs = self.sess.next_job_id() - j0
        sp.start, sp.end = t0 - self.t0, t1 - self.t0
        if self.enabled:
            tb = time.perf_counter()
            sp.stats = self._stats(group, n_exec0)
            sp.stats["cpu_s"] = tree_cpu_s(self.sess.jvm_pid) - cpu0
            self.sess.sc._jsc.clearJobGroup()
            if sp.stats["jobs"] != sp.jobs:
                raise RuntimeError(
                    f"{name}: job group holds {sp.stats['jobs']} jobs but "
                    f"{sp.jobs} were submitted during the call"
                )
            self.bookkeeping_s += time.perf_counter() - tb
        return out, t1 - t0

    def _stats(self, group: str, n_exec0: int) -> dict:
        jids = list(self.sess.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jids:
            sids = self.store.job(jid).stageIds()
            stage_ids.update(int(sids.apply(k)) for k in range(sids.length()))
        s = dict(jobs=len(jids), stages=0, tasks=0, run_s=0.0, jvm_cpu_s=0.0,
                 shuffle_read_bytes=0, shuffle_write_bytes=0, input_bytes=0,
                 output_bytes=0)
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            s["stages"] += 1
            s["tasks"] += int(st.numTasks())
            s["run_s"] += st.executorRunTime() / 1e3
            s["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            s["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            s["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            s["input_bytes"] += int(st.inputBytes())
            s["output_bytes"] += int(st.outputBytes())
        s["python_rows"] = self._python_rows(set(jids), n_exec0)
        return s

    def _python_rows(self, jids: set[int], n_exec0: int) -> int:
        """Rows into plus rows out of the Python UDF nodes of the SQL
        executions that ran the span's jobs."""
        n = int(self.sql_store.executionsCount()) - n_exec0
        execs = self.sql_store.executionsList(n_exec0, n) if n > 0 else None
        total = 0
        for i in range(n):
            e = execs.apply(i)
            if not any(e.jobs().contains(j) for j in jids):
                continue
            vals = self.sql_store.executionMetrics(e.executionId())
            graph = self.sql_store.planGraph(e.executionId())
            nodes, rows, kids = {}, {}, {}
            all_nodes = graph.allNodes()
            for k in range(all_nodes.length()):
                nd = all_nodes.apply(k)
                nodes[nd.id()] = nd.name()
                ms = nd.metrics()
                for m in range(ms.length()):
                    mm = ms.apply(m)
                    if mm.name() in ("number of output rows", "records read"):
                        v = vals.get(mm.accumulatorId())
                        if v.isDefined():
                            rows[nd.id()] = _metric_int(v.get())
            edges = graph.edges()
            for k in range(edges.length()):
                ed = edges.apply(k)
                kids.setdefault(ed.toId(), []).append(ed.fromId())

            def rows_below(nid: int) -> int:
                if nid in rows:
                    return rows[nid]
                return sum(rows_below(c) for c in kids.get(nid, []))

            for nid, name in nodes.items():
                if any(mk in name for mk in _PY_NODE_MARKERS):
                    total += rows.get(nid, 0)
                    total += sum(rows_below(c) for c in kids.get(nid, []))
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for sp in self.spans:
            covered = _union([(c.start, c.end) for c in self.spans if c.parent == sp.id])
            out.append({
                **sp.stats,
                "id": sp.id, "run_id": self.run_id, "name": sp.name, "kind": sp.kind,
                "parent": sp.parent, "start": sp.start, "end": sp.end,
                "self_s": (sp.end - sp.start) - covered, "jobs": sp.jobs,
            })
        with open(path, "w") as f:
            json.dump(out, f, indent=1)

    def of_kind(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
