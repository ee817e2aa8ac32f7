"""BM25 reference computed apart from the engine.

DuckDB reads the stored transcripts parquet, numbers the turns densely in
(conv_id, turn_idx) order and tokenizes them with the v1 rule (lower, split
on ``[^a-z0-9]+``, drop empty strings). numpy then scores: per query, the
distinct terms are folded in ascending order, each adding
``idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))`` in float64
with ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)``; top-k ties break by
ascending doc_id. Engine scores must match these bit for bit.
"""

from __future__ import annotations

import math
import re

import numpy as np

K1 = 1.2
B = 0.75
_TOKEN = re.compile(r"[a-z0-9]+")


def query_terms(text: str) -> list[str]:
    return sorted(set(_TOKEN.findall(text.lower())))


class Corpus:
    """Postings of every turn in the given parquet paths, as CSR arrays
    over a sorted vocabulary."""

    def __init__(self, paths: list[str], threads: int, temp_dir: str):
        import duckdb

        con = duckdb.connect(
            config={"threads": threads, "memory_limit": "1GB", "temp_directory": temp_dir}
        )
        try:
            files = ", ".join(f"'{p}/*.parquet'" for p in paths)
            con.execute(
                f"""CREATE TABLE d AS SELECT
                      (row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id,
                      role, epoch(ts)::DOUBLE AS ts, text
                    FROM read_parquet([{files}])"""
            )
            con.execute(
                """CREATE TABLE p AS SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
                     SELECT doc_id, unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
                     FROM d) GROUP BY term, doc_id"""
            )
            con.execute(
                """CREATE TABLE v AS SELECT term,
                     (row_number() OVER (ORDER BY term) - 1)::BIGINT AS tid
                   FROM (SELECT DISTINCT term FROM p)"""
            )
            vocab = con.execute("SELECT term FROM v ORDER BY tid").fetchnumpy()
            self.vocab = {t: i for i, t in enumerate(vocab["term"].tolist())}
            post = con.execute(
                "SELECT v.tid, p.doc_id, p.tf FROM p JOIN v USING (term) ORDER BY v.tid, p.doc_id"
            ).fetchnumpy()
            docs = con.execute("SELECT doc_id, role, ts FROM d ORDER BY doc_id").fetchnumpy()
        finally:
            con.close()
        tid = np.asarray(post["tid"], dtype=np.int64)
        self.doc = np.asarray(post["doc_id"], dtype=np.int64)
        self.tf = np.asarray(post["tf"], dtype=np.int64)
        self.offsets = np.searchsorted(tid, np.arange(len(self.vocab) + 1))
        self.n_docs = len(docs["doc_id"])
        self.dl = np.bincount(self.doc, weights=self.tf, minlength=self.n_docs).astype(np.int64)
        self.role = np.asarray(docs["role"], dtype=object)
        self.ts = np.asarray(docs["ts"], dtype=np.float64)

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        i = self.vocab.get(term)
        if i is None:
            return self.doc[:0], self.tf[:0]
        a, b = self.offsets[i], self.offsets[i + 1]
        return self.doc[a:b], self.tf[a:b]


class State:
    """What the engine should answer at one point of an index's life.

    ``n_docs``: docs indexed so far (a prefix of the corpus). ``dead``:
    sorted tombstoned doc_ids, never returned. ``live_stats``: after a
    purge, N, avgdl and df count live docs only; before it they count
    every indexed doc, tombstoned or not."""

    def __init__(self, corpus: Corpus, n_docs: int, dead: np.ndarray | None = None,
                 live_stats: bool = False):
        self.c = corpus
        self.n_docs = n_docs
        self.dead = np.zeros(0, dtype=np.int64) if dead is None else np.sort(dead)
        self.alive = np.ones(n_docs, dtype=bool)
        self.alive[self.dead] = False
        self.live_stats = live_stats
        dl = corpus.dl[:n_docs]
        if live_stats:
            self.N = int(self.alive.sum())
            self.tokens = int(dl[self.alive].sum())
        else:
            self.N = n_docs
            self.tokens = int(dl.sum())
        self.avgdl = self.tokens / self.N
        self._terms: dict[str, tuple] = {}

    def term(self, term: str):
        """-> (doc_ids, contributions, df) of one term in this state."""
        hit = self._terms.get(term)
        if hit is None:
            d, tf = self.c.postings(term)
            keep = d < self.n_docs
            if self.live_stats:
                keep &= self.alive[np.minimum(d, self.n_docs - 1)]
            d, tf = d[keep], tf[keep].astype(np.float64)
            df = len(d)
            if df == 0:
                hit = (d, tf, 0)
            else:
                idf = math.log((self.N - df + 0.5) / (df + 0.5) + 1.0)
                dl = self.c.dl[d].astype(np.float64)
                denom = tf + K1 * (1.0 - B + B * dl / self.avgdl)
                hit = (d, idf * tf * (K1 + 1.0) / denom, df)
            self._terms[term] = hit
        return hit

    def scores(self, text: str, mode: str = "or"):
        """-> (matched doc_ids ascending, their scores), tombstoned docs
        excluded."""
        toks = query_terms(text)
        present = [t for t in toks if self.term(t)[2] > 0]
        if not present or (mode == "and" and len(present) < len(toks)):
            return np.zeros(0, dtype=np.int64), np.zeros(0)
        acc = np.zeros(self.n_docs)
        cnt = np.zeros(self.n_docs, dtype=np.int32)
        for t in present:
            d, contrib, _ = self.term(t)
            acc[d] += contrib
            cnt[d] += 1
        need = len(present) if mode == "and" else 1
        docs = np.flatnonzero((cnt >= need) & self.alive)
        return docs, acc[docs]

    def topk(self, text: str, k: int, mode: str = "or") -> list[tuple[int, float]]:
        docs, sc = self.scores(text, mode)
        order = np.lexsort((docs, -sc))[:k]
        return [(int(docs[i]), float(sc[i])) for i in order]

    def matched(self, text: str) -> np.ndarray:
        return self.scores(text, "or")[0]


# ---------------------------------------------------------------------------
# Comparisons. Each returns a list of problems (empty = the output is right).
# ---------------------------------------------------------------------------


def check_topk(state: State, queries, rows, mode: str = "or") -> list[str]:
    """rows: engine (query_id, rank, doc_id, score) rows. Besides exact
    equality with the reference, checks the properties any correct
    answer has: ranks 1..n, scores non-increasing, no duplicate or
    tombstoned doc_id."""
    problems = []
    got: dict = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(r)
    dead = set(state.dead.tolist())
    for qid, text, k in queries:
        rs = sorted(got.pop(qid, []), key=lambda r: r["rank"])
        ids = [int(r["doc_id"]) for r in rs]
        sc = [float(r["score"]) for r in rs]
        if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)):
            problems.append(f"{qid}: ranks not 1..n")
        if any(a < b for a, b in zip(sc, sc[1:])):
            problems.append(f"{qid}: scores increase with rank")
        if len(set(ids)) != len(ids):
            problems.append(f"{qid}: duplicate doc_id")
        if dead.intersection(ids):
            problems.append(f"{qid}: tombstoned doc_id returned")
        want = state.topk(text, int(k), mode)
        if list(zip(ids, sc)) != want:
            problems.append(f"{qid}: differs from reference ({len(ids)} vs {len(want)} hits)")
    if got:
        problems.append(f"rows for unknown queries {sorted(got)[:3]}")
    return problems


def check_group(state: State, queries, rows) -> list[str]:
    """group by role with ts stats: (query_id, group, n_docs, n_values,
    sum, min, max, avg)."""
    want = {}
    for qid, text, _ in queries:
        m = state.matched(text)
        for g in np.unique(state.c.role[m]):
            v = state.c.ts[m[state.c.role[m] == g]]
            want[(qid, g)] = (len(v), len(v), float(v.sum()), float(v.min()),
                              float(v.max()), float(v.sum()) / len(v))
    got = {(r["query_id"], r["group"]): (int(r["n_docs"]), int(r["n_values"]),
           float(r["sum"]), float(r["min"]), float(r["max"]), float(r["avg"]))
           for r in rows}
    if len(got) != len(rows):
        return ["duplicate (query, group) rows"]
    return [f"group {k}: {got.get(k)} != {want.get(k)}"
            for k in sorted(set(want) | set(got)) if got.get(k) != want.get(k)]


def check_percentiles(state: State, queries, rows, pcts) -> list[str]:
    """quantile_cont semantics (linear interpolation between the closest
    ranks); compared to 1e-9 relative, since the interpolation formula
    may round differently in the last bit."""
    want = {}
    for qid, text, _ in queries:
        m = state.matched(text)
        if len(m):
            for p, v in zip(pcts, np.quantile(state.c.ts[m], pcts, method="linear")):
                want[(qid, float(p))] = float(v)
    got = {(r["query_id"], float(r["pct"])): float(r["value"]) for r in rows}
    problems = []
    for k in sorted(set(want) | set(got)):
        a, b = got.get(k), want.get(k)
        if a is None or b is None or abs(a - b) > 1e-9 * abs(b):
            problems.append(f"percentile {k}: {a} != {b}")
    return problems


def check_cardinality(state: State, queries, rows) -> list[str]:
    want = {}
    for qid, text, _ in queries:
        m = state.matched(text)
        if len(m):
            want[qid] = len(np.unique(state.c.ts[m]))
    got = {r["query_id"]: int(r["cardinality"]) for r in rows}
    return [f"cardinality {q}: {got.get(q)} != {want.get(q)}"
            for q in sorted(set(want) | set(got)) if got.get(q) != want.get(q)]


def check_top_hits(state: State, queries, rows, n: int) -> list[str]:
    """top-n hits by (score desc, doc_id asc) per (query, role)."""
    want = {}
    for qid, text, _ in queries:
        docs, sc = state.scores(text, "or")
        for g in np.unique(state.c.role[docs]):
            sel = state.c.role[docs] == g
            d, s = docs[sel], sc[sel]
            order = np.lexsort((d, -s))[:n]
            want[(qid, g)] = [(int(d[i]), float(s[i])) for i in order]
    got = {}
    for r in sorted(rows, key=lambda r: r["rank"]):
        got.setdefault((r["query_id"], r["group"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    return [f"top_hits {k}: {got.get(k)} != {want.get(k)}"
            for k in sorted(set(want) | set(got)) if got.get(k) != want.get(k)]
