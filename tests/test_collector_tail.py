"""The shared query tail (wand._shard_and_rank) across its collectors.

Contracts under test:
- every collector returns the same column names and types for an
  all-out-of-vocabulary batch (no shard runs) as for a batch that
  matches, with and without tombstones; the tombstoned run includes
  shards that receive side-channel rows but no candidate blocks;
- the Spark jobs each serving call submits are pinned, so a change to
  the tail that adds or drops a job has to move a pin on purpose.
"""

from __future__ import annotations

import pytest

from angle_spark.index.build import build_index, load_index
from angle_spark.index.deletes import delete_docs
from angle_spark.index.docvalues import write_docvalues
from angle_spark.index.stats import with_tokens
from angle_spark.query.searcher import Searcher
from angle_spark.query.wand import wand_topk

SEG = 60  # docs per segment; 4 segments, one scoring shard each
N_DOCS = 4 * SEG
# tombstones: two in the first segment (where "alpha" lives) and a run
# in the last one, whose shard holds no "alpha" block
DEAD = [5, 17, *range(3 * SEG, 3 * SEG + 10)]
ROLES = ("assistant", "tool", "user")


def _text(i: int) -> str:
    words = ["common", f"w{i % 7}", f"v{i % 11}"]
    if i < SEG:
        words += ["alpha"] * (1 + i % 3)
    return " ".join(words)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    raw = spark.createDataFrame(
        [(i, _text(i)) for i in range(N_DOCS)], "doc_id long, text string"
    )
    docs = with_tokens(raw).select("doc_id", "tokens", "dl")
    out = str(tmp_path_factory.mktemp("tail") / "idx")
    build_index(spark, docs, out, segment_docs=SEG, block_size=8)
    return out


@pytest.fixture(scope="module")
def side(spark):
    """(sort_meta, group_meta, tombstones) as plain frames: every one of
    them rides the cogrouped side channel into all four shards."""
    vals = spark.createDataFrame(
        [(i, float(i * 3 % 97)) for i in range(N_DOCS)], "doc_id long, sort_key double"
    )
    groups = spark.createDataFrame(
        [(i, i % 3) for i in range(N_DOCS)], "doc_id long, gcode long"
    )
    dead = spark.createDataFrame([(d,) for d in DEAD], "doc_id long")
    return vals, groups, dead


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id string, text string, k int")


MATCHING = [("a", "alpha", 5), ("b", "alpha zzzoov", 3)]
OOV = [("z", "zzzoov qqqoov", 5)]

# the side inputs each collector needs
COLLECTORS = {
    "topk": {},
    "count": {},
    "ids": {},
    "stats": {"sort_meta": "vals"},
    "values": {"sort_meta": "vals"},
    "distinct_values": {"sort_meta": "vals"},
    "group_stats": {"group_meta": "groups", "sort_meta": "vals"},
    "group_topk": {"group_meta": "groups"},
    "group_score": {"group_meta": "groups"},
}


@pytest.mark.parametrize("masked", [False, True], ids=["plain", "tombstones"])
@pytest.mark.parametrize("collector", sorted(COLLECTORS))
def test_empty_batch_types_match_results(spark, index_dir, side, collector, masked):
    vals, groups, dead = side
    merged, tstats, meta = load_index(spark, index_dir)
    frames = {"vals": vals, "groups": groups}
    kwargs = {k: frames[v] for k, v in COLLECTORS[collector].items()}
    if masked:
        kwargs["deletes"] = dead

    def run(rows):
        return wand_topk(
            spark, merged, tstats, meta, _queries(spark, rows),
            collector=collector, **kwargs,
        )

    hit, empty = run(MATCHING), run(OOV)
    assert empty.dtypes == hit.dtypes
    assert empty.collect() == []
    got = hit.collect()
    assert got
    assert {r["query_id"] for r in got} <= {"a", "b"}
    if "doc_id" in hit.columns:
        docs = {r["doc_id"] for r in got}
        assert docs and max(docs) < SEG
        if masked:
            assert not docs & set(DEAD)


def _jobs(spark, fn) -> int:
    """Spark jobs submitted by one call and the collect of its result."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn().collect()
    return sched.nextJobId() - j0


def test_serving_calls_submit_pinned_jobs(spark, index_dir):
    """Jobs per Searcher call, each run twice (the count must repeat).
    The collectors read docvalues task-locally, as served collectors do;
    the masked batch runs after tombstones land and the session picks
    them up."""
    dv_ts = write_docvalues(
        spark, index_dir, "ts",
        spark.createDataFrame(
            [(i, float(i * 3 % 97)) for i in range(N_DOCS)], "doc_id long, ts double"
        ),
    )
    dv_role = write_docvalues(
        spark, index_dir, "role",
        spark.createDataFrame(
            [(i, ROLES[i % 3]) for i in range(N_DOCS)], "doc_id long, role string"
        ),
    )
    q = _queries(spark, [("a", "alpha common", 5), ("b", "w1 v2", 5), ("c", "w3", 4)])
    with Searcher(spark, index_dir) as s:
        calls = {
            "or": lambda: s.search(q),
            "and": lambda: s.search(q, mode="and"),
            "count": lambda: s.count(q),
            "group": lambda: s.group(q, dv_role, dv_ts),
            "percentiles": lambda: s.percentiles(q, dv_ts),
            "cardinality": lambda: s.cardinality(q, dv_ts),
            "top_hits": lambda: s.top_hits(q, dv_role, n=2),
        }
        got = {name: [_jobs(spark, fn) for _ in range(2)] for name, fn in calls.items()}
        delete_docs(spark, index_dir, spark.createDataFrame([(d,) for d in DEAD], "doc_id long"))
        s.refresh_deletes()
        got["masked"] = [_jobs(spark, lambda: s.search(q)) for _ in range(2)]
    want = {
        "or": 6, "and": 6, "masked": 8, "count": 5, "group": 6,
        "percentiles": 5, "cardinality": 6, "top_hits": 6,
    }
    assert got == {name: [n, n] for name, n in want.items()}


@pytest.mark.parametrize("source", ["frame", "docvalues"])
def test_sort_by_field_missing_keys_sort_last(spark, index_dir, source):
    """Keys only for the first segment's docs: the other three shards
    receive no key at all, and their docs must still sort last rather
    than compete with their BM25 scores (which, negated for an ascending
    sort, would beat every real key)."""
    keys = spark.createDataFrame(
        [(i, 1000.0 + i) for i in range(SEG)], "doc_id long, sort_key double"
    )
    if source == "docvalues":
        keys = write_docvalues(spark, index_dir, "first_seg_key", keys)
    merged, tstats, meta = load_index(spark, index_dir)
    got = wand_topk(
        spark, merged, tstats, meta, _queries(spark, [("q", "common", 5)]),
        sort_meta=keys, sort_ascending=True,
    ).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [(i, 1000.0 + i) for i in range(5)]
