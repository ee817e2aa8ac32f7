"""Cross-check the benchmark's reference against the engine's own
single-process oracle (angle_spark.oracle.Bm25Oracle) on a small corpus:
same docIDs and bit-identical scores for the 10-query reference set and
a 400-query batch. No Spark.

    python3 perfbench/crosscheck.py [--convs 40] [--seed 1]

Exits 0 when every query agrees.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import REFERENCE_QUERIES, ROOT, make_corpus, make_queries, write_parquet  # noqa: E402
from reference import Corpus, State  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--convs", type=int, default=40)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    from angle_spark.oracle import Bm25Oracle

    corpus = make_corpus(a.convs, a.seed)
    queries = REFERENCE_QUERIES + [tuple(r) for r in make_queries(400, a.seed).itertuples(index=False)]
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as tmp:
        write_parquet(corpus, os.path.join(tmp, "corpus"))
        c = Corpus([os.path.join(tmp, "corpus")], 2, tmp)
    state = State(c, c.n_docs)
    oracle = Bm25Oracle(corpus)
    bad = [q for q, text, k in queries if state.topk(text, k) != oracle.score_query(text, k)]
    print(f"{len(queries) - len(bad)}/{len(queries)} queries agree"
          + (f"; first mismatches {bad[:5]}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
