"""Engine benchmark: one workload per run, results checked against an
independent BM25 reference.

    python3 perfbench/run.py --workload plain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it echoes
the settings and per-call job counts. ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones and writes the spans to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import Ledger, Session, Tracer, make_settings, rmtree  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

QUERY_SEED = 7


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True, help="corpus seed")
    ap.add_argument("--query-seed", type=int, default=QUERY_SEED,
                    help=f"seed of the 400-query batch (default {QUERY_SEED}: the same "
                    "queries on every run, so only the corpus varies with --seed)")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # the engine must be importable from the checkout before anything runs
    import angle_spark.query.searcher  # noqa: F401

    st = make_settings(a.workload, a.seed, a.query_seed, a.seconds, bool(a.trace))
    t0 = time.perf_counter()
    sess = Session(st)
    try:
        tracer = Tracer(sess, st.trace, f"{st.workload}-{st.seed}-{os.getpid()}")
        ledger = Ledger()
        wl = WORKLOADS[st.workload](st, sess, tracer, ledger)
        with tracer.span("setup", "setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        tr0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - tr0
        wl.run_rounds()
        if st.trace:
            wl.probes()
            metrics = wl.per_layer()
            units = PER_LAYER
            tracer.dump(os.path.join(
                st.out_dir, f"spans_{st.workload}_seed{st.seed}_{os.getpid()}.json"))
        else:
            metrics = wl.end_to_end(setup_s)
            units = END_TO_END
        jobs: dict[str, list[int]] = {}
        call_s: dict[str, list[float]] = {}
        for sp in tracer.spans:
            if sp.call:
                jobs.setdefault(sp.name, []).append(sp.jobs)
                call_s.setdefault(sp.name, []).append(sp.end - sp.start)
    finally:
        sess.close()
        rmtree(st.work_dir)
    print(json.dumps({
        "settings": st.__dict__,
        "round_s": wl.round_s,
        "reference_s": reference_s,
        "jobs_per_call": jobs,
        "seconds_per_call": call_s,
        "failures": ledger.notes,
    }))
    print(json.dumps({
        "correct": ledger.unexplained == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
