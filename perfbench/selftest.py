#!/usr/bin/env python3
"""Self-test of the benchmark's tracing: pins exact traced counts.

    python3 perfbench/selftest.py

Runs q1_agg and q_trigger_panes on the sf0.001 fixture, an untraced, a
traced and an untraced pass, and checks the traced per-query counts
against values that repeat exactly from run to run. A listener that stops
seeing events, or a call site attributed to the wrong layer, changes one
of them. Exits
non-zero on any mismatch. The pinned values describe the library as it
is; a change that legitimately moves one (fewer jobs, fewer batches) must
update it here and say so.
"""
import os
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

PINNED = {
    "q1_agg": {"scheduler.jobs": 5, "tables.infer_jobs": 1, "queries.exec_jobs": 4,
               "stream.batches": 0},
    "q_trigger_panes": {"stream.batches": 12, "stream.jobs": 12, "scheduler.jobs": 25,
                        "tables.infer_jobs": 1, "replay.feed_jobs": 5,
                        "state.rows_peak": 16},
}


def main():
    run.preflight()
    report, _ = run.run_harness("selftest", 0, 0, 1, queries=list(PINNED), passes=3,
                                sf=run.SMALL_FIXTURE, oracle=False)
    if report["failures"]:
        print("FAIL: executions failed: %s" % report["failures"])
        return 1
    _, rows = run.per_layer(report)
    bad = 0
    for q, want in PINNED.items():
        for k, v in want.items():
            got = rows[q][k]
            ok = got == v
            bad += not ok
            print("%s %s %s = %s (pinned %s)" % ("ok  " if ok else "FAIL", q, k, got, v))
    for q in PINNED:
        print(q, rows[q]["jobs_by_layer_site"])
    print("%d of %d pinned counts differ" % (bad, sum(len(w) for w in PINNED.values())))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
