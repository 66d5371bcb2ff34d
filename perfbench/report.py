#!/usr/bin/env python3
"""Full report for one seed: every workload untraced, then traced.

    python3 perfbench/report.py [--seed N] [--seconds S] [--spans-dir DIR]
                                [workload ...]

Prints every end-to-end and per-layer metric with its unit, the tracing
overhead (traced minus untraced) of each end-to-end metric, and the
reconciliation checks:

  ingest     write.busy_s + StreamOps.overhead_s against the stream's wall
             time per micro-batch (StreamOps.wall_s); within ~5% when the
             trigger accounts for all of the stream's time
  analytics  queries.construct_s + queries.execute_s against
             queries.total_s, the summed construct + execute per pass

Spans of the traced runs go to DIR/spans-<workload>.jsonl (default
perfbench/out). Exit code 0 only when every run passed its checks.
"""
import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run.load_spec()["run_seconds"])
    ap.add_argument("--spans-dir", default=os.path.join(HERE, "out"))
    ap.add_argument("workloads", nargs="*", default=["ingest", "lookup", "analytics"])
    a = ap.parse_args()
    spec = run.load_spec()
    run.build()
    os.makedirs(a.spans_dir, exist_ok=True)
    ok = True
    for wl in a.workloads:
        plain = run.measure(wl, a.seed, a.seconds, 0)
        traced = run.measure(wl, a.seed, a.seconds, 1,
                             os.path.join(a.spans_dir, f"spans-{wl}.jsonl"))
        ok = ok and all(r["correct"] and r["failed"] == 0 for r in (plain, traced))
        print(f"== {wl} (seed {a.seed}, {a.seconds} s)")
        for k, v in sorted(plain["info"].items()):
            print(f"# {k} = {v}")
        print(f"{'metric':<52} {'untraced':>12} {'traced':>12} {'overhead':>9}")
        for m in spec["end_to_end"]:
            u, t = plain["e2e"][m["name"]], traced["e2e"][m["name"]]
            print(f"{m['name']:<52} {u:>12.5g} {t:>12.5g} {(t - u) / u:>+8.1%}  {m['unit']}")
        for m in spec["per_layer"]:
            v = traced["layers"].get(m["name"])
            if v is not None:
                print(f"{m['name']:<52} {'':>12} {v:>12.5g} {'':>9}  {m['unit']}")
        L = traced["layers"]
        if wl == "ingest":
            parts = L["OffsetNamedOrcSink.write.busy_s"] + L["StreamOps.overhead_s"]
            print(f"reconcile: write.busy_s + StreamOps.overhead_s = {parts:.4f} s, "
                  f"StreamOps.wall_s = {L['StreamOps.wall_s']:.4f} s "
                  f"({parts / L['StreamOps.wall_s']:.1%} of wall)")
        if wl == "analytics":
            parts = L["queries.construct_s"] + L["queries.execute_s"]
            print(f"reconcile: construct_s + execute_s = {parts:.4f} s, "
                  f"queries.total_s = {L['queries.total_s']:.4f} s")
        for c in plain["checks"] + traced["checks"]:
            print(f"# CHECK FAILED: {c}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
