#!/usr/bin/env python3
"""Summarise perfbench artifacts: per workload and end-to-end metric,
the median, the quartiles and the spread (interquartile range over the
median) across seeds, against the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/stats.py --seeds 1-10 [--seeds 101-110] [--out perfbench/baseline.json]

With two ``--seeds`` sets it also reports how far the second set's
median moved from the first's. The tracing overhead is the median
traced ``trace.total_s`` minus the median untraced ``total_s``, both
over the last seed set, so that they come from the same stretch of
time on the host.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _load(workload: str, mode: str, seeds: list[int] | None) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(HERE, "results", workload, f"*-{mode}", "seed*.json"))):
        a = json.load(open(p))
        if seeds is None or a["seed"] in seeds:
            out.append(a)
    return out


def _summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", action="append", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [_seeds(s) for s in args.seeds]
    report: dict = {"seed_sets": args.seeds, "workloads": {}}
    ok = True
    for w in (x["name"] for x in spec["workloads"]):
        rows = report["workloads"][w] = {}
        runs = [_load(w, "untraced", s) for s in sets]
        for i, rs in enumerate(runs):
            bad = [r["seed"] for r in rs if not r["correct"]]
            rows.setdefault("runs", []).append({"n": len(rs), "incorrect_seeds": bad,
                                                "bench_control_s": _summary([r["bench_control_s"] for r in rs]) if rs else None})
            ok &= not bad
        for m, bound in bounds.items():
            per_set = [_summary([r["end_to_end"][m]["value"] for r in rs]) for rs in runs if rs]
            entry = {"bound": bound, "sets": per_set}
            line = f"{w:17s} {m:12s} bound {bound:.2f}"
            for s in per_set:
                line += f" | med {s['median']:9.4f} spread {s['spread']:.3f}"
                if m != "setup_s" and s["spread"] > bound:
                    ok = False
                    line += " OVER"
            if len(per_set) == 2:
                a, b = per_set[0]["median"], per_set[1]["median"]
                entry["second_vs_first"] = b / a - 1
                line += f" | shift {b / a - 1:+.3f}"
                ok &= b / a - 1 <= bound
            rows[m] = entry
            print(line)
        traced = _load(w, "traced", sets[-1])
        if traced and runs[-1]:
            t = statistics.median(r["per_layer"]["trace.total_s"]["value"] for r in traced)
            u = statistics.median(r["end_to_end"]["total_s"]["value"] for r in runs[-1])
            rows["trace_overhead"] = {"traced_total_s": t, "untraced_total_s": u, "overhead_s": t - u,
                                      "traced_runs": len(traced)}
            print(f"{w:17s} tracing overhead {t - u:+.3f} s on total_s {u:.3f} s ({len(traced)} traced runs)")
    report["within_bounds"] = ok
    print("within bounds" if ok else "NOT within bounds")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
