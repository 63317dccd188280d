"""Run-to-run spread of the end-to-end metrics, one fresh run per seed.

    python3 etlbench/spread.py --seeds 1-10 [--workloads wow_etl ...]

Runs ``BENCHMARK.json``'s command untraced once per seed and workload,
then prints, per workload and metric, every run's value, the median and
the spread: (Q3 - Q1) / median with ``statistics.quantiles(n=4)``,
flagged when it is not below a third of the metric's bound. Each run's
host steal % comes from its record in ``.etlbench/runs``. The summary
is also written to ``.etlbench/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import time


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary = {}
    for wl in args.workloads:
        runs = []
        for seed in args.seeds:
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            out = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                raise SystemExit(f"{wl} seed {seed} failed:\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            recs = glob.glob(os.path.join(".etlbench", "runs", f"{wl}-s{seed}-t0-*.json"))
            with open(max(recs, key=os.path.getmtime)) as fh:
                steal = json.load(fh)["steal_pct"]
            runs.append({"seed": seed, "wall_s": wall, "steal_pct": steal,
                         "correct": res["correct"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{wl} seed {seed}: {wall:.0f}s steal {steal:.2f}% correct {res['correct']}",
                  flush=True)
        rows = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            rows[name] = {"values": vals, "median": med, "spread": (q3 - q1) / med,
                          "bound": bound, "steady": (q3 - q1) / med < bound / 3}
        summary[wl] = {"runs": runs, "metrics": rows}
        print(f"\n{wl}: metric, median, spread, bound/3, values")
        for name, r in rows.items():
            flag = "" if r["steady"] else "  <-- not below bound/3"
            print(f"  {name:15s} {r['median']:12.4g} {r['spread']:7.4f} {r['bound'] / 3:7.4f}  "
                  + " ".join(f"{v:.4g}" for v in r["values"]) + flag)
        print()
    path = os.path.join(".etlbench", f"spread-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"summary: {path}")


if __name__ == "__main__":
    main()
