#!/usr/bin/env python3
"""Steadiness check: do repeated runs of the same commit agree?

    python3 perfbench/steady.py

Run from the repository root. For each workload of BENCHMARK.json it makes
two sets of ten runs of `run.py`, each run with its own seed (1-10, then
11-20), and prints per metric each set's median and quartiles, the spread
(quartile distance over the median) and whether the sets agree within the
metric's bound: every spread except setup_s's within the bound, and the
second median within the bound of the first, in either direction. Exits
non-zero when a run fails or the sets disagree.
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS, SETS = 10, 2


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout + p.stderr)
        return None
    return json.loads(lines[-1])


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets = []
        for k in range(SETS):
            values = {m["name"]: [] for m in bench["end_to_end"]}
            for i in range(RUNS):
                seed = 1 + k * RUNS + i
                res = run_once(w, seed, bench["run_seconds"])
                if res is None or not res["correct"]:
                    print(f"{w} seed {seed}: run failed")
                    ok = False
                    continue
                for m in values:
                    values[m].append(res["metrics"][m]["value"])
                print(f"{w} set {k + 1} seed {seed}: " + ", ".join(
                    f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
            sets.append(values)
        print(f"\n{w}: median [q1, q3] spread per set; agree within bound")
        for m in bench["end_to_end"]:
            rows = []
            for values in sets:
                xs = values[m["name"]]
                if len(xs) < 2:
                    rows.append(None)
                    continue
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                rows.append({"median": statistics.median(xs), "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / statistics.median(xs)})
            agree = all(r is not None for r in rows) and all(
                (m["name"] == "setup_s" or r["spread"] <= m["bound"]) and
                abs(r["median"] - rows[0]["median"]) / rows[0]["median"] <= m["bound"]
                for r in rows)
            ok &= agree
            cells = "  ".join(
                "n/a" if r is None else
                f"{r['median']:.4g} [{r['q1']:.4g}, {r['q3']:.4g}] {r['spread']:.3f}"
                for r in rows)
            print(f"  {m['name']:<16} {cells}  bound {m['bound']}  "
                  f"{'agree' if agree else 'DISAGREE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
