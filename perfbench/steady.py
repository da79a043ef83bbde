"""Steadiness check: run one workload k times, each with another seed.

    python3 perfbench/steady.py --workload verify_suite --runs 10 [--first-seed 1]

For each end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median
against the metric's bound in BENCHMARK.json, plus each run's load canary
(bench.py's fixed CPU fold and small shuffle, timed after the run's timed
phases).  The canary is there to read slow runs by; it never drops or
rescales a run.  Each run's result line is kept in
``.perfbench/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    rows = []
    log_path = os.path.join(ROOT, ".perfbench", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0",
               "--canary"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: run failed with {p.returncode}")
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        canary = next((json.loads(line.split("canary ", 1)[1])
                       for line in p.stderr.splitlines() if line.startswith("perfbench: canary ")), None)
        res.update(seed=seed, canary=canary)
        rows.append(res)
        with open(log_path, "a") as f:
            f.write(json.dumps(res) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {vals} canary={canary}", flush=True)

    print(f"\n{args.workload}: {len(rows)} runs")
    shares = {r["failed"] / r["attempted"] for r in rows}
    print(f"failed share per run: {sorted(shares)}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / q2
        verdict = "ok" if spread <= m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
        print(f"{m['name']:>18}: median {q2:.4g} {m['unit']}  Q1 {q1:.4g}  Q3 {q3:.4g}  "
              f"spread {spread:.3f} (bound {m['bound']}, {verdict})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
