"""Repeatability check: two interleaved sets of benchmark runs of the same
code, compared metric by metric against the bounds in BENCHMARK.json.

    python3 enginebench/repeat.py --runs 5
    python3 enginebench/repeat.py --runs 3 --first-seed 500

Run from the repository root. It runs every workload of BENCHMARK.json;
set A and set B alternate run by run, and every run gets its own seed.
For each workload and end-to-end metric it prints each set's median and
quartiles, the spread of all runs (distance between the quartiles over
the median), and whether the sets agree: the medians differ by at most
the bound (as a share of A's), the spread is within the bound (for every
metric but setup_s), and both sets failed the same share of operations.
Every run's result is appended to .bench_build/enginebench/repeat-<time>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    p.add_argument("--first-seed", type=int, default=1000)
    a = p.parse_args(argv)
    workloads = [w["name"] for w in spec["workloads"]]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    ledger = os.path.join(".bench_build", "enginebench", f"repeat-{int(time.time())}.jsonl")
    os.makedirs(os.path.dirname(ledger), exist_ok=True)

    results: dict[tuple[str, str], list[dict]] = {}
    seed = a.first_seed
    with open(ledger, "a") as log:
        for i in range(a.runs):
            for w in workloads:
                for s in ("A", "B"):
                    r = run_once(w, seed, spec["run_seconds"])
                    log.write(json.dumps({"workload": w, "set": s, "seed": seed, **r}) + "\n")
                    log.flush()
                    results.setdefault((w, s), []).append(r)
                    print(f"{w} {s} seed {seed}: " + ", ".join(
                        f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                        file=sys.stderr, flush=True)
                    seed += 1

    ok = True
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':16} {'set A median [q1, q3]':>30} {'set B median [q1, q3]':>30} "
              f"{'spread':>7} {'B vs A':>7} {'bound':>6}  agree")
        for s in ("A", "B"):
            rs = results[(w, s)]
            print(f"  set {s}: {sum(r['failed'] for r in rs)} of "
                  f"{sum(r['attempted'] for r in rs)} operations failed; "
                  f"all correct: {all(r['correct'] for r in rs)}")
        share = {
            s: sum(r["failed"] for r in results[(w, s)]) / sum(r["attempted"] for r in results[(w, s)])
            for s in ("A", "B")
        }
        for name, m in metrics.items():
            va = [r["metrics"][name]["value"] for r in results[(w, "A")]]
            vb = [r["metrics"][name]["value"] for r in results[(w, "B")]]
            qa, qb, qall = quartiles(va), quartiles(vb), quartiles(va + vb)
            spread = (qall[2] - qall[0]) / qall[1]
            worse = (qb[1] - qa[1]) / qa[1] * (1 if m["better"] == "lower" else -1)
            # set-up runs once per process, so its spread follows the host's
            # load more than any timed figure; only its medians must agree
            agree = (
                abs(worse) <= m["bound"]
                and (name == "setup_s" or spread <= m["bound"])
                and share["A"] == share["B"]
            )
            ok &= agree
            print(f"  {name:16} {qa[1]:>12.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                  f"{qb[1]:>12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] "
                  f"{spread:>7.3f} {worse:>+7.3f} {m['bound']:>6}  {'yes' if agree else 'NO'}")
    print(f"\nledger: {ledger}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
