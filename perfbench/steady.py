#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit.

    python3 perfbench/steady.py --workload ingest_trickle [--seed 1000]

Runs `run.py` ten times per set, for BENCHMARK.json's run length, each run
with its own seed (`--seed` and up; the sets use different seeds), and
prints for every end-to-end metric each set's
median and quartiles, the spread (quartile distance over the median, the
figure the bounds in BENCHMARK.json were set from), and whether the second
set's median is within the metric's bound of the first. It also checks
that the share of failed operations is the same in every run. Exit status 0
when every spread (set-up time aside) is within its bound and the sets
agree."""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed: workload={workload} seed={seed} rc={p.returncode}")
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets, shares = [], set()
    for s in range(SETS):
        results = []
        for i in range(RUNS):
            seed = args.seed + s * RUNS + i
            r = run_once(args.workload, seed, seconds)
            if not r["correct"]:
                print(f"set {s} seed {seed}: outputs incorrect", file=sys.stderr)
            shares.add((r["failed"] / r["attempted"]))
            results.append(r)
            print(f"set {s} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), file=sys.stderr)
        sets.append(results)
    ok = len(shares) == 1
    summary = {"workload": args.workload, "failed_share": sorted(shares), "metrics": {}}
    for name, spec in metrics.items():
        rows = []
        for results in sets:
            q1, med, q3, sp = spread([r["metrics"][name]["value"] for r in results])
            rows.append(dict(q1=q1, median=med, q3=q3, spread=sp))
        worse = (rows[1]["median"] - rows[0]["median"]) / rows[0]["median"] * \
            (1 if spec["better"] == "lower" else -1)
        spread_ok = name == "setup_s" or all(r["spread"] <= spec["bound"] for r in rows)
        agree = worse <= spec["bound"]
        ok = ok and spread_ok and agree
        summary["metrics"][name] = dict(bound=spec["bound"], sets=rows, worse_by=worse,
                                        spread_ok=spread_ok, agree=agree)
        cells = "  ".join(f"median {r['median']:.4g} [{r['q1']:.4g}, {r['q3']:.4g}] "
                          f"spread {r['spread']:.3f}" for r in rows)
        print(f"{name:18s} bound {spec['bound']:.2f}  {cells}  "
              f"{'ok' if spread_ok and agree else 'OUT OF BOUND'}")
    print(f"failed share per run: {sorted(shares)} {'ok' if len(shares) == 1 else 'DIFFERS'}")
    print(json.dumps(summary))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
