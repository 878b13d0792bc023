#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload between two checkouts.

    python3 scripts/ab_pairs.py --base-dir ../parent --change-dir . \
        --workload ingest_cold --seed 7 --pairs 10

--base-dir and --change-dir are two checkouts of the repository (for
example `git clone` copies or `git worktree` checkouts), one at each
revision. Pair i runs

    python3 perfbench/run.py --workload W --seed S --seconds 5 --trace 0

once in each checkout, base first on even pairs and change first on odd
ones, so slow drift of the host falls on both sides alike. The report
gives each side's median and quartiles of the metric and the number of
pairs the change won, which is what a claimed gain is judged by: a win
on at least 9 of 10 pairs, and a change median better than the base's by
more than the base's interquartile range. Lower is better, as for every
end-to-end metric in BENCHMARK.json. Every run must also report
correct, with no failed operations. The last line of standard output is
one JSON summary; it also keeps every metric of every run, so the other
metrics can be checked for regressions.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout, args):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (exit {r.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="ingest_cold")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--metric", default="run_s")
    ap.add_argument("--base-dir", required=True, help="checkout of the base")
    ap.add_argument("--change-dir", required=True, help="checkout of the change")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")

    sides = {"base": Path(args.base_dir).resolve(),
             "change": Path(args.change_dir).resolve()}
    values = {"base": [], "change": []}
    runs = {"base": [], "change": []}
    all_ok = True
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            res = run_once(sides[side], args)
            ok = res.get("correct") and res.get("failed", 1) == 0
            all_ok = all_ok and bool(ok)
            got[side] = res["metrics"][args.metric]["value"]
            values[side].append(got[side])
            runs[side].append({k: m["value"] for k, m in res["metrics"].items()})
        print(f"pair {i + 1:2d}: base {got['base']:.3f}  change {got['change']:.3f}",
              flush=True)

    wins = sum(c < b for b, c in zip(values["base"], values["change"]))
    summary = {"workload": args.workload, "seed": args.seed, "metric": args.metric,
               "pairs": args.pairs, "change_wins": wins, "all_correct": all_ok}
    for side in ("base", "change"):
        q1, med, q3 = quartiles(values[side])
        summary[side] = {"median": med, "q1": q1, "q3": q3, "values": values[side],
                         "runs": runs[side]}
        print(f"{side:6s}: median {med:.3f}  quartiles {q1:.3f} .. {q3:.3f}")
    gain = summary["base"]["median"] - summary["change"]["median"]
    iqr = summary["base"]["q3"] - summary["base"]["q1"]
    summary["median_gain_exceeds_base_iqr"] = gain > iqr
    print(f"change won {wins}/{args.pairs} pairs; median gain {gain:.3f} "
          f"vs base IQR {iqr:.3f}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
