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
correct, with no failed operations.

It then prints, for every end-to-end metric that the base checkout's
BENCHMARK.json lists, each side's median and the relative change, and
flags a metric whose change median is worse than the base median by
more than that metric's bound (a share of the base median). A metric
is flagged UNRESOLVED when the base's own interquartile range is wider
than that bound, as a share of the base median, unless every change run
beats every base run: the pairs then cannot tell a change inside the
bound from the base's noise. The file is only read. The last line of
standard output is one JSON summary; it also keeps every metric of every
run.

With --trace-runs K it then runs the workload K more times per checkout
with --trace 1, alternating like the pairs, and prints each per-layer
metric that BENCHMARK.json lists whose medians differ between the two
sides, for example `spark.merge.jobs 16 → 10`: the layer that moved.
The summary then also carries a `per_layer` entry with both medians of
every such metric, and `all_correct` also covers the traced runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout, args, trace="0"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", trace]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        # the run's own stderr is the only record of why it failed
        tail = r.stderr.splitlines()[-40:]
        print(f"--- last {len(tail)} stderr lines of the failed run ---",
              *tail, sep="\n", file=sys.stderr)
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
    ap.add_argument("--trace-runs", type=int, default=0,
                    help="traced runs per checkout after the pairs")
    ap.add_argument("--base-dir", required=True, help="checkout of the base")
    ap.add_argument("--change-dir", required=True, help="checkout of the change")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")
    if args.trace_runs < 0:
        ap.error("--trace-runs must not be negative")

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
    summary["end_to_end"] = end_to_end(sides["base"] / "BENCHMARK.json", runs)
    summary["worse_than_bound"] = [m for m, e in summary["end_to_end"].items()
                                   if e["worse_than_bound"]]
    summary["unresolved"] = [m for m, e in summary["end_to_end"].items()
                             if e["unresolved"]]
    if args.trace_runs:
        summary["per_layer"], traced_ok = per_layer(sides, args)
        summary["all_correct"] = all_ok and traced_ok
    print(json.dumps(summary))


def end_to_end(benchmark, runs):
    """Each side's median of every end-to-end metric in `benchmark`, the
    change relative to the base median, whether it is worse by more than
    the metric's bound, and whether the base's spread leaves it
    unresolved; prints one line per metric."""
    spec = json.loads(benchmark.read_text())
    out = {}
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        vals = {side: [r[name] for r in runs[side]] for side in ("base", "change")}
        med = {side: statistics.median(vals[side]) for side in vals}
        sign = 1 if m.get("better", "lower") == "lower" else -1
        worse = sign * (med["change"] - med["base"])
        rel = worse / abs(med["base"]) if med["base"] else (
            0.0 if worse == 0 else float("inf") if worse > 0 else float("-inf"))
        flag = rel > bound
        q1, _, q3 = quartiles(vals["base"])
        spread = (q3 - q1) / abs(med["base"]) if med["base"] else 0.0
        # every change run beats every base run: resolved however noisy
        apart = max(sign * c for c in vals["change"]) < min(sign * b for b in vals["base"])
        unresolved = spread > bound and not apart
        out[name] = {"base_median": med["base"], "change_median": med["change"],
                     "worse_by": rel, "bound": bound, "worse_than_bound": flag,
                     "base_iqr_share": spread, "unresolved": unresolved}
        print(f"{name:14s} base {med['base']:10.4f}  change {med['change']:10.4f}  "
              f"worse by {rel:+.1%} (bound {bound:.0%})"
              + ("  WORSE THAN BOUND" if flag else "")
              + (f"  UNRESOLVED (base IQR {spread:.0%} of median)"
                 if unresolved else ""))
    return out


def per_layer(sides, args):
    """`args.trace_runs` traced runs per checkout, base first on even
    runs and change first on odd ones; each side's median of every
    per-layer metric the base checkout's BENCHMARK.json lists, and whether
    every traced run was correct with no failed operations. Prints one
    line per metric whose medians differ, and a warning when a traced run
    was not correct."""
    spec = json.loads((sides["base"] / "BENCHMARK.json").read_text())
    runs = {"base": [], "change": []}
    all_ok = True
    for i in range(args.trace_runs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(sides[side], args, trace="1")
            all_ok = all_ok and bool(res.get("correct") and res.get("failed", 1) == 0)
            runs[side].append({k: m["value"] for k, m in res["metrics"].items()})
    out = {}
    for m in spec.get("per_layer", []):
        name = m["name"]
        vals = {side: [r[name] for r in runs[side] if name in r] for side in runs}
        if not vals["base"] or not vals["change"]:
            continue
        med = {side: statistics.median(v) for side, v in vals.items()}
        if med["base"] != med["change"]:
            out[name] = {"base_median": med["base"], "change_median": med["change"]}
            print(f"{name} {med['base']:g} → {med['change']:g}")
    if not all_ok:
        print("WARNING: a traced run was not correct or had failed operations; "
              "the per-layer lines above do not support a claim")
    return out, all_ok


if __name__ == "__main__":
    main()
