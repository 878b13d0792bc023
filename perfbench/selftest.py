"""Self-test of the benchmark at the smallest input size.

Runs every workload once untraced and once traced, with `--size tiny`,
and checks that:
  - every correctness gate passed (correct, no failed operations);
  - the metric names and units printed equal those in BENCHMARK.json
    (end_to_end without tracing, per_layer with it);
  - every end-to-end value is a positive number.

    python3 perfbench/selftest.py      # exits 0 when all checks pass
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# listed in BENCHMARK.json or runnable by hand (see README.md)
WORKLOADS = ["ingest_incremental", "snapshot_dml", "ingest_cold"]


def check(r, want: dict, end_to_end: bool) -> list:
    """Problems with one run's result."""
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return [f"exit {r.returncode}, no result"]
    res = json.loads(lines[-1])
    out = []
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        out.append(f"gates failed ({res['failed']} of {res['attempted']} operations)")
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if got != want:
        units = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        out.append(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))}, unit mismatch {units}")
    if end_to_end:
        zero = sorted(n for n, m in res["metrics"].items() if not m["value"] > 0)
        if zero:
            out.append(f"non-positive end-to-end metrics {zero}")
    return out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in ("0", "1"):
            r = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", trace, "--size", "tiny"],
                stdout=subprocess.PIPE, text=True, cwd=str(ROOT))
            tag = f"{w} trace={trace}"
            mine = check(r, want[trace], trace == "0")
            problems += [f"{tag}: {p}" for p in mine]
            print(f"{tag}: {'FAILED' if mine else 'ok'}", flush=True)
    for p in problems:
        print(f"FAILED {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
