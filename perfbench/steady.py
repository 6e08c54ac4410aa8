"""Steadiness tool: repeat a workload over several seeds and report, per
metric, the median, the quartiles and the spread (interquartile range
as a share of the median). The spreads are what each end-to-end
metric's regression bound in BENCHMARK.json is set from: a bound must
be at least three times the spread seen here.

    python3 perfbench/steady.py --workload sql_mixed --seeds 1-10
    python3 perfbench/steady.py --workload ml_curation --seeds 1-5 --trace both

``--trace both`` also runs every seed traced and reports the tracing
overhead as the traced median pass time over the untraced one.
Run from the root of a checkout; runs are sequential, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-1])


def summarize(runs: list[dict]) -> dict[str, dict]:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1,
            "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(vals),
        }
    return out


def print_table(title: str, summary: dict[str, dict]) -> None:
    print(f"## {title}")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} unit")
    for name, s in summary.items():
        print(f"{name:40s} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
              f"{s['spread']:8.2%} {s['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]

    modes = {"0": (0,), "1": (1,), "both": (0, 1)}[args.trace]
    results: dict[int, list[dict]] = {m: [] for m in modes}
    for seed in args.seeds:
        for m in modes:
            r = one_run(args.workload, seed, seconds, m)
            results[m].append(r)
            print(f"# seed={seed} trace={m} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)
    summaries = {m: summarize(results[m]) for m in modes}
    for m in modes:
        print_table(f"{args.workload} trace={m} over {len(args.seeds)} seeds",
                    summaries[m])
    if len(modes) == 2:
        plain = summaries[0]["pass_p50_s"]["median"]
        traced = summaries[1]["trace.pass_p50_s"]["median"]
        print(f"tracing overhead: traced pass {traced:.4f}s vs untraced "
              f"{plain:.4f}s = {traced / plain - 1:+.2%}")
    print(json.dumps({str(m): s for m, s in summaries.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
