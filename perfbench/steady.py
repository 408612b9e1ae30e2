"""Steadiness check: run one workload N times with consecutive seeds and
report, per end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload longtail --runs 10 --first-seed 1 \
        --out perfbench/STEADY_longtail.md

Run from the root of the checkout. A metric passes when its spread is
within its bound (the acceptance rule); the table also marks spreads above
a third of the bound, the margin the benchmark aims for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host() -> str:
    model = "unknown CPU"
    try:
        with open("/proc/cpuinfo") as fh:
            model = next(line.split(":", 1)[1].strip() for line in fh
                         if line.startswith("model name"))
    except (OSError, StopIteration):
        pass
    import pyspark

    return (f"{len(os.sched_getaffinity(0))} cores ({model}), "
            f"Python {platform.python_version()}, PySpark {pyspark.__version__}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    walls, failed = [], 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, failed {result['failed']}",
              file=sys.stderr)

    lines = [
        f"# Steadiness: workload `{args.workload}`",
        "",
        f"Host: {host()}. {args.runs} runs, seeds {args.first_seed}-"
        f"{args.first_seed + args.runs - 1}, `--seconds "
        f"{spec['run_seconds']}`, untraced. Wall per run: median "
        f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s. "
        f"Failed checks: {failed}.",
        "",
        "| metric | unit | median | Q1 | Q3 | spread | bound | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        bound = bounds[name]["bound"]
        if spread > bound:
            verdict = "FAIL"
        elif spread > bound / 3:
            verdict = "within bound, above a third"
        else:
            verdict = "ok"
        lines.append(
            f"| {name} | {bounds[name]['unit']} | {med:.4g} | {q1:.4g} | "
            f"{q3:.4g} | {spread:.3f} | {bound} | {verdict} |")
    text = "\n".join(lines) + "\n"
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
