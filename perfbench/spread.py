"""Run one workload over several seeds and report, per metric, the median
and the spread (distance between the first and third quartile as a share of
the median, as statistics.quantiles(values, n=4) gives them).

    python3 perfbench/spread.py --workload crawl_bulk --seeds 1001-1010 \
        [--seconds 8] [--trace 0|1] [--out summary.json]

Each seed is one `run.py` run; a run that fails or reports failed
operations is listed and left out of the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "n": len(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out["spread"] = (q3 - q1) / med if med else 0.0
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--seconds", default="8")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or result["failed"]:
            print(f"seed {seed}: FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            continue
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {k: summarize(v) for k, v in values.items()}
    for k, s in summary.items():
        print(f"{k}: median={s['median']:.4g} spread={s.get('spread', 0.0):.3f} n={s['n']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds,
                       "trace": int(args.trace), "values": values, "summary": summary},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
