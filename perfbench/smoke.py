"""The benchmark's own test: every workload at tiny size, traced, in one
process (one session, one event log), in about half a minute.

    python3 perfbench/smoke.py

Checks that the generators, the output checks, the end-to-end metrics and
the per-layer attribution all work: every workload reports no failed
operation, every metric BENCHMARK.json names is present and finite, and
each steady step's layer times sum to its wall time. It also checks that
run.py refuses to run (non-zero exit, no result line) where ganda_spark/
is missing. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.layers import PER_LAYER, per_layer  # noqa: E402

SEED = 7


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAIL: {msg}")


def refuses_without_program(out_dir: str) -> None:
    bare = os.path.join(out_dir, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipe_fetch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=60,
    )
    check(proc.returncode != 0 and not proc.stdout.strip(),
          "run.py must fail without a result where ganda_spark/ is missing")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    check(declared == PER_LAYER, "BENCHMARK.json per_layer differs from layers.PER_LAYER")

    out_dir = os.path.join(ROOT, ".perfbench", "smoke")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    refuses_without_program(out_dir)

    # same conf as a traced benchmark child, applied to this process
    os.environ.update(run.child_env(out_dir, trace=True))
    tempfile.tempdir = None
    from perfbench.child import Capture, setup_session

    capture = Capture()
    real_out = sys.stdout
    sys.stdout, sys.stderr = capture.out, capture.err  # before ganda_spark.sinks
    try:
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Ctx

        nproc = os.cpu_count() or 1
        spark, session_t = setup_session(nproc)
        tracer = Tracer(spark, "", True)
        results = {}
        for name, fn in WORKLOADS.items():
            tracer.run_id = name
            wl_dir = os.path.join(out_dir, name)
            os.makedirs(wl_dir)
            results[name] = fn(Ctx(spark, tracer, SEED, 0, wl_dir, nproc, "tiny", capture))
            tracer.restore()
        tracer.dump(os.path.join(out_dir, "spans.json"))
        spark.stop()
    finally:
        sys.stdout, sys.stderr = real_out, sys.__stderr__

    e2e_names = [m["name"] for m in bench["end_to_end"]]
    for name, res in results.items():
        check(res["failed"] == 0 and res["attempted"] > 0, f"{name}: {res['failed']} failed")
        e2e = run.end_to_end(res, 1.0)
        check(sorted(e2e) == sorted(e2e_names), f"{name}: end-to-end metric names")
        layers, detail = per_layer(name, out_dir, session_t, res, run_id=name)
        layers["process.peak_rss_mb"] = {"value": 1.0, "unit": "MB"}  # set by run.py
        check(list(layers) == [n for n, _, _ in PER_LAYER], f"{name}: per-layer metric names")
        for metrics in (e2e, layers):
            for k, v in metrics.items():
                check(math.isfinite(v["value"]), f"{name}: {k} is not finite")
        for step in detail["steps"]:
            gap = abs(step["layer_sum_s"] - step["wall_s"]) / step["wall_s"]
            check(gap < 0.10, f"{name}: layer times miss the step wall by {gap:.1%}")
        print(f"smoke: {name} ok ({res['attempted']} checked, "
              f"{len(detail['steps'])} traced steps)")
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
