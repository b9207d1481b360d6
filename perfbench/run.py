"""Benchmark command.

    python3 perfbench/run.py --workload pipe_fetch|crawl_bulk|dedup_spans
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts one fresh process
(perfbench/child.py), whose set-up is the run's setup_s sample. The last
stdout line is one JSON object {"correct", "attempted", "failed", "metrics"}:
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.

Everything a run writes stays under .perfbench/ in the repository root. The
run's working directory (inputs, checkpoints, event log) is removed when it
succeeds; the run record (host conditions, every step, the per-layer detail)
stays as .perfbench/<workload>-seed<N>-trace<T>.json, and a traced run's
spans as ...-spans.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipe_fetch", "crawl_bulk", "dedup_spans")
DRIVER_MEMORY = "3g"  # the shipped 24g default does not fit a 15 GB box
CHILD_TIMEOUT_S = 150


def calibrate(ms: int = 300) -> int:
    """Single-thread ops/s probe (the same loop as bench.py's _calibrate)."""
    end = time.time() + ms / 1000.0
    n = 0
    x = 1.0
    while time.time() < end:
        x = x * 1.000001 + 1.0
        n += 1
    return int(n / (ms / 1000.0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeRss:
    """Samples the summed RSS of a process and all its descendants."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            tree += kids
            frontier = kids
        return tree

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    pass
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def child_env(run_dir: str, trace: bool) -> dict:
    """Conf the benchmark owns: temp dirs inside the run dir (and no JVM
    perf-data file in /tmp), a driver heap that fits the host, and (traced
    runs only) an uncompressed event log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    )
    return env


def spawn(args, run_dir: str, nproc: int, env: dict):
    """Start the run's child, wait for it, return (spawned_at, record,
    peak_rss)."""
    record_path = os.path.join(run_dir, "child.json")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--nproc", str(nproc), "--record", record_path,
    ]
    log = open(os.path.join(run_dir, "child.log"), "wb")
    spawned_at = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        with TreeRss(proc.pid) as rss:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise RuntimeError(f"child timed out after {CHILD_TIMEOUT_S}s")
    finally:
        log.close()
        _reap_group(proc.pid)
    if code != 0:
        with open(log.name, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise RuntimeError(f"child exited {code}:\n{tail}")
    with open(record_path) as f:
        record = json.load(f)
    return spawned_at, record, rss.peak


def _reap_group(pgid: int) -> None:
    """Stop anything the child left in its process group (a JVM that did not
    exit with it) and wait until it is gone."""
    try:
        os.killpg(pgid, 15)
    except ProcessLookupError:
        return
    for _ in range(50):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        pass


def end_to_end(res: dict, setup_s: float) -> dict:
    rates = [n / s for n, s in zip(res["items"], res["steps_s"])]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_s": {"value": statistics.median(rates), "unit": "1/s"},
        "step_s_p50": {"value": statistics.median(res["steps_s"]), "unit": "s"},
        "first_step_s": {"value": res["first_step_s"], "unit": "s"},
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    # the program under test must be present next to the benchmark
    if not os.path.isfile(os.path.join(ROOT, "ganda_spark", "__init__.py")):
        print("perfbench: ganda_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = child_env(run_dir, bool(args.trace))

    host = {"nproc": nproc, "host_ops_before": calibrate(), "loadavg_before": loadavg()}
    spawned, rec, peak = spawn(args, run_dir, nproc, env)
    setup_s = rec["ready_at"] - spawned
    host["run_child_s"] = time.time() - spawned
    host.update(host_ops_after=calibrate(), loadavg_after=loadavg(),
                driver_heap_mb=rec["driver_heap_mb"],
                driver_memory_conf=rec["driver_memory_conf"])
    res = rec["result"]

    if args.trace:
        from perfbench.layers import per_layer

        metrics, detail = per_layer(args.workload, run_dir, rec, res)
        metrics["process.peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    else:
        metrics, detail = end_to_end(res, setup_s), {}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "setup_s": setup_s, "session": {
            k: rec[k] for k in ("session_start_s", "worker_warm_s", "workload_s", "stop_s")},
        "first_step_s": res["first_step_s"], "warmup_s": res["warmup_s"],
        "steps_s": res["steps_s"],
        "items": res["items"], "counts": res["counts"], "peak_rss_bytes": peak,
        "metrics": metrics, "detail": detail,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(out_dir, f"{name}-spans.json"))
    shutil.rmtree(run_dir)  # inputs, checkpoints and event log: ~100 MB a run
    print(
        f"perfbench {args.workload} seed={args.seed}: steps={len(res['steps_s'])} "
        f"setup={setup_s:.2f}s attempted={res['attempted']} failed={res['failed']}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    # a SIGTERM unwinds through spawn()'s finally, which stops the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
