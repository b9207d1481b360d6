"""One benchmark process: set up a session, run one workload and write its
record. run.py starts a fresh one per run, so no cache, JIT state or Python
worker outlives a run.

    python3 perfbench/child.py --workload W --seed N --seconds S
        --trace 0|1 --nproc N --record PATH

The record (JSON) holds the wall-clock time the session became ready
(`ready_at`, compared with the parent's spawn time), the session layer's
own timings, the driver heap the JVM actually got, and the workload's
result (see workloads.py).
"""

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class CaptureStream:
    """Text sink standing in for sys.stdout / sys.stderr: keeps the lines
    of the current CLI pass and stamps the last write."""

    def __init__(self):
        self.lines: list[str] = []
        self.last_write: float | None = None
        self._partial = ""
        self.total_lines = 0
        self.total_bytes = 0

    def write(self, s: str) -> int:
        self.last_write = time.perf_counter()
        self.total_bytes += len(s)
        buf = self._partial + s
        parts = buf.split("\n")
        self._partial = parts.pop()
        self.lines.extend(parts)
        self.total_lines += len(parts)
        return len(s)

    def flush(self) -> None:
        pass

    def isatty(self) -> bool:
        return False

    def reset(self) -> None:
        self.lines = []
        self.last_write = None
        self._partial = ""


class Capture:
    def __init__(self):
        self.out = CaptureStream()
        self.err = CaptureStream()

    def reset(self) -> None:
        self.out.reset()
        self.err.reset()

    @property
    def total_lines(self) -> int:
        return self.out.total_lines

    @property
    def total_bytes(self) -> int:
        return self.out.total_bytes


def setup_session(nproc: int):
    """The benchmark's set-up: a get_spark(cores=nproc) session that has
    shipped its package and run one pandas-UDF job."""
    t0 = time.perf_counter()
    from ganda_spark.session import get_spark

    spark = get_spark("perfbench", cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        import ganda_spark  # noqa: F401  (the shipped package must import)

        return s + 1

    total = spark.range(0, 4096, numPartitions=nproc).select(
        plus_one("id").alias("x")
    ).agg(F.sum("x")).collect()[0][0]
    if total != 4096 * 4097 // 2:
        raise RuntimeError("set-up pandas UDF returned a wrong sum")
    t2 = time.perf_counter()
    return spark, {"session_start_s": t1 - t0, "worker_warm_s": t2 - t1}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--nproc", type=int, required=True)
    p.add_argument("--record", required=True)
    args = p.parse_args()

    # before ganda_spark.sinks is imported: its emit functions bind
    # sys.stdout / sys.stderr as default arguments
    capture = Capture()
    sys.stdout, sys.stderr = capture.out, capture.err
    sys.path.insert(0, ROOT)

    spark, session_t = setup_session(args.nproc)
    record = {"ready_at": time.time(), **session_t}
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    record["driver_heap_mb"] = round(heap / 2**20, 1)
    record["driver_memory_conf"] = spark.conf.get("spark.driver.memory")
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    run_dir = os.path.dirname(os.path.abspath(args.record))
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace))
    ctx = Ctx(spark, tracer, args.seed, args.seconds, run_dir, args.nproc,
              "full", capture)
    t0 = time.perf_counter()
    record["result"] = WORKLOADS[args.workload](ctx)
    record["workload_s"] = time.perf_counter() - t0
    tracer.restore()
    if tracer.enabled:
        tracer.dump(os.path.join(run_dir, "spans.json"))
    t0 = time.perf_counter()
    spark.stop()
    record["stop_s"] = time.perf_counter() - t0
    with open(args.record, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
