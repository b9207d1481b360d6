"""Per-layer metrics of a traced run, from its spans and its Spark event log.

How wall time is attributed (one step = one CLI pass, crawl generation or
dedup pass; the measured steps after the first and warm-up steps are
averaged):

  * Every Spark stage gets one owning layer. A job submitted inside a
    plan-building span (pop_batch, build_bloom_tree, ...) belongs to that
    span's layer. A job submitted inside an executing span (the generation
    itself, CheckpointStore.commit, emit_stdout, ...) is split stage by
    stage by the operators the stage ran, read from the RDD scopes in the
    event log (a cached RDD counts only in the stage that first built it):
    a Python UDF stage belongs to the fetch layer, a MapInPandas stage to
    the seen layer, a Window stage to politeness, a file write to the
    checkpoint commit, ... (OPERATOR_OWNERS). A stage nothing claims is
    `unattributed`.
  * The step's wall-clock interval is then swept: while stages run, each
    instant is split evenly among the running stages' owners; while none
    runs, it belongs to the innermost open span's layer (driver time).
    The layer times therefore sum to the step's wall time by construction.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from perfbench.tracing import self_times

# (name, unit, better) of every per-layer metric; BENCHMARK.json lists the same.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.worker_warm_s", "s", "lower"),
    ("sources.spool_s", "s", "lower"),
    ("sources.parse_s", "s", "lower"),
    ("sources.rows", "count", "higher"),
    ("http_fetch.busy_s", "s", "lower"),
    ("http_fetch.python_run_s", "s", "lower"),
    ("http_fetch.bytes_from_python", "bytes", "lower"),
    ("http_fetch.requests", "count", "higher"),
    ("http_fetch.attempts_per_url", "ratio", "lower"),
    ("http_fetch.responder_hits_per_url", "ratio", "lower"),
    ("http_fetch.latency_ms_p50", "ms", "lower"),
    ("http_fetch.latency_ms_p99", "ms", "lower"),
    ("sinks.emit_s", "s", "lower"),
    ("sinks.status_log_s", "s", "lower"),
    ("sinks.lines", "count", "higher"),
    ("sinks.bytes", "bytes", "higher"),
    ("seen.busy_s", "s", "lower"),
    ("seen.probe_rows", "count", "higher"),
    ("seen.bloom_positive_share", "share", "lower"),
    ("seen.false_positive_share", "share", "lower"),
    ("seen.dedup_dropped", "count", "higher"),
    ("seen.bloom_grow_s", "s", "lower"),
    ("seen.shuffle_bytes", "bytes", "lower"),
    ("politeness.busy_s", "s", "lower"),
    ("politeness.released_share", "share", "higher"),
    ("politeness.deferred_rows", "count", "lower"),
    ("politeness.robots_blocked_rows", "count", "lower"),
    ("politeness.fetch_task_skew", "ratio", "lower"),
    ("politeness.shuffle_bytes", "bytes", "lower"),
    ("fetch.busy_s", "s", "lower"),
    ("fetch.python_run_s", "s", "lower"),
    ("fetch.rows", "count", "higher"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.readback_s", "s", "lower"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.files_written", "count", "lower"),
    ("checkpoint.resume_read_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("frontier_loop.jobs_per_gen", "count", "lower"),
    ("frontier_loop.stages_per_gen", "count", "lower"),
    ("frontier_loop.tasks_per_gen", "count", "lower"),
    ("frontier_loop.plan_build_jobs", "count", "lower"),
    ("frontier_loop.self_s", "s", "lower"),
    ("frontier_loop.unattributed_s", "s", "lower"),
    ("frontier_loop.persistent_rdds", "count", "lower"),
    ("dedup.shingle_s", "s", "lower"),
    ("dedup.signature_s", "s", "lower"),
    ("dedup.verify_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "share", "higher"),
    ("dedup.pair_slots_per_bucket", "ratio", "lower"),
    ("dedup.dense_route", "count", "higher"),
    ("dedup.plan_build_jobs", "count", "lower"),
    ("dedup.shuffle_bytes", "bytes", "lower"),
    ("dedup.spill_bytes", "bytes", "lower"),
    ("dedup.max_task_s_ratio", "ratio", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.python_boot_s", "s", "lower"),
    ("spark.python_init_s", "s", "lower"),
    ("spark.python_run_s", "s", "lower"),
    ("spark.bytes_to_python", "bytes", "lower"),
    ("spark.bytes_from_python", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.peak_exec_mem_bytes", "bytes", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.items_per_s", "1/s", "higher"),
    ("trace.step_s_p50", "s", "lower"),
    ("trace.first_step_s", "s", "lower"),
]

STEP_SPAN = {
    "pipe_fetch": "cli.main[",
    "crawl_bulk": "generation[",
    "dedup_spans": "dedup_pass[",
}

# entry points that exist to execute a plan (the writes and the sinks); a
# job any other entry point fires is a job fired while a plan is built
EXECUTING_ENTRY_POINTS = {"CheckpointStore.commit", "emit_stdout", "emit_status_log"}

# spans whose jobs execute a whole plan: their stages are split by operator
EXEC_LAYERS = {
    "frontier_loop", "checkpoint.commit", "cli", "sinks.emit", "sinks.status_log",
    "dedup", "dedup.verify",
}
# of those, the layers that claim a stage no operator rule matched
CLAIMING_EXEC_LAYERS = {"checkpoint.commit", "sinks.emit", "sinks.status_log", "dedup.verify"}

OPERATOR_OWNERS = {
    "pipe_fetch": [("ArrowEvalPython", "http_fetch"), ("Scan text", "sources")],
    "crawl_bulk": [
        ("ArrowEvalPython", "fetch"), ("MapInPandas", "seen"), ("Window", "politeness"),
        ("WriteFiles", "checkpoint.commit"), ("Scan parquet", "checkpoint.readback"),
    ],
    "dedup_spans": [
        ("FlatMapGroupsInPandas", "dedup.verify"), ("MapInPandas", "dedup.signature"),
        ("Scan parquet", "dedup.shingle"),
    ],
}

PY_ACCS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "to_py",
    "data returned from Python workers": "from_py",
}


class EventLog:
    """The parts of a Spark event log the attribution needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.nodes: dict[int, tuple[str, str]] = {}  # SQL metric acc id -> node
        tasks: dict[int, list] = defaultdict(list)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    span = e.get("Properties", {}).get("perfbench.span")
                    self.jobs[e["Job ID"]] = {
                        "span": int(span) if span else None,
                        "stage_ids": e["Stage IDs"],
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Completion Time" not in si or "Submission Time" not in si:
                        continue
                    self.stages[si["Stage ID"]] = {
                        "id": si["Stage ID"],
                        "start": si["Submission Time"] / 1000.0,
                        "end": si["Completion Time"] / 1000.0,
                        "rdds": si["RDD Info"],
                        "accs": {
                            a["ID"]: (a["Name"], a.get("Value")) for a in si["Accumulables"]
                        },
                    }
                elif kind == "SparkListenerTaskEnd":
                    if e.get("Task Metrics"):
                        tasks[e["Stage ID"]].append(e)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    stack = [e["sparkPlanInfo"]]
                    while stack:
                        n = stack.pop()
                        for m in n.get("metrics", []):
                            self.nodes[m["accumulatorId"]] = (n["nodeName"], n["simpleString"])
                        stack.extend(n.get("children", []))
        for job_id, job in self.jobs.items():
            for sid in job["stage_ids"]:
                if sid in self.stages:
                    self.stages[sid]["job"] = job_id
        self._executed_ops()
        for sid, st in self.stages.items():
            st.update(_task_totals(tasks.get(sid, [])))
            for name, key in PY_ACCS.items():
                st[key] = sum(
                    float(v) for n, v in st["accs"].values() if n == name and v is not None
                )

    def _executed_ops(self) -> None:
        """Scope names of the RDDs each stage computed: walk the stage's
        lineage, entering a cached RDD only in the first stage that uses it
        (the one that built the cache)."""
        built: set[int] = set()
        for st in sorted(self.stages.values(), key=lambda s: (s["start"], s["id"])):
            by_id = {r["RDD ID"]: r for r in st["rdds"]}
            parents = {p for r in st["rdds"] for p in r["Parent IDs"]}
            todo = [rid for rid in by_id if rid not in parents]
            ops, visited = set(), set()
            while todo:
                rid = todo.pop()
                if rid in visited or rid not in by_id:
                    continue
                visited.add(rid)
                r = by_id[rid]
                level = r.get("Storage Level", {})
                if level.get("Use Memory") or level.get("Use Disk"):
                    if rid in built:
                        continue
                    built.add(rid)
                if r.get("Scope"):
                    ops.add(json.loads(r["Scope"])["name"])
                todo.extend(r["Parent IDs"])
            st["ops"] = ops

    def rows_out(self, stage_ids, match) -> float:
        """Sum of 'number of output rows' of the plan nodes `match` accepts
        (match gets (nodeName, simpleString)) over the given stages."""
        total = 0.0
        for sid in stage_ids:
            for acc_id, (name, value) in self.stages[sid]["accs"].items():
                node = self.nodes.get(acc_id)
                if name == "number of output rows" and node and match(*node) and value:
                    total += float(value)
        return total


def _task_totals(tasks: list[dict]) -> dict:
    out = defaultdict(float)
    run_ms, records = [], []
    for t in tasks:
        m = t["Task Metrics"]
        out["tasks"] += 1
        out["run_ms"] += m["Executor Run Time"]
        out["gc_ms"] += m["JVM GC Time"]
        out["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        out["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        out["peak_mem"] = max(out["peak_mem"], m["Peak Execution Memory"])
        run_ms.append(m["Executor Run Time"])
        records.append(m["Shuffle Read Metrics"]["Total Records Read"] + m["Input Metrics"]["Records Read"])
    out["task_run_ms"] = run_ms
    out["task_records"] = records
    return dict(out)


def _owner(stage: dict, span_layer: str | None, workload: str) -> str:
    if span_layer is not None and span_layer not in EXEC_LAYERS:
        return span_layer
    for op, layer in OPERATOR_OWNERS[workload]:
        if any(o.startswith(op) for o in stage["ops"]):
            return layer
    if span_layer in CLAIMING_EXEC_LAYERS:
        return span_layer
    return "unattributed"


def _sweep(a: float, b: float, stages: list[dict], spans: list[dict], depth: dict) -> dict:
    """Split [a, b] among stage owners (running stages share an instant
    evenly) and, where no stage runs, the innermost open span's layer."""
    pts = {a, b}
    for s in stages:
        pts.update(x for x in (s["start"], s["end"]) if a < x < b)
    for s in spans:
        pts.update(x for x in (s["start"], s["end"]) if a < x < b)
    pts = sorted(pts)
    out: dict[str, float] = defaultdict(float)
    for t0, t1 in zip(pts, pts[1:]):
        mid, dt = (t0 + t1) / 2, t1 - t0
        active = [s["owner"] for s in stages if s["start"] <= mid < s["end"]]
        if active:
            for o in active:
                out[o] += dt / len(active)
            continue
        open_spans = [s for s in spans if s["start"] <= mid < s["end"]]
        inner = max(open_spans, key=lambda s: depth[s["id"]]) if open_spans else None
        out[inner["layer"] if inner else "unattributed"] += dt
    return out


def per_layer(workload: str, run_dir: str, rec: dict, res: dict,
              run_id: str | None = None) -> tuple[dict, dict]:
    """(metrics, detail) of one traced run. `run_id` keeps only the spans of
    that run when several workloads share one event log (the smoke test)."""
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = [s for s in json.load(f) if run_id is None or s["run"] == run_id]
    log_files = sorted(glob.glob(os.path.join(run_dir, "eventlog", "*")))
    ev = EventLog(log_files[0])
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d

    def root_of(sid):
        while by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    for st in ev.stages.values():
        job = ev.jobs.get(st.get("job"), {})
        span = by_id.get(job.get("span"))
        st["span"] = span["id"] if span else None
        st["owner"] = _owner(st, span["layer"] if span else None, workload)

    steps = sorted(
        (s for s in spans if s["name"].startswith(STEP_SPAN[workload])), key=lambda s: s["start"]
    )
    skip = 1 + len(res["warmup_s"])
    steady = steps[skip:]
    per_step = []
    for step in steady:
        in_step = [s for s in spans if root_of(s["id"]) == root_of(step["id"])
                   and s["start"] >= step["start"] and s["end"] <= step["end"]]
        span_ids = {s["id"] for s in in_step}
        st_in = [st for st in ev.stages.values() if st["span"] in span_ids]
        job_ids = {j for j, job in ev.jobs.items() if job["span"] in span_ids}
        layer_s = _sweep(step["start"], step["end"], st_in, in_step, depth)
        plan_jobs = sum(
            1 for j in job_ids
            if by_id[ev.jobs[j]["span"]]["entry"]
            and by_id[ev.jobs[j]["span"]]["name"] not in EXECUTING_ENTRY_POINTS
        )
        per_step.append({
            "wall_s": step["end"] - step["start"],
            "layer_s": dict(layer_s),
            "stages": st_in,
            "jobs": len(job_ids),
            "plan_build_jobs": plan_jobs,
        })

    def avg(fn) -> float:
        vals = [fn(p) for p in per_step]
        return sum(vals) / len(vals) if vals else 0.0

    def layer(name):
        return avg(lambda p: p["layer_s"].get(name, 0.0))

    def stage_sum(key, owners=None):
        return avg(lambda p: sum(
            st.get(key, 0.0) for st in p["stages"] if owners is None or st["owner"] in owners
        ))

    counts = res["counts"]
    n_steady = max(1, len(per_step))
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = rec["session_start_s"]
    m["session.worker_warm_s"] = rec["worker_warm_s"]
    m["spark.executor_run_s"] = stage_sum("run_ms") / 1000
    m["spark.python_boot_s"] = stage_sum("py_boot_ms") / 1000
    m["spark.python_init_s"] = stage_sum("py_init_ms") / 1000
    m["spark.python_run_s"] = stage_sum("py_run_ms") / 1000
    m["spark.bytes_to_python"] = stage_sum("to_py")
    m["spark.bytes_from_python"] = stage_sum("from_py")
    m["spark.shuffle_write_bytes"] = stage_sum("shuffle_write")
    m["spark.spill_bytes"] = stage_sum("spill")
    m["spark.peak_exec_mem_bytes"] = max(
        (st.get("peak_mem", 0.0) for p in per_step for st in p["stages"]), default=0.0
    )
    m["spark.gc_s"] = stage_sum("gc_ms") / 1000
    m["spark.jobs"] = avg(lambda p: p["jobs"])
    m["spark.stages"] = avg(lambda p: len(p["stages"]))
    rates = [n / s for n, s in zip(res["items"], res["steps_s"])]
    m["trace.items_per_s"] = statistics.median(rates)
    m["trace.step_s_p50"] = statistics.median(res["steps_s"])
    m["trace.first_step_s"] = res["first_step_s"]

    steady_stage_ids = [st["id"] for p in per_step for st in p["stages"]]
    if workload == "pipe_fetch":
        m["sources.spool_s"] = counts["spool_s"]
        m["sources.parse_s"] = layer("sources")
        m["sources.rows"] = counts["urls"] / counts["passes"]
        m["http_fetch.busy_s"] = layer("http_fetch")
        m["http_fetch.python_run_s"] = stage_sum("py_run_ms", {"http_fetch"}) / 1000
        m["http_fetch.bytes_from_python"] = stage_sum("from_py", {"http_fetch"})
        m["http_fetch.requests"] = counts["requests"] / counts["passes"]
        m["http_fetch.attempts_per_url"] = counts["attempts"] / counts["fetched_rows"]
        m["http_fetch.responder_hits_per_url"] = counts["requests"] / counts["urls"]
        m["http_fetch.latency_ms_p50"] = counts["latency_ms_p50"]
        m["http_fetch.latency_ms_p99"] = counts["latency_ms_p99"]
        m["sinks.emit_s"] = layer("sinks.emit")
        m["sinks.status_log_s"] = layer("sinks.status_log")
        m["sinks.lines"] = counts["stdout_lines"] / counts["passes"]
        m["sinks.bytes"] = counts["stdout_bytes"] / counts["passes"]
    elif workload == "crawl_bulk":
        gms = res["gen_metrics"][skip:]
        tagged = counts["traced_gens"][skip:]
        pos = ev.rows_out(steady_stage_ids, lambda n, s: n == "Filter" and s.startswith("Filter _maybe_seen"))
        neg = ev.rows_out(steady_stage_ids, lambda n, s: n == "Filter" and s.startswith("Filter NOT _maybe_seen"))
        fp = ev.rows_out(steady_stage_ids, lambda n, s: "LeftAnti" in s and "[url_h" in s)
        m["seen.busy_s"] = layer("seen") + layer("seen.bloom_grow")
        m["seen.probe_rows"] = avg_list([g["eligible"] for g in gms])
        m["seen.bloom_positive_share"] = pos / (pos + neg) if pos + neg else 0.0
        m["seen.false_positive_share"] = fp / (pos + neg) if pos + neg else 0.0
        m["seen.dedup_dropped"] = avg_list([g["dedup_dropped"] for g in gms])
        m["seen.bloom_grow_s"] = layer("seen.bloom_grow")
        m["seen.shuffle_bytes"] = stage_sum("shuffle_write", {"seen", "seen.bloom_grow"})
        unseen = [g["eligible"] - g["dedup_dropped"] for g in gms]
        blocked = [t["robots_blocked"] for t in tagged]
        m["politeness.busy_s"] = layer("politeness")
        m["politeness.released_share"] = sum(g["released"] for g in gms) / max(1, sum(unseen))
        m["politeness.robots_blocked_rows"] = avg_list(blocked)
        m["politeness.deferred_rows"] = avg_list([
            u - b - g["released"] for u, b, g in zip(unseen, blocked, gms)
        ])
        fetch_tasks = [st["task_records"] for p in per_step for st in p["stages"]
                       if st["owner"] == "fetch" and st.get("task_records")]
        m["politeness.fetch_task_skew"] = avg_list([
            max(r) / (sum(r) / len(r)) for r in fetch_tasks if sum(r)
        ])
        m["politeness.shuffle_bytes"] = stage_sum("shuffle_write", {"politeness"})
        m["fetch.busy_s"] = layer("fetch")
        m["fetch.python_run_s"] = stage_sum("py_run_ms", {"fetch"}) / 1000
        m["fetch.rows"] = avg_list([g["results"] + g["errors"] for g in gms])
        m["checkpoint.commit_s"] = layer("checkpoint.commit")
        m["checkpoint.readback_s"] = layer("checkpoint.readback")
        m["checkpoint.bytes_written"] = avg_list([t["ckpt_bytes"] for t in tagged])
        m["checkpoint.files_written"] = avg_list([t["ckpt_files"] for t in tagged])
        resume = [s for s in spans if s["name"] == "resume"][0]
        m["checkpoint.resume_s"] = counts["resume_s"]
        m["checkpoint.resume_read_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["parent"] == resume["id"] and s["layer"] == "checkpoint.readback"
        )
        m["frontier_loop.jobs_per_gen"] = m["spark.jobs"]
        m["frontier_loop.stages_per_gen"] = m["spark.stages"]
        m["frontier_loop.tasks_per_gen"] = stage_sum("tasks")
        m["frontier_loop.plan_build_jobs"] = avg(lambda p: p["plan_build_jobs"])
        m["frontier_loop.self_s"] = layer("frontier_loop")
        m["frontier_loop.unattributed_s"] = layer("unattributed")
        m["frontier_loop.persistent_rdds"] = avg_list([t["persistent_rdds"] for t in tagged])
    else:
        passes = counts["traced_passes"][skip:]
        m["dedup.shingle_s"] = layer("dedup.shingle")
        m["dedup.signature_s"] = layer("dedup.signature")
        m["dedup.verify_s"] = layer("dedup.verify") + layer("dedup.band")
        m["dedup.candidate_pairs"] = avg_list([t["candidate_pairs"] for t in passes])
        m["dedup.verified_pairs"] = counts["verified_pairs"]
        m["dedup.verify_yield"] = (
            counts["verified_pairs"] / m["dedup.candidate_pairs"] if m["dedup.candidate_pairs"] else 0.0
        )
        m["dedup.pair_slots_per_bucket"] = avg_list([t["pair_slots_per_bucket"] for t in passes])
        m["dedup.dense_route"] = avg(lambda p: float(any(
            "FlatMapGroupsInPandas" in st["ops"] for st in p["stages"]
        )))
        m["dedup.plan_build_jobs"] = avg(lambda p: p["plan_build_jobs"])
        m["dedup.shuffle_bytes"] = m["spark.shuffle_write_bytes"]
        m["dedup.spill_bytes"] = m["spark.spill_bytes"]
        # slowest task over the median task, in stages of at least nproc
        # tasks that ran 100 ms or more
        m["dedup.max_task_s_ratio"] = max((
            max(st["task_run_ms"]) / statistics.median(st["task_run_ms"])
            for p in per_step for st in p["stages"]
            if len(st.get("task_run_ms", [])) >= 4 and max(st["task_run_ms"]) >= 100
            and statistics.median(st["task_run_ms"]) > 0
        ), default=0.0)

    units = {name: unit for name, unit, _ in PER_LAYER}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    detail = {
        "steady_steps": n_steady,
        "steps": [
            {
                "wall_s": p["wall_s"],
                "layer_s": p["layer_s"],
                "layer_sum_s": sum(p["layer_s"].values()),
                "jobs": p["jobs"],
                "stages": len(p["stages"]),
            }
            for p in per_step
        ],
        "span_self_s": _span_report(spans, ev),
    }
    return metrics, detail


def avg_list(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


def _span_report(spans: list[dict], ev: EventLog) -> dict:
    """Per span name: calls, wall, self time, jobs and executor time."""
    selft = self_times(spans)
    jobs_by_span = defaultdict(int)
    run_by_span = defaultdict(float)
    for job in ev.jobs.values():
        if job["span"] is not None:
            jobs_by_span[job["span"]] += 1
    for st in ev.stages.values():
        if st.get("span") is not None:
            run_by_span[st["span"]] += st.get("run_ms", 0.0) / 1000
    out: dict[str, dict] = {}
    for s in spans:
        key = s["name"].split("[")[0]
        r = out.setdefault(key, {"layer": s["layer"], "calls": 0, "wall_s": 0.0,
                                 "self_s": 0.0, "jobs": 0, "executor_run_s": 0.0})
        r["calls"] += 1
        r["wall_s"] += s["end"] - s["start"]
        r["self_s"] += selft[s["id"]]
        r["jobs"] += jobs_by_span[s["id"]]
        r["executor_run_s"] += run_by_span[s["id"]]
    return out
