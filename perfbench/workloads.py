"""The three workloads. Each runs inside one fresh child process on a warm
session (see child.py), makes its inputs from the seed before any timing,
times its steps, and checks every output.

A workload runs steps (CLI passes / generations / dedup passes): the first
step, `warmup_steps` more that are timed but not reported, then measured
steps until `seconds` have passed since the warm-up ended (at least
`min_steps` of them). It returns a dict:
  first_step_s  wall of the first step, which includes lazy builds
  warmup_s      walls of the warm-up steps
  steps_s       walls of the measured steps
  items         work items per measured step (URLs, fetched rows, documents)
  attempted, failed   output checks (see checks.py)
  counts        per-layer counts for the traced run
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import time

from perfbench import checks, inputs

# --- sizes: "full" is the benchmark, "tiny" the smoke test -----------------

SIZES = {
    "full": {
        "pipe_urls": 12_000,
        "crawl_bulk": {"rows": 200_000, "hosts": 1_000, "budget": 50_000,
                       "host_budget": 15_000, "compact_every": 8},
        "dedup_docs": 30_000,
        "warmup_steps": 1,
        # at least this many measured steps, so that nearly every run
        # measures the same step indices: dedup passes keep getting faster
        # by a few percent a pass for ten passes, and a window that ends on
        # time alone would turn a faster host into more, faster passes
        "min_steps": {"pipe_fetch": 4, "crawl_bulk": 2, "dedup_spans": 4},
    },
    "tiny": {
        "pipe_urls": 300,
        "crawl_bulk": {"rows": 3_000, "hosts": 50, "budget": 600,
                       "host_budget": 120, "compact_every": 2},
        "dedup_docs": 600,
        "warmup_steps": 0,
        "min_steps": {"pipe_fetch": 1, "crawl_bulk": 1, "dedup_spans": 1},
    },
}


class Ctx:
    def __init__(self, spark, tracer, seed, seconds, run_dir, nproc, size, capture):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.nproc = nproc
        self.size = SIZES[size]
        self.capture = capture


class Steps:
    """Step walls of one run: the first step, the warm-up steps, then the
    measured window."""

    def __init__(self, ctx: Ctx, workload: str):
        self.ctx = ctx
        self.walls: list[float] = []
        self.skip = 1 + ctx.size["warmup_steps"]
        self.min_steps = ctx.size["min_steps"][workload]
        self._window_start: float | None = None

    def more(self) -> bool:
        if len(self.walls) < self.skip:
            return True
        if self._window_start is None:
            self._window_start = time.perf_counter()
        return (
            len(self.walls) - self.skip < self.min_steps
            or time.perf_counter() - self._window_start < self.ctx.seconds
        )

    def result(self, items: list[int]) -> dict:
        """first_step_s, warmup_s, steps_s and items of the measured steps
        (`items` has one entry per step)."""
        return {
            "first_step_s": self.walls[0],
            "warmup_s": self.walls[1:self.skip],
            "steps_s": self.walls[self.skip:],
            "items": items[self.skip:],
        }


# ---------------------------------------------------------------------------
# pipe_fetch
# ---------------------------------------------------------------------------


class _StampedStdin(io.RawIOBase):
    """stdin stand-in that records when the CLI starts spooling it."""

    def __init__(self, path: str):
        self._f = open(path, "rb")
        self.first_read: float | None = None
        self.eof: float | None = None

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self.first_read is None:
            self.first_read = time.perf_counter()
        n = self._f.readinto(b)
        if n == 0 and self.eof is None:
            self.eof = time.perf_counter()
        return n

    def close(self) -> None:
        self._f.close()
        super().close()


def _start_responder(ctx: Ctx, hits_path: str) -> tuple[subprocess.Popen, int]:
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "responder.py"),
         "--max-conns", str(ctx.nproc), "--hits-out", hits_path],
        stdout=subprocess.PIPE, text=True,
    )
    line = proc.stdout.readline()
    if not line.startswith("PORT "):
        proc.kill()
        proc.wait()
        raise RuntimeError("responder did not start")
    return proc, int(line.split()[1])


def _stop_responder(proc: subprocess.Popen, hits_path: str) -> dict:
    proc.terminate()
    proc.wait(timeout=30)
    proc.stdout.close()
    with open(hits_path) as f:
        return json.load(f)


def pipe_fetch(ctx: Ctx) -> dict:
    from pyspark.sql import SparkSession

    import ganda_spark.cli as cli
    import ganda_spark.sinks as sinks
    import ganda_spark.sources.url_lines as url_lines
    import ganda_spark.operators.http_fetch as http_fetch

    tr = ctx.tracer
    tr.patch(url_lines, "parse_url_lines", "parse_url_lines", "sources")
    tr.patch(http_fetch, "http_fetch_udf", "http_fetch_udf", "http_fetch")
    tr.patch(sinks, "emit_stdout", "emit_stdout", "sinks.emit")
    tr.patch(sinks, "emit_status_log", "emit_status_log", "sinks.status_log")
    if tr.enabled:
        # fetch-side counts read from the cached fetch output the CLI hands
        # to the status log (a cached scan, never a second fetch)
        traced_status = sinks.emit_status_log

        def status_with_counts(results, cfg, *a, **k):
            from pyspark.sql import functions as F

            with tr.span("fetch_counts", "trace"):
                row = results.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("attempts").alias("att"),
                    F.percentile_approx("latency_ms", [0.5, 0.99], 10_000).alias("q"),
                ).collect()[0]
            fetch_stats.append((row["n"], row["att"], row["q"]))
            return traced_status(results, cfg, *a, **k)

        fetch_stats: list = []
        sinks.emit_status_log = status_with_counts

    hits_path = os.path.join(ctx.run_dir, "responder_hits.json")
    responder, port = _start_responder(ctx, hits_path)
    base = f"http://127.0.0.1:{port}"
    argv = ["-W", str(ctx.nproc), "-r", "1", "-B", "sha256", "-J",
            "--base-retry-millis", "1", "--cores", str(ctx.nproc)]
    n = ctx.size["pipe_urls"]
    steps, spool_s, planted_all = Steps(ctx, "pipe_fetch"), [], []
    attempted = failed = 0
    real_stop = SparkSession.stop
    SparkSession.stop = lambda self: None  # keep the warm session across passes
    stdin0 = sys.stdin
    try:
        k = 0
        while steps.more():
            lines, planted = inputs.pipe_lines(ctx.seed, n, base, f"s{ctx.seed}p{k}")
            path = os.path.join(ctx.run_dir, f"pipe_{k}.txt")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            raw = _StampedStdin(path)
            sys.stdin = io.TextIOWrapper(io.BufferedReader(raw))
            ctx.capture.reset()
            with tr.span(f"cli.main[{k}]", "cli"):
                code = cli.main(argv)
            sys.stdin.close()
            end = max(ctx.capture.out.last_write or 0.0, ctx.capture.err.last_write or 0.0)
            steps.walls.append(end - raw.first_read)
            spool_s.append(raw.eof - raw.first_read)
            a, f_ = checks.pipe_outputs(code, ctx.capture.out.lines, ctx.capture.err.lines, planted)
            attempted += a
            failed += f_
            planted_all.extend(planted)
            os.unlink(path)
            k += 1
    finally:
        sys.stdin = stdin0
        SparkSession.stop = real_stop
        hits = _stop_responder(responder, hits_path)
    a, f_ = checks.responder_hits(hits["hits"], planted_all)
    attempted += a
    failed += f_
    counts = {
        "requests": sum(hits["hits"].values()),
        "urls": len(planted_all),
        "peak_conns": hits["peak_conns"],
        "passes": len(steps.walls),
        "spool_s": sum(spool_s[steps.skip:]) / max(1, len(spool_s) - steps.skip),
    }
    if tr.enabled:
        n_rows = sum(s[0] for s in fetch_stats)
        counts["attempts"] = sum(s[1] for s in fetch_stats)
        counts["fetched_rows"] = n_rows
        counts["latency_ms_p50"] = sorted(s[2][0] for s in fetch_stats)[len(fetch_stats) // 2]
        counts["latency_ms_p99"] = max(s[2][1] for s in fetch_stats)
        counts["stdout_lines"] = ctx.capture.total_lines
        counts["stdout_bytes"] = ctx.capture.total_bytes
    return {
        **steps.result([n] * len(steps.walls)),
        "attempted": attempted,
        "failed": failed,
        "counts": counts,
    }


# ---------------------------------------------------------------------------
# crawl_bulk
# ---------------------------------------------------------------------------


def _discover(results):
    """LINK_SHARE of fetched pages emit one link; SEEN_LINK_SHARE of those
    links point back at the page itself (already seen once this generation
    commits), the rest at a new child URL, PRIVATE_LINK_SHARE of which sit
    under /private/ (blocked where the host publishes robots rules)."""
    from pyspark.sql import functions as F

    def share(salt: str, p: float):
        return F.pmod(F.xxhash64(F.col("url"), F.lit(salt)), F.lit(1000)) < int(p * 1000)

    path = F.parse_url(F.col("url"), F.lit("PATH"))
    child = F.when(
        share("private", inputs.PRIVATE_LINK_SHARE),
        # the /p suffix keeps every discovered URL unique: the suffix
        # string spells out the sequence of links that led to it
        F.concat(F.lit("http://"), F.col("host"), F.lit("/private"), path, F.lit("/p")),
    ).otherwise(F.concat(F.col("url"), F.lit("/c")))
    link = share("link", inputs.LINK_SHARE)
    target = F.when(share("seen", inputs.SEEN_LINK_SHARE), F.col("url")).otherwise(child)
    return results.where(link).select(
        F.xxhash64(target, F.lit("seq")).alias("seq"),
        target.alias("url"),
        "host",
        "priority",
        "context",
    )


def _blocked_rows(frontier, robots, gen: int) -> int:
    """Eligible frontier rows under a robots-disallowed prefix (traced runs
    only; a scan of the committed frontier, outside the generation)."""
    from pyspark.sql import functions as F

    path = F.parse_url(F.col("url"), F.lit("PATH"))
    return (
        frontier.where(F.col("not_before") <= gen)
        .join(F.broadcast(robots.select("host", "disallow_prefixes")), "host")
        .where(F.exists("disallow_prefixes", lambda p: path.startswith(p)))
        .count()
    )


def _dir_usage(path: str) -> dict:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"ckpt_files": files, "ckpt_bytes": size}


def crawl_bulk(ctx: Ctx) -> dict:
    import ganda_spark.operators.seen as seen_mod
    import ganda_spark.streaming.frontier_loop as loop
    from ganda_spark.config import EngineConfig
    from ganda_spark.operators.fetch import mock_fetch_udf
    from ganda_spark.streaming.checkpoint import CheckpointStore

    p = ctx.size["crawl_bulk"]
    spark, tr = ctx.spark, ctx.tracer
    facts = inputs.crawl_inputs(ctx.seed, p["rows"], p["hosts"], os.path.join(ctx.run_dir, "in"))
    ckpt = os.path.join(ctx.run_dir, "ckpt")

    tr.patch(loop, "filter_unseen_exact", "filter_unseen_exact", "seen")
    tr.patch(seen_mod, "filter_unseen_hybrid", "filter_unseen_hybrid", "seen")
    tr.patch(seen_mod, "build_bloom_tree", "build_bloom_tree", "seen.bloom_grow")
    tr.patch(loop, "robots_gate", "robots_gate", "politeness")
    tr.patch(loop, "pop_batch", "pop_batch", "politeness")
    tr.patch(loop, "partition_for_fetch", "partition_for_fetch", "politeness")
    tr.patch(CheckpointStore, "commit", "CheckpointStore.commit", "checkpoint.commit")
    tr.patch(CheckpointStore, "read", "CheckpointStore.read", "checkpoint.readback")
    tr.patch(CheckpointStore, "read_lineage", "CheckpointStore.read_lineage", "checkpoint.readback")

    cfg = EngineConfig(retries=1, request_workers=ctx.nproc, per_host_budget=p["host_budget"])

    def make_driver():
        return loop.CrawlDriver(
            spark, cfg, ckpt,
            robots=spark.read.parquet(facts["paths"]["robots"]),
            discover=tr.wrap_callable(_discover, "discover", "frontier_loop"),
            fetcher=tr.wrap_callable(mock_fetch_udf, "fetcher", "fetch"),
            global_budget=p["budget"],
            seen_strategy="hybrid",
            checkpoint_mode="delta",
            compact_every=p["compact_every"],
        )

    seed_df = spark.read.parquet(facts["paths"]["frontier"])
    driver = make_driver()
    gen, frontier, seen = driver.load_state(seed_df)
    steps, items, gen_metrics, probe_s, traced_gens = Steps(ctx, "crawl_bulk"), [], [], [], []
    while steps.more():
        if tr.enabled:
            traced_gens.append({"robots_blocked": _blocked_rows(frontier, driver.robots, gen)})
        t0 = time.perf_counter()
        with tr.span(f"isEmpty[{gen}]", "frontier_loop"):
            drained = frontier.isEmpty()
        probe_s.append(time.perf_counter() - t0)
        if drained:
            raise RuntimeError(f"crawl_bulk: frontier drained at generation {gen}; grow the input")
        t0 = time.perf_counter()
        with tr.span(f"generation[{gen}]", "frontier_loop"):
            frontier, seen, m = driver.run_generation(gen, frontier, seen)
        steps.walls.append(time.perf_counter() - t0)
        items.append(m["results"] + m["errors"])
        gen_metrics.append(m)
        if tr.enabled:
            traced_gens[-1].update(
                _dir_usage(os.path.join(ckpt, f"gen={gen:06d}")),
                persistent_rdds=spark.sparkContext._jsc.getPersistentRDDs().size(),
            )
        gen += 1

    # resume: a fresh driver on the committed checkpoint
    t0 = time.perf_counter()
    with tr.span("resume", "checkpoint.resume"):
        resumed = make_driver()
        r_gen, r_frontier, r_seen = resumed.load_state(seed_df)
        r_frontier.isEmpty()
    resume_s = time.perf_counter() - t0
    tr.restore()

    attempted, failed, check_counts = checks.crawl_outputs(
        spark, ckpt, gen_metrics, r_seen, facts["paths"]["robots"], p, cfg,
    )
    attempted += 1
    failed += int(r_gen != gen)
    counts = {
        "resume_s": resume_s,
        "empty_probe_s": sum(probe_s),
        "generations": len(steps.walls),
        "eligible": sum(m["eligible"] for m in gen_metrics),
        "dedup_dropped": sum(m["dedup_dropped"] for m in gen_metrics),
        "released": sum(m["released"] for m in gen_metrics),
        "results": sum(m["results"] for m in gen_metrics),
        "errors": sum(m["errors"] for m in gen_metrics),
        "traced_gens": traced_gens,
        "hot_host_share": facts["hot_host_share"],
        "robots_blocked_share": facts["robots_blocked_share"],
        **check_counts,
    }
    return {
        **steps.result(items),
        "attempted": attempted,
        "failed": failed,
        "counts": counts,
        "gen_metrics": gen_metrics,
    }


# ---------------------------------------------------------------------------
# dedup_spans
# ---------------------------------------------------------------------------


def _bucket_stats(banded) -> dict:
    """Distinct candidate pairs and pair slots per shared LSH bucket, from
    the cached band table (traced runs only, outside the timed pass)."""
    from pyspark.sql import functions as F

    from ganda_spark.operators.dedup import band_long

    bands = band_long(banded, "doc_id", 8, 2)
    hist = bands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("c")).where("c >= 2")
    row = hist.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("slots"),
    ).collect()[0]
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, ["band", "bh"]).where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    buckets = row["buckets"] or 0
    return {
        "candidate_pairs": pairs,
        "pair_slots_per_bucket": (row["slots"] or 0.0) / buckets if buckets else 0.0,
    }


def dedup_spans(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    import ganda_spark.operators.dedup as dedup
    import ganda_spark.sources.spans as spans

    spark, tr = ctx.spark, ctx.tracer
    facts = inputs.span_docs(ctx.seed, ctx.size["dedup_docs"], os.path.join(ctx.run_dir, "in"))
    tr.patch(spans, "with_span_shingles", "with_span_shingles", "dedup.shingle")
    tr.patch(dedup, "minhash_signatures", "minhash_signatures", "dedup.signature")
    tr.patch(dedup, "lsh_band_hashes", "lsh_band_hashes", "dedup.band")
    tr.patch(dedup, "lsh_verified_pairs", "lsh_verified_pairs", "dedup.verify")
    band_cols = [f"band_{b}" for b in range(4)]
    steps, found, traced_passes = Steps(ctx, "dedup_spans"), None, []
    attempted = failed = 0
    k = 0
    while steps.more():
        docs = spark.read.parquet(facts["path"])
        t0 = time.perf_counter()
        with tr.span(f"dedup_pass[{k}]", "dedup"):
            sh = spans.with_span_shingles(docs).select("doc_id", "shingles").persist()
            sigs = dedup.minhash_signatures(sh, k=8)
            banded = dedup.lsh_band_hashes(sigs, k=8, rows_per_band=2).select(
                "doc_id", *band_cols
            ).persist()
            verified = dedup.lsh_verified_pairs(banded, sh, k=8, rows_per_band=2)
            with tr.span(f"collect[{k}]", "dedup.verify"):
                rows = verified.where(F.col("jaccard") >= 0.5).collect()
        steps.walls.append(time.perf_counter() - t0)
        if tr.enabled:
            traced_passes.append(_bucket_stats(banded))
        banded.unpersist()
        sh.unpersist()
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        if found is None:
            found = pairs
            a, f_, lsh_unreachable = checks.dedup_pairs(pairs, facts)
            attempted += a
            failed += f_
        else:
            # every pass must report the identical pair set
            attempted += 1
            failed += int(pairs != found)
        k += 1
    counts = {
        "docs": facts["docs"],
        "verified_pairs": len(found),
        "planted_pairs": len(facts["planted_pairs"]),
        "planted_lsh_unreachable": lsh_unreachable,
        "passes": len(steps.walls),
        "traced_passes": traced_passes,
    }
    return {
        **steps.result([facts["docs"]] * len(steps.walls)),
        "attempted": attempted,
        "failed": failed,
        "counts": counts,
    }


WORKLOADS = {
    "pipe_fetch": pipe_fetch,
    "crawl_bulk": crawl_bulk,
    "dedup_spans": dedup_spans,
}
