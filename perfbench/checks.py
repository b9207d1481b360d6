"""Output checks. Each returns (attempted, failed): one attempted operation
per URL, fetched row, or reported/planted pair, and a failure for every
one whose output differs from what the seeded input plants."""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import inputs

RETRY_ERROR = "maximum number of retries (1) reached for request"


# ---------------------------------------------------------------------------
# pipe_fetch
# ---------------------------------------------------------------------------


def pipe_outputs(code: int, out_lines: list[str], err_lines: list[str], planted: list[dict]) -> tuple[int, int]:
    """Stdout: one envelope per non-failed URL, in input order, with the
    planted url, status, context and the sha256 of the scripted body.
    Stderr: one status-log line per URL."""
    expected = [p for p in planted if p["ok"]]
    failed = 0 if code == 0 else len(planted)
    if len(out_lines) != len(expected):
        failed += abs(len(out_lines) - len(expected))
    for line, p in zip(out_lines, expected):
        try:
            env = json.loads(line)
        except ValueError:
            failed += 1
            continue
        body = (
            hashlib.sha256(inputs.item_body(p["path"])).hexdigest()
            if p["status"] == 200 else None
        )
        if (
            env.get("url") != p["url"]
            or env.get("code") != p["status"]
            or env.get("body") != body
            or env.get("context") != p["context"]
        ):
            failed += 1
    want_log = sorted(
        f"Response: {p['status']} {p['url']}" if p["ok"] else f"{p['url']} Error: {RETRY_ERROR}"
        for p in planted
    )
    got_log = sorted(
        ln for ln in err_lines if ln.startswith("Response: ") or " Error: " in ln
    )
    if got_log != want_log:
        failed += max(1, len(set(want_log) ^ set(got_log)))
    return len(planted), min(failed, len(planted))


def responder_hits(hits: dict[str, int], planted: list[dict]) -> tuple[int, int]:
    """Exactly one request per URL; two for /flaky (one 500, then 200) and
    for the persistent 500s (one retry with -r 1)."""
    want = {p["path"]: p["hits"] for p in planted}
    bad = sum(1 for path, n in want.items() if hits.get(path, 0) != n)
    bad += sum(1 for path in hits if path not in want)
    return len(want), bad


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------


def crawl_outputs(spark, ckpt_root: str, gen_metrics: list[dict], final_seen, robots_path: str,
                  p: dict, cfg, max_redelivery: int = 2) -> tuple[int, int, dict]:
    """Over every committed generation's results and errors:
      * status, attempts and error match spec.fetch_outcome_sql per URL;
      * no URL appears in results twice, in results and errors, or in
        errors more than max_redelivery + 1 times;
      * no generation releases more than its global budget, or more than
        its per-host budget (robots crawl-delay budget or the default);
      * no URL under a robots-disallowed prefix was fetched;
      * the final seen set equals cumulative results plus permanent
        failures, and the per-generation committed counts match the
        generation metrics."""
    from pyspark.sql import functions as F

    from ganda_spark import spec

    gens = [m["generation"] for m in gen_metrics]

    def read(table):
        parts = [
            spark.read.parquet(os.path.join(ckpt_root, f"gen={g:06d}", table))
            for g in gens
        ]
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    o = spec.fetch_outcome_sql("spark", "url", retries=cfg.retries)
    fetched = read("results").withColumn("_err", F.lit(False)).unionByName(
        read("errors").withColumn("_err", F.lit(True))
    )
    robots = spark.read.parquet(robots_path)
    from ganda_spark.operators.robots import crawl_delay_budgets

    budgets = crawl_delay_budgets(robots, window_ms=1000, default_budget=cfg.per_host_budget)
    checked = (
        fetched.withColumn("_bad_outcome", (
            (F.col("status") != F.expr(o["status_final"]))
            | (F.col("attempts") != F.expr(o["attempts"]))
            | (F.col("_err") != F.expr(o["dropped"]))
        ))
        .join(robots.select("host", "disallow_prefixes"), "host", "left")
        .withColumn("_blocked", F.coalesce(F.exists(
            "disallow_prefixes",
            lambda x: F.parse_url(F.col("url"), F.lit("PATH")).startswith(x),
        ), F.lit(False)))
        .persist()
    )
    row = checked.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("_bad_outcome").cast("int")).alias("bad_outcome"),
        F.sum(F.col("_blocked").cast("int")).alias("blocked"),
        F.sum((~F.col("_err")).cast("int")).alias("results"),
        F.sum((F.col("_err") & (F.col("attempt") + 1 > max_redelivery)).cast("int")).alias("perma"),
    ).collect()[0]
    per_url = checked.groupBy("url").agg(
        F.sum((~F.col("_err")).cast("int")).alias("r"),
        F.sum(F.col("_err").cast("int")).alias("e"),
    )
    dup = per_url.where(
        (F.col("r") > 1) | ((F.col("r") == 1) & (F.col("e") > 0))
        | (F.col("e") > max_redelivery + 1)
    ).count()
    per_host = (
        checked.groupBy("_batch_id", "host").agg(F.count(F.lit(1)).alias("n"))
        .join(budgets, "host", "left")
        .withColumn("budget", F.coalesce("budget", F.lit(cfg.per_host_budget)))
    )
    over_host = per_host.where(F.col("n") > F.col("budget")).count()
    per_gen = {
        r["_batch_id"]: r["n"]
        for r in checked.groupBy("_batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    checked.unpersist()
    over_global = sum(1 for n in per_gen.values() if n > p["budget"])
    mismatch_gen = sum(
        1 for m in gen_metrics
        if per_gen.get(m["generation"], 0) != m["results"] + m["errors"]
        or m["released"] != m["results"] + m["errors"]
    )
    seen_n = final_seen.count()
    seen_bad = int(seen_n != row["results"] + row["perma"])
    failed = int(row["bad_outcome"] or 0) + dup + int(row["blocked"] or 0) + over_host \
        + over_global + mismatch_gen + seen_bad
    attempted = int(row["rows"]) + len(gen_metrics)
    counts = {
        "fetched_rows": int(row["rows"]),
        "perma_failed": int(row["perma"] or 0),
        "seen_final": seen_n,
        "max_gen_release": max(per_gen.values()) if per_gen else 0,
    }
    return attempted, min(failed, attempted), counts


# ---------------------------------------------------------------------------
# dedup_spans
# ---------------------------------------------------------------------------


def _jaccard(a: set, b: set) -> float:
    return round(len(a & b) / len(a | b), 4)


def _bands(shingles: set) -> tuple:
    """The LSH band keys ganda_spark.operators.dedup computes (k=8 mixes of
    one md5 per shingle, 4 bands of 2 rows), recomputed independently."""
    from ganda_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_C, MINHASH_P

    sig = [None] * 8
    for sh in shingles:
        d = hashlib.md5(sh.encode("utf-8")).hexdigest()
        h1 = int(d[:12], 16) % MINHASH_P
        h2 = int(d[12:24], 16) % MINHASH_P
        for s in range(8):
            v = (MINHASH_A[s] * h1 % MINHASH_P + MINHASH_B[s] * h2 % MINHASH_P
                 + MINHASH_C[s]) % MINHASH_P
            if sig[s] is None or v < sig[s]:
                sig[s] = v
    return tuple((sig[2 * b], sig[2 * b + 1]) for b in range(4))


def dedup_pairs(pairs: dict[tuple[str, str], float], facts: dict) -> tuple[int, int, int]:
    """Every reported pair's recomputed Jaccard is >= 0.5 and equals the
    reported value; every planted near-duplicate pair and every pair of the
    boilerplate cluster is reported. A planted pair whose recomputed
    MinHash bands share no key is out of LSH's reach by construction: it is
    counted (third value), not failed."""
    sh = facts["shingles"]
    failed = 0
    for (a, b), j in pairs.items():
        want = _jaccard(sh[a], sh[b])
        if want < 0.5 or abs(want - j) > 1e-6:
            failed += 1
    must = [tuple(x) for x in facts["planted_pairs"]]
    boiler = sorted(facts["boilerplate_ids"])
    must += [(boiler[i], boiler[j]) for i in range(len(boiler)) for j in range(i + 1, len(boiler))]
    unreachable = 0
    for a, b in must:
        if (a, b) in pairs:
            continue
        ba, bb = _bands(sh[a]), _bands(sh[b])
        if _jaccard(sh[a], sh[b]) >= 0.5 and not any(x == y for x, y in zip(ba, bb)):
            unreachable += 1
            continue
        failed += 1
    attempted = len(pairs) + len(must)
    return attempted, min(failed, attempted), unreachable
