"""Host-graph ranking for crawl prioritization.

The reference's scheduler orders the frontier by a caller-supplied
priority column (cli.go:52-156 exposes no ranking of its own); a
web-scale tier crawl needs that priority to come from the link graph
itself — rank hosts by inbound link mass and feed the score into the
F9 priority pop. This module supplies the standard tool: fixed-point
PageRank over a (src_host, dst_host) edge table.

Engine-reproducibility design: ranks are BIGINT parts-per-million and
every per-edge contribution is an integer floor-division
(`rank · damping_bp DIV (10000 · outdeg)`), so the per-node sum is an
associative integer reduction — any engine, any partitioning, any
iteration order produces bit-identical ranks (the same integer-bp trick
as kmeans_centroids and the text quality metrics). Float PageRank would
hash-differ across engines on summation order alone.

Scale posture (100 TB / 10^9-edge graph):
  * the edge⋈outdeg table is persisted ONCE; each iteration is one
    src-keyed join shuffle + one dst-keyed aggregation shuffle — the
    minimum for distributed PageRank without preserved partitioning.
  * iterations is a small fixed constant (3-5 is the crawl-
    prioritization standard), so the unrolled lineage stays shallow and
    needs no per-iteration spool (contrast connected_components, whose
    iteration count is data-dependent).
  * dangling-node mass is dropped (the simplified form): rank is used
    as a relative priority, not a probability, so renormalization buys
    nothing but an extra global aggregate per iteration.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ganda_spark import cache

PPM = 1_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_bp: int = 8500,
    dangling: bool = False,
    spool_every: int = 8,
    spool_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank.

    edges: one row per DISTINCT directed edge (callers dedupe; edge
    multiplicity would silently reweight the graph). Returns
    (node, rank_ppm) for every node appearing as src or dst, where
    rank_ppm starts at 1,000,000 and each iteration sets

        rank(v) = (10000 − damping_bp)·PPM DIV 10000
                  + Σ_{u→v} rank(u)·damping_bp DIV (10000·outdeg(u))
                  [+ D·damping_bp DIV (10000·N)   when dangling=True]

    — all BIGINT arithmetic, so results are bit-identical across
    engines and partitionings.

    dangling: redistribute sink mass (VERDICT r4 #8). The simplified
    default DROPS the rank flowing into dangling nodes (fine when rank
    is a relative crawl priority); callers using rank as a probability
    need the mass back: D = Σ rank over out-degree-0 nodes, shared
    equally (D DIV N each, damped). Costs one extra bounded aggregate
    per iteration (a 1-row sum, broadcast back) plus a one-time node
    count — total mass then stays N·PPM up to integer-floor dust.

    spool_every: the connected-components lesson (PLANS.md #17): each
    iteration nests joins one level deeper, and past ~8 levels Catalyst
    analysis cost grows super-linearly while a lost executor replays the
    whole chain. Every `spool_every` iterations the rank table is spooled
    to parquet and read back — constant-size plans, bit-identical ranks
    (the spool is lineage truncation, not a semantic change). The crawl
    standard 3-5 iterations never spools; iterations=20 now completes in
    bounded time instead of hitting the CC failure mode.
    """
    if not 0 < damping_bp < 10_000:
        raise ValueError(f"damping_bp must be in (0, 10000), got {damping_bp}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if spool_every < 1:
        raise ValueError(f"spool_every must be >= 1, got {spool_every}")

    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    nodes = cache.persist(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    out = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_outdeg"))
    # one persisted (src, dst, outdeg) table; iterations only join it
    ed = cache.persist(e.join(out, "_src"))
    base = (10_000 - damping_bp) * PPM // 10_000
    if dangling:
        # sinks = nodes that never appear as src; N is a one-time bounded
        # count (single long on the driver, folded into the plan as a
        # literal — the nodes table itself never leaves the cluster)
        # persisted: the left_semi against it runs every iteration, and
        # without the persist each iteration re-runs the src-distinct
        # aggregate it is built from
        dang_nodes = cache.persist(
            nodes.join(
                e.select(F.col("_src").alias("node")).distinct(), "node", "left_anti"
            )
        )
        n_nodes = nodes.count()

    spark = edges.sparkSession
    spool = None
    ranks = nodes.select("node", F.lit(PPM).cast("long").alias("rank_ppm"))
    for i in range(1, iterations + 1):
        if dangling:
            # r7 (guide §5): the dangling branch references the previous
            # ranks TWICE per iteration (the D aggregate below AND the
            # contribs join) — unpersisted, that doubled the evaluated
            # subtree per iteration (2^iters full re-runs; measured 21.7 s
            # → the fix landed q_crawl_pagerank_normalized at seconds).
            # Node-table-sized persist, scoped like ed/nodes.
            ranks = cache.persist(ranks)
            # D = Σ r_{i-1} over sinks — a 1-row aggregate of the previous
            # iteration's ranks, broadcast back into the update
            d = F.broadcast(
                ranks.join(dang_nodes, "node", "left_semi").agg(
                    F.coalesce(F.sum("rank_ppm"), F.lit(0))
                    .cast("long")
                    .alias("_d")
                )
            )
        contribs = ed.join(
            ranks.withColumnRenamed("node", "_src"), "_src"
        ).select(
            F.col("_dst").alias("node"),
            F.expr(f"rank_ppm * {damping_bp} DIV (10000 * _outdeg)").alias("_c"),
        )
        ranks = nodes.join(
            contribs.groupBy("node").agg(F.sum("_c").alias("_in")),
            "node",
            "left",
        ).select(
            "node",
            (F.lit(base) + F.coalesce(F.col("_in"), F.lit(0)))
            .cast("long")
            .alias("rank_ppm"),
        )
        if dangling:
            ranks = ranks.crossJoin(d).select(
                "node",
                (
                    F.col("rank_ppm")
                    + F.expr(f"_d * {damping_bp} DIV (10000 * {n_nodes}L)")
                )
                .cast("long")
                .alias("rank_ppm"),
            )
        if i % spool_every == 0 and i < iterations:
            if spool is None:
                if spool_dir is None and not spark.sparkContext.master.startswith(
                    "local"
                ):
                    # mkdtemp is a DRIVER-local path: on a multi-node
                    # cluster each executor would write its partitions
                    # under its own local disk and the read-back below
                    # would miss them — require a shared location instead
                    raise ValueError(
                        "pagerank: spool_dir is required on a non-local "
                        "master (pass a shared path, e.g. under the "
                        "checkpoint/warehouse dir); the tempfile default "
                        "is driver-local"
                    )
                spool = spool_dir or tempfile.mkdtemp(prefix="ganda-pr-")
            path = f"{spool}/ranks_{i}"
            ranks.write.mode("overwrite").parquet(path)
            ranks = spark.read.parquet(path)
    return ranks
