"""Host-graph PageRank (operators/graph.py): hand-computed fixed points,
engine-reproducibility, cache hygiene."""

import pyspark.sql.functions as F
import pytest

from ganda_spark import cache
from ganda_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_star_graph_hand_computed(spark):
    """4 leaves → center, 1 iteration: center = 150000 + 4·(10^6·8500 //
    10^4) = 3,550,000; leaves (no in-edges) = base 150,000."""
    e = _edges(spark, [(f"leaf{i}", "center") for i in range(4)])
    r = {row.node: row.rank_ppm for row in pagerank(e, iterations=1).collect()}
    assert r["center"] == 3_550_000
    assert all(r[f"leaf{i}"] == 150_000 for i in range(4))
    # more iterations keep the center on top
    r3 = {row.node: row.rank_ppm for row in pagerank(e, iterations=3).collect()}
    assert r3["center"] > r3["leaf0"]


def test_ring_is_fixed_point(spark):
    """On a cycle every node has outdeg 1 and one in-edge, so rank stays
    exactly at the initial 1,000,000 ppm: 150000 + 10^6·8500//10^4."""
    n = 5
    e = _edges(spark, [(f"n{i}", f"n{(i + 1) % n}") for i in range(n)])
    for iters in (1, 4):
        ranks = pagerank(e, iterations=iters).collect()
        assert {row.rank_ppm for row in ranks} == {1_000_000}


def test_repartition_invariance_and_determinism(spark):
    """Integer arithmetic makes ranks bit-identical across partitionings
    and reruns — the engine-reproducibility contract."""
    import random

    rng = random.Random(7)
    pairs = list({(f"h{rng.randrange(30)}", f"h{rng.randrange(30)}") for _ in range(200)})
    e = _edges(spark, pairs)
    a = sorted((row.node, row.rank_ppm) for row in pagerank(e, iterations=3).collect())
    b = sorted(
        (row.node, row.rank_ppm)
        for row in pagerank(e.repartition(13), iterations=3).collect()
    )
    assert a == b


def test_dangling_and_source_nodes(spark):
    """A pure sink (no out-edges) still gets ranked; a pure source ends at
    base rank; total node set = src ∪ dst."""
    e = _edges(spark, [("a", "b"), ("b", "c")])  # c dangles, a is a source
    r = {row.node: row.rank_ppm for row in pagerank(e, iterations=2).collect()}
    assert set(r) == {"a", "b", "c"}
    assert r["a"] == 150_000
    assert r["c"] > r["a"]


def test_cache_scope_and_jvm_only_plan(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    with cache.scope() as caches:
        df = pagerank(e, iterations=2)
        df.collect()
        # edge⋈outdeg + node table are both persisted in the scope
        assert len(caches) == 2 and all(c.is_cached for c in caches)
    assert not any(c.is_cached for c in caches)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tiered_pop_composition(spark, sf_dir):
    """Tier crawl: PageRank tiers the 37 frontier hosts 13/12/12, budgets
    6/3/1 bound every host's release count."""
    import __spark_entry__ as entry

    rows = entry.queries()["crawl_tiered_pop"](spark, sf_dir).collect()
    assert len(rows) == 37
    from collections import Counter

    sizes = Counter(r.tier for r in rows)
    assert (sizes[1], sizes[2], sizes[3]) == (13, 12, 12)
    for r in rows:
        assert r.budget == {1: 6, 2: 3, 3: 1}[r.tier]
        assert 0 < r.n_released <= r.budget


def test_validation(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="damping_bp"):
        pagerank(e, damping_bp=0)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(e, iterations=0)


def test_pagerank_spool_matches_unspooled(spark, tmp_path):
    """The spool is lineage truncation only: ranks are bit-identical with
    and without it, and a DEEP chain (iterations=20, the CC failure mode
    for unrolled plans — PLANS.md #17) completes under constant-size
    plans."""
    import random

    rng = random.Random(11)
    pairs = list({(f"h{rng.randrange(20)}", f"h{rng.randrange(20)}") for _ in range(80)})
    e = _edges(spark, pairs)
    a = sorted(
        (r.node, r.rank_ppm)
        for r in pagerank(e, iterations=6, spool_every=100).collect()
    )
    b = sorted(
        (r.node, r.rank_ppm)
        for r in pagerank(
            e, iterations=6, spool_every=2, spool_dir=str(tmp_path / "s1")
        ).collect()
    )
    assert a == b
    deep = pagerank(
        e, iterations=20, spool_every=8, spool_dir=str(tmp_path / "s2")
    ).collect()
    assert len(deep) == len(a)


def test_pagerank_dangling_hand_computed_and_mass_conserved(spark):
    """a→{b,c}, b→c, c is a sink; N=3, damping 8500. Iteration 1 by hand:
    D = 10⁶ (c's rank), share = 10⁶·8500 DIV (10⁴·3) = 283 333;
    a = 150000+283333, b = +425000, c = +425000+850000. Total mass stays
    N·10⁶ up to integer-floor dust, and strictly exceeds the simplified
    (mass-dropping) form."""
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    r1 = {r.node: r.rank_ppm for r in pagerank(e, iterations=1, dangling=True).collect()}
    assert r1 == {"a": 433_333, "b": 858_333, "c": 1_708_333}
    r3 = {r.node: r.rank_ppm for r in pagerank(e, iterations=3, dangling=True).collect()}
    total = sum(r3.values())
    # each iteration floors one div per edge + one dangling share per node
    assert 3_000_000 - 6 * (3 + 3) <= total <= 3_000_000
    plain = sum(
        r.rank_ppm for r in pagerank(e, iterations=3).collect()
    )
    assert total > plain


def test_pagerank_validation_spool_every(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="spool_every"):
        pagerank(e, spool_every=0)


def test_pagerank_requires_spool_dir_off_local(spark, monkeypatch):
    """ADVICE r5: the tempfile spool default is driver-local; a non-local
    master must demand an explicit shared spool_dir."""
    import pytest

    from ganda_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    real = spark.sparkContext.master

    class _FakeSC:
        master = "spark://cluster:7077"

        def __getattr__(self, item):
            return getattr(spark.sparkContext, item)

    monkeypatch.setattr(
        type(spark), "sparkContext", property(lambda self: _FakeSC())
    )
    try:
        with pytest.raises(ValueError, match="spool_dir"):
            pagerank(edges, iterations=20, spool_every=8)
    finally:
        monkeypatch.undo()
    assert spark.sparkContext.master == real
