"""Cache lifetime (ganda_spark.cache): scopes release what they persist,
query entries release the previous entry's caches, the CLI leaves no
cache behind, and no module persists outside the one mechanism."""

from __future__ import annotations

import ast
import glob
import io
import os
import sys

import pyspark.sql.functions as F

from ganda_spark import cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_scope_releases_nested_persists(spark):
    df = spark.range(50)
    with cache.scope() as outer:
        a = cache.persist(df.withColumn("x", F.col("id") * 2))
        with cache.scope() as inner:
            b = cache.persist(df.withColumn("y", F.col("id") + 1))
            assert b.count() == 50
        assert inner == [b] and not b.is_cached
        assert outer == [a] and a.is_cached
    assert not a.is_cached


def test_persist_without_scope_lives_on(spark):
    df = cache.persist(spark.range(7).withColumn("z", F.lit(1)))
    with cache.scope():
        pass  # an unrelated scope does not own it
    assert df.is_cached
    df.unpersist()


def test_next_entry_releases_previous_entry_caches(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    qs["s4_url_tsv_parse"](spark, sf_dir).collect()  # closes earlier scopes
    before = _persistent_rdd_ids(spark)
    # f8_rfc_robots persists its parsed rules for two branches
    qs["f8_rfc_robots"](spark, sf_dir).collect()
    held = _persistent_rdd_ids(spark) - before
    assert held, "entry A persisted nothing"
    qs["s4_url_tsv_parse"](spark, sf_dir).collect()
    assert not (_persistent_rdd_ids(spark) & held)


def test_cli_throttle_leaves_no_cache(spark, monkeypatch, capfd):
    from pyspark.sql import SparkSession

    from ganda_spark import cli

    lines = "".join(f"http://example.com/p{i}\n" for i in range(5))
    monkeypatch.setattr(sys, "stdin", io.TextIOWrapper(io.BytesIO(lines.encode())))
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    before = _persistent_rdd_ids(spark)
    code = cli.main(["--mock-fetch", "-s", "-W", "2", "-T", "3", "-B", "sha256"])
    assert code == 0
    # one sha256 line per 200 response (the mock web fails a few URLs)
    assert 0 < len(capfd.readouterr().out.splitlines()) <= 5
    assert _persistent_rdd_ids(spark) <= before


def test_no_persist_outside_cache_module():
    """The one-mechanism guard: production code persists only through
    ganda_spark.cache (`cache.persist(df)`), never df.persist()/.cache()/
    .unpersist() by hand."""
    files = glob.glob(os.path.join(REPO, "ganda_spark", "**", "*.py"), recursive=True)
    files.append(os.path.join(REPO, "__spark_entry__.py"))
    owner = os.path.join(REPO, "ganda_spark", "cache.py")
    found = []
    for path in files:
        if path == owner:
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache", "unpersist")
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "cache"
                    and node.func.attr == "persist"
                )
            ):
                found.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert not found, found
