"""Benchmark decontamination for training corpora: flag documents whose
word n-grams collide with a (small) evaluation-set n-gram collection —
the standard "remove eval contamination before training" pass (the
13-gram rule of GPT-3 appendix C, here with configurable n).

Scale shape (the 100 TB contract):
- doc n-gram construction is a shuffle-free Column projection
  (sequence + slice + array_join — codegen'd, no explode-then-groupBy
  over |corpus|·|doc| rows);
- the benchmark side is MB-to-GB scale by nature (eval sets), so its
  distinct n-gram set is BROADCAST to the corpus-side hash join — the
  corpus is never shuffled to meet it;
- the only corpus-keyed shuffle is the groupBy(doc_id) over HIT rows
  (bounded by contaminated-doc n-grams, a vanishing fraction of the
  corpus), plus the hits-back-onto-docs join, which AQE resolves to a
  broadcast when hits stay small and a doc_id sort-merge otherwise.
For benchmark collections too large to broadcast, the same plan works
with the bloom-prefilter pattern of operators/seen.py (build_bloom over
bench n-grams, prefilter doc n-grams executor-side) — noted, not needed
at eval-set scale.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark import cache


def ngram_col(text_col: str, n: int) -> F.Column:
    """DISTINCT word n-grams of `text_col` as array<string> — pure Column
    (empty for docs shorter than n words; the size guard matters because
    Spark's sequence(1, 0) yields a DESCENDING [1, 0], not []).

    r7 (§1 measured): the split is BOUND ONCE as a lambda variable via a
    one-element transform — as a textual fragment it was re-evaluated per
    reference (and per gram inside the inner lambda): 13.8 s → 2.5 s for
    the gram build at the 10× bench, byte-identical output (the NULL-text
    row still falls through size(NULL) to the empty array)."""
    grams = (
        f"transform(array(split({text_col}, ' ')), w -> "
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n} + 1), "
        f"i -> array_join(slice(w, i, {n}), ' ')) "
        f"ELSE array() END)[0]"
    )
    return F.array_distinct(F.expr(grams))


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Annotate `docs` with benchmark-overlap evidence:

    - n_doc_ngrams: distinct word n-grams in the doc
    - n_hit_ngrams: how many of those appear anywhere in `bench`
    - hit_bp: n_hit·10⁴ div n_doc (integer basis points, engine-exact)
    - contaminated: any hit at all (the conservative GPT-3-style rule;
      callers wanting a fraction threshold gate on hit_bp)

    r7 (guide §5, measured §1): the n-gram construction (per-gram
    slice+join HOFs) was the dominant cost AND evaluated twice — once
    under the explode for the hit join, once as size(grams) on the
    output side (12 s of a 25 s total each at 10× sf0.1). The exploded
    (id, ngram) table is now persisted once and BOTH n_doc_ngrams (a
    count per id — identical to size(grams) since the grams array is
    already distinct) and the hit join read the cache. Docs shorter than
    n words have no gram rows and coalesce to 0 exactly as before.
    The cache is gram-table-sized — callers at extreme scale can prefer
    decontaminate_bloom, which already streams."""
    grams = ngram_col(text_col, n)
    bench_grams = (
        bench.select(F.explode(ngram_col(text_col, n)).alias("ngram")).distinct()
    )
    doc_grams = cache.persist(
        docs.select(F.col(id_col), F.explode(grams).alias("ngram"))
    )
    doc_counts = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_doc_ngrams")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "ngram", "inner")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )
    out = (
        docs.join(doc_counts, id_col, "left")
        .withColumn(
            "n_doc_ngrams", F.coalesce(F.col("_n_doc_ngrams"), F.lit(0)).cast("long")
        )
        .drop("_n_doc_ngrams")
        .join(hits, id_col, "left")
        .withColumn(
            "n_hit_ngrams", F.coalesce(F.col("n_hit_ngrams"), F.lit(0)).cast("long")
        )
    )
    return out.withColumn(
        "hit_bp",
        F.when(
            F.col("n_doc_ngrams") > 0,
            F.expr("n_hit_ngrams * 10000 DIV n_doc_ngrams"),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    ).withColumn("contaminated", F.col("n_hit_ngrams") > 0)


def decontaminate_bloom(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 1 << 22,
    n_hashes: int = 5,
) -> DataFrame:
    """`decontaminate` for benchmark collections too large to broadcast —
    the seen-set hybrid trick (operators/seen.filter_unseen_hybrid)
    applied to n-grams:

    1. fold the bench n-gram set into a Bloom bitmap via treeAggregate
       (build_bloom_tree: √P driver ingress, bitmap MBs regardless of
       bench size);
    2. tag every doc n-gram executor-side with a vectorized
       might_contain — bloom-NEGATIVE grams (the overwhelming bulk of a
       clean corpus) never reach any join;
    3. the surviving sliver (true hits + false-positive rate ε) joins the
       exact bench n-gram table, which removes the false positives.

    EXACTLY equal to `decontaminate` by construction (no false negatives;
    the exact join sees every gram the bloom could be wrong about) — the
    equality is test-pinned. The bench-side join in step 3 is left to AQE:
    broadcast when bench fits, doc-keyed shuffle of only the tagged sliver
    when it doesn't — that sliver being small is the whole point."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ganda_spark.operators.seen import build_bloom_tree

    grams = ngram_col(text_col, n)
    bench_grams = (
        bench.select(F.explode(ngram_col(text_col, n)).alias("ngram")).distinct()
    )
    bloom = build_bloom_tree(
        bench_grams.withColumnRenamed("ngram", "url"), n_bits=n_bits,
        n_hashes=n_hashes,
    )
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast((bloom.n_bits, bloom.n_hashes, bloom.bits))

    doc_grams = docs.select(
        F.col(id_col), F.explode(grams).alias("ngram")
    ).withColumn("_h", F.xxhash64("ngram"))
    schema = T.StructType(list(doc_grams.schema.fields))

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ganda_spark.operators.seen import BloomFilter

        nb, nh, bits = bc.value
        local = BloomFilter(nb, nh, bits)
        for pdf in batches:
            if len(pdf):
                hit = local.might_contain(pdf["_h"].to_numpy(dtype=np.int64))
                yield pdf[hit]
            else:
                yield pdf

    maybe = doc_grams.mapInPandas(tag, schema).drop("_h")
    hits = (
        maybe.join(bench_grams, "ngram", "inner")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )
    out = (
        docs.withColumn("n_doc_ngrams", F.size(grams).cast("long"))
        .join(hits, id_col, "left")
        .withColumn(
            "n_hit_ngrams", F.coalesce(F.col("n_hit_ngrams"), F.lit(0)).cast("long")
        )
    )
    return out.withColumn(
        "hit_bp",
        F.when(
            F.col("n_doc_ngrams") > 0,
            F.expr("n_hit_ngrams * 10000 DIV n_doc_ngrams"),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    ).withColumn("contaminated", F.col("n_hit_ngrams") > 0)
