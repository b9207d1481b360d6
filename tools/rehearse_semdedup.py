"""SemDeDup scale rehearsal (r5): does the guarded operator hold at
~60× the oracle corpus, with a production-shaped degenerate blob?

Corpus: 100k deterministic 64-dim vectors (hash-projection from the id —
pure Column synthesis, no driver data) + a 20k-copy blob of one vector —
the boilerplate-page shape that k-means collapses into one list. At
C=256 centroids the natural lists average ~390 members (exact pair scans
fine); the blob list holds ~20k and would cost 2·10⁸ 64-dim cosines
uncapped. The rehearsal measures:

  * semantic_dedup_capped end-to-end (kmeans + assign + histogram +
    small-list pair scan + big-list code grouping),
  * semantic_dedup_incremental with a 5k batch against the 100k corpus
    (the nightly-ingest shape — wall should be batch-dominated),
  * blob recall through the code-group fallback (must be 100%).

Usage: python tools/rehearse_semdedup.py [--n 100000] [--blob 20000]
                                         [--centroids 256] [--batch 5000]
Prints one JSON line for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from ganda_spark import cache  # noqa: E402
from ganda_spark.session import get_spark  # noqa: E402
from ganda_spark.operators.similarity import (  # noqa: E402
    localized_kmeans_centroids,
    semantic_dedup_capped,
    semantic_dedup_incremental,
)


def synth(spark, n: int, offset: int = 0):
    """Deterministic 64-dim vectors from the row id — one md5 per (id,
    salt) pair, 6 dims per salt (the embed_text byte-slicing trick), so
    synthesis is a pure projection at any scale."""
    salts = 11  # ceil(64/6)
    cols = []
    for s in range(salts):
        cols.append(
            f"CAST(conv(substr(md5(concat(CAST(id + {offset} AS STRING), "
            f"':{s}')), 1, 12), 16, 10) AS BIGINT)"
        )
    hs = ", ".join(cols)
    # 255.0D / 0.5D: the D suffix forces DOUBLE literals — a bare 255.0
    # parses as DECIMAL in Spark SQL, and BigDecimal element arithmetic
    # made every downstream cosine pathological (measured 5×)
    dims = ", ".join(
        f"(shiftright(_h[{j // 6}], {8 * (j % 6)}) & 255) / 255.0D - 0.5D"
        for j in range(64)
    )
    return (
        spark.range(n)
        .withColumn("_h", F.expr(f"array({hs})"))
        .select(
            (F.col("id") + offset).alias("vec_id"),
            F.expr(f"array({dims})").alias("embedding"),
        )
    )


def main() -> int:
    n = int(_arg("--n", 100_000))
    blob_n = int(_arg("--blob", 20_000))
    n_cent = int(_arg("--centroids", 256))
    batch_n = int(_arg("--batch", 5_000))
    spark = get_spark("semdedup-rehearsal", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    base = synth(spark, n)
    blob = (
        spark.range(blob_n)
        .crossJoin(base.where(F.col("vec_id") == 42).select("embedding"))
        .select((F.col("id") + 1_000_000).alias("vec_id"), "embedding")
    )
    # even layout: the blob's crossJoin lineage would otherwise land all
    # its rows in ONE partition (BNLJ streams the 1-row side), handing a
    # single task 7× the assign work — synthetic-input skew a real table
    # never has (and AQE would split under a shuffle; the cached scan has
    # none to split)
    corpus = base.unionByName(blob).repartition(256).persist()
    corpus.count()

    out = {"n": n, "blob": blob_n, "centroids": n_cent}

    t0 = time.time()
    with cache.scope():
        res = semantic_dedup_capped(
            corpus, n_centroids=n_cent, iters=2, threshold_bp=9990,
            max_list=4 * (n // n_cent), dim=64,
        )
        agg = res.agg(
            F.sum(F.col("is_semdup").cast("long")).alias("dups"),
            F.sum(F.col("list_capped").cast("long")).alias("capped_rows"),
            F.sum(
                ((F.col("vec_id") >= 1_000_000) & F.col("is_semdup")).cast("long")
            ).alias("blob_dups"),
        ).collect()[0]
    out["capped_wall_sec"] = round(time.time() - t0, 1)
    out["dups"] = agg["dups"]
    out["capped_rows"] = agg["capped_rows"]
    out["blob_recall_bp"] = 10_000 * agg["blob_dups"] // blob_n

    # incremental: centroid build amortized (kept from the full build in
    # production) — time assignment+compare alone, then with the build
    t0 = time.time()
    cent = localized_kmeans_centroids(corpus, n_cent, 2, 64)
    out["centroid_build_sec"] = round(time.time() - t0, 1)
    batch = synth(spark, batch_n, offset=2_000_000)
    t0 = time.time()
    inc = semantic_dedup_incremental(
        corpus, batch, threshold_bp=9990, centroids=cent
    )
    out["incremental_batch_rows"] = inc.count()
    out["incremental_wall_sec"] = round(time.time() - t0, 1)

    corpus.unpersist()
    print("RESULT " + json.dumps(out))
    return 0


def _arg(name: str, default):
    if name in sys.argv:
        return sys.argv[sys.argv.index(name) + 1]
    return default


if __name__ == "__main__":
    raise SystemExit(main())
