"""Catalyst reference forms of the Arrow operators — executable oracles.

Each function here is the pure Column-expression form of a production
operator whose production path is one Arrow (mapInPandas) stage. The
equivalence tests run both on the same input and require identical rows;
nothing in ganda_spark imports this module.

  * minhash_signatures — transform/zip_with/array_min fold over md5 halves
    (ganda_spark.operators.dedup.minhash_signatures);
  * embed_text — per-dim aggregate folds over salted md5 word hashes
    (ganda_spark.functions.text.embed_text);
  * ivf_assign — nprobe=1 argmax as a max_by(cid, struct(cos, −cid))
    aggregate over the broadcast centroid join
    (ganda_spark.operators.similarity.ivf_assign);
  * kmeans_centroids — Lloyd's loop over the reference ivf_assign with the
    wide integer basis-point update, `dim` long-sum aggregates in one
    groupBy (ganda_spark.operators.similarity.kmeans_centroids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_C, MINHASH_P
from ganda_spark.operators.similarity import as_double, cosine_pre, norm


def _minhash_mix(s: int, x: str = "x", y: str = "y") -> str:
    """SQL fragment: (A·x mod P + B·y mod P + C) mod P via pmod."""
    a, b, c = MINHASH_A[s], MINHASH_B[s], MINHASH_C[s]
    return (
        f"pmod(pmod({a} * {x}, {MINHASH_P}) + pmod({b} * {y}, {MINHASH_P})"
        f" + {c}, {MINHASH_P})"
    )


def minhash_signatures(
    df: DataFrame, k: int = 8, shingle_col: str = "shingles"
) -> DataFrame:
    """sig_<s> = array_min over the shingles of mix_s(h1, h2), h1/h2 the
    two 48-bit halves (hex chars 1-12, 13-24) of one md5 per shingle."""
    half = "CAST(conv(substr(d, {start}, 12), 16, 10) AS BIGINT)"
    out = (
        df.withColumn("_hd", F.expr(f"transform({shingle_col}, sh -> md5(sh))"))
        .withColumn(
            "_h1",
            F.expr(
                f"transform(_hd, d -> pmod({half.format(start=1)}, {MINHASH_P}))"
            ),
        )
        .withColumn(
            "_h2",
            F.expr(
                f"transform(_hd, d -> pmod({half.format(start=13)}, {MINHASH_P}))"
            ),
        )
    )
    for s in range(k):
        out = out.withColumn(
            f"sig_{s}",
            F.expr(f"array_min(zip_with(_h1, _h2, (x, y) -> {_minhash_mix(s)}))"),
        )
    return out.drop("_hd", "_h1", "_h2")


def _hash_arr_sql(text_col: str, salt: int) -> str:
    """words → 48-bit salted hash array (one md5 per word per salt)."""
    return (
        f"transform(split({text_col}, ' '), w -> "
        f"CAST(conv(substr(md5(concat('{salt}:', w)), 1, 12), 16, 10) AS BIGINT))"
    )


def embed_text(df: DataFrame, text_col: str = "text", dims: int = 8) -> DataFrame:
    """embedding[j] = (sum_j − 127.5·n)/n and embedding_bp[j] =
    sum_j·10⁴ div n − 1 275 000, sum_j the fold of byte j of each word's
    salted md5 over the n = size(split(text, ' ')) words."""
    n_salts = (dims + 5) // 6  # 6 usable bytes per 48-bit hash
    out = df
    for s in range(n_salts):
        out = out.withColumn(f"_eh{s}", F.expr(_hash_arr_sql(text_col, s)))
    out = out.withColumn("_en", F.expr(f"size(split({text_col}, ' '))"))
    for j in range(dims):
        s, byte = divmod(j, 6)
        out = out.withColumn(
            f"_es{j}",
            F.expr(
                f"aggregate(_eh{s}, 0L, (acc, h) -> acc + ((h >> {8 * byte}) & 255))"
            ),
        )
    n = F.col("_en").cast("long")
    emb = F.array(*[(F.col(f"_es{j}") - 127.5 * n) / n for j in range(dims)])
    emb_bp = F.array(
        *[
            F.expr(f"CAST(_es{j} * 10000L div _en - 1275000 AS BIGINT)")
            for j in range(dims)
        ]
    )
    return (
        out.withColumn("embedding", emb)
        .withColumn("embedding_bp", emb_bp)
        .drop("_en", *[f"_eh{s}" for s in range(n_salts)],
              *[f"_es{j}" for j in range(dims)])
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "list_id",
) -> DataFrame:
    """Nearest centroid per vector (cosine DESC, centroid id ASC) as an
    argmax AGGREGATE: the broadcast C-way join, then one max_by over the
    (cos, −cid) struct per vector id. Numeric centroid ids, unique vector
    ids."""
    c = F.broadcast(
        centroids.select(
            F.col(id_col).alias("_cid"),
            as_double(F.col(vec_col)).alias("_cv"),
            norm(as_double(F.col(vec_col))).alias("_cn"),
        )
    )
    scored = (
        emb.withColumn("_v", as_double(F.col(vec_col)))
        .withColumn("_vn", norm(F.col("_v")))
        .join(c)
        .withColumn(
            "_ccos",
            cosine_pre(F.col("_v"), F.col("_vn"), F.col("_cv"), F.col("_cn")),
        )
        .drop("_cv", "_cn")
    )
    others = [col for col in emb.columns if col != id_col]
    return scored.groupBy(id_col).agg(
        *[F.first(col).alias(col) for col in others],
        F.max_by(
            F.col("_cid"), F.struct(F.col("_ccos"), (-F.col("_cid")).alias("_nc"))
        ).alias(out_id),
    )


def _kmeans_update(
    assigned: DataFrame, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """One Lloyd's update: per list, `dim` independent sums of
    round(v[d]·10⁴) in one groupBy, then integer `div` by the list count."""
    sums = [
        F.sum(
            F.round(F.col(vec_col)[d].cast("double") * 10000).cast("long")
        ).alias(f"_s{d}")
        for d in range(dim)
    ]
    upd = assigned.groupBy("list_id").agg(*sums, F.count("*").alias("_n"))
    return upd.select(
        F.col("list_id").cast("long").alias(id_col),
        F.array(
            *[
                (F.expr(f"_s{d} div _n") / F.lit(10000.0)).cast("double")
                for d in range(dim)
            ]
        ).alias(vec_col),
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's iterations seeded by the first C vectors by id; each
    iteration assigns with the reference ivf_assign and updates with the
    wide integer basis-point mean."""
    cent = emb.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias(id_col),
        as_double(F.col(vec_col)).alias(vec_col),
    )
    for _ in range(iters):
        assigned = ivf_assign(emb, cent, id_col, vec_col)
        cent = _kmeans_update(assigned, dim, id_col, vec_col)
        # localize each iteration (C rows) so the next one does not
        # re-plan the whole nested chain; the long/double round-trip is exact
        cent = emb.sparkSession.createDataFrame(
            cent.collect(), f"{id_col} long, {vec_col} array<double>"
        )
    return cent
