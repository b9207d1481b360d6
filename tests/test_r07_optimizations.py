"""r7 optimization-round guards: every plan-shape change here must keep
operator OUTPUT identical — these tests pin the equivalences the
OPTIMIZATION_r07.md claims rest on."""

from __future__ import annotations

import ast
import glob
import math
import os
import random

import pytest
from pyspark.sql import functions as F

from tests.reference import catalyst as ref


# --- take_best two-level top-k (VERDICT r6 wrong #1) -----------------------


def _skewed_scores(spark, n_hot=400, n_cold=40):
    rows = [(i, "hot", i % 97) for i in range(n_hot)] + [
        (10_000 + i, f"cold{i % 7}", i % 13) for i in range(n_cold)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, score long")


def test_take_best_two_level_equals_one_level(spark):
    from ganda_spark.operators.sampling import take_best

    df = _skewed_scores(spark).repartition(8)
    one = take_best(df, ["source"], 5, "score", "doc_id", two_level=False)
    two = take_best(df, ["source"], 5, "score", "doc_id", two_level=True)
    key = lambda r: (r.source, r.keep_rank, r.doc_id)  # noqa: E731
    assert sorted(map(key, one.collect())) == sorted(map(key, two.collect()))


def test_take_best_two_level_plan_shape(spark):
    """The default runs TWO window stages: a local prune keyed on
    (group, partition id) before the global per-group window."""
    from ganda_spark.operators.sampling import take_best

    df = _skewed_scores(spark).repartition(8)
    plan = (
        take_best(df, ["source"], 5, "score", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Window") >= 2
    assert "SPARK_PARTITION_ID" in plan or "_tb_pid" in plan


# --- remove_boilerplate broadcast gate (VERDICT r6 wrong #2) ---------------


def _bp_frame(spark):
    rows = [
        ("a", f"a{i}", f"NAV | a\nbody a {i}\nCopyright a") for i in range(4)
    ] + [("b", f"b{i}", f"NAV | b\nbody b {i}\nCopyright b") for i in range(2)]
    return spark.createDataFrame(rows, "host string, doc_id string, text string")


def test_boilerplate_join_path_equals_broadcast_path(spark):
    from ganda_spark.functions.html import remove_boilerplate

    df = _bp_frame(spark)
    bc = remove_boilerplate(df, min_docs=3)
    jn = remove_boilerplate(df, min_docs=3, max_broadcast_hosts=1)
    key = lambda r: (r.doc_id, r.text_clean, r.n_boiler_removed)  # noqa: E731
    assert sorted(map(key, bc.collect())) == sorted(map(key, jn.collect()))


def test_boilerplate_join_path_has_no_forced_broadcast(spark):
    """Above the host bound, the per-host tables join WITHOUT the
    broadcast hint (a SortMergeJoin/ShuffledHashJoin on the host key is
    acceptable; driver-sized broadcast of host tables is not)."""
    from ganda_spark.functions.html import remove_boilerplate

    df = _bp_frame(spark)
    plan = (
        remove_boilerplate(df, min_docs=3, max_broadcast_hosts=1)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the doc-side join against bp must not carry a broadcast hint
    assert "ResolvedHint" not in plan


# --- export_ordered_shards quantile buckets (VERDICT r6 wrong #4) ----------


def test_export_sparse_keys_assignment_unchanged_and_spread(spark):
    from ganda_spark.operators.sampling import export_ordered_shards

    # clustered/sparse keys: two generations with a huge id gap
    rows = [(i, 10) for i in range(100)] + [(10_000_000 + i, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, sz long")
    out = export_ordered_shards(
        df, size_col="sz", shard_bytes=64, key_col="doc_id", buckets=8
    )
    got = {r.doc_id: r.shard_id for r in out.collect()}
    # naive reference: ordered cumulative sum
    acc = 0
    for k, s in sorted(rows):
        assert got[k] == acc // 64, f"key {k}"
        acc += s


# --- NumPy SemDeDup pair scan ≡ Catalyst self-join form --------------------


def _catalyst_pair_dups(assigned, threshold_bp):
    """The r6 Catalyst pair scan, kept as the test reference."""
    from ganda_spark.operators.similarity import as_double, cosine_pre, norm

    a = assigned.select(
        "list_id",
        F.col("vec_id").alias("_i"),
        as_double(F.col("embedding")).alias("_av"),
        norm(as_double(F.col("embedding"))).alias("_an"),
    )
    b = assigned.select(
        "list_id",
        F.col("vec_id").alias("_j"),
        as_double(F.col("embedding")).alias("_bv"),
        norm(as_double(F.col("embedding"))).alias("_bn"),
    )
    return (
        a.join(b, "list_id")
        .where(F.col("_i") < F.col("_j"))
        .select(
            "_j", "_i",
            F.round(
                cosine_pre(F.col("_av"), F.col("_an"), F.col("_bv"), F.col("_bn")), 4
            ).alias("_cos"),
        )
        .where(F.col("_cos") >= F.lit(threshold_bp) / 10_000.0)
        .groupBy("_j")
        .agg(F.min("_i").alias("dup_of"))
    )


def _random_assigned(spark, seed=7, n=120, dim=6):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, i % 4, base))
        if i % 5 == 0:  # planted near-copies
            rows.append((1000 + i, i % 4, [x + 1e-6 for x in base]))
        if i % 17 == 0:  # exact copies
            rows.append((2000 + i, i % 4, list(base)))
    nanv = [float("nan")] + [0.5] * (dim - 1)  # NaN element → NaN cosine
    rows.append((3000, 0, nanv))
    rows.append((3001, 0, list(nanv)))
    rows.append((3002, 1, [1.0, 2.0]))  # nonstandard length pair
    rows.append((3003, 1, [1.0, 2.0]))
    rows.append((3004, 1, [1.0]))  # mixed-length: never a candidate pair
    return spark.createDataFrame(
        rows, "vec_id long, list_id long, embedding array<double>"
    )


def test_numpy_pair_dups_equals_catalyst(spark):
    from ganda_spark.operators.similarity import list_pair_dups

    assigned = _random_assigned(spark).persist()
    for thr in (9990, 9000, 5000):
        ref = {
            r._j: r.dup_of for r in _catalyst_pair_dups(assigned, thr).collect()
        }
        got = {
            r._j: r.dup_of
            for r in list_pair_dups(assigned, thr).collect()
        }
        assert got == ref, f"threshold_bp={thr}"
    assigned.unpersist()


def test_numpy_pair_dups_nan_flags_like_spark(spark):
    """Spark orders NaN above every double, so a NaN cosine PASSES
    round(cos,4) >= thr. Zero vectors additionally upgrade: the Catalyst
    form RAISED (ANSI 0.0/0.0 divide error, Spark 4); the NumPy scan
    takes the same NaN-is-dup route instead of failing the job."""
    from ganda_spark.operators.similarity import list_pair_dups

    assigned = spark.createDataFrame(
        [(1, 0, [0.0, 0.0]), (2, 0, [0.0, 0.0]),
         (3, 1, [float("nan"), 1.0]), (4, 1, [float("nan"), 1.0])],
        "vec_id long, list_id long, embedding array<double>",
    )
    got = {r._j: r.dup_of for r in list_pair_dups(assigned, 9990).collect()}
    assert got == {2: 1, 4: 3}


def test_numpy_pair_dups_boundary_ladder_equals_catalyst(spark):
    """Adversarial input for the BLAS fast-pass + exact-band scan:
    vectors constructed so pair cosines land within a few ulps of the
    round(cos,4) >= 0.999 boundary — exactly the region where a naive
    fast pass would misclassify. Every such pair must resolve through
    the exact sequential band identically to the Catalyst fold."""
    import math
    import struct

    from ganda_spark.operators.similarity import (
        list_pair_dups,
        round_ge_boundary,
    )

    B = round_ge_boundary(9990)

    def ulp_shift(x, k):
        b = struct.unpack("<q", struct.pack("<d", x))[0]
        return struct.unpack("<d", struct.pack("<q", b + k))[0]

    rows = [(0, 0, [1.0, 0.0, 0.0, 0.0])]
    i = 1
    for k in range(-40, 41, 4):
        c = ulp_shift(B, k)
        s = math.sqrt(max(0.0, 1.0 - c * c))
        rows.append((i, 0, [c, s, 0.0, 0.0]))
        i += 1
    assigned = spark.createDataFrame(
        rows, "vec_id long, list_id long, embedding array<double>"
    ).persist()
    ref = {r._j: r.dup_of for r in _catalyst_pair_dups(assigned, 9990).collect()}
    got = {r._j: r.dup_of for r in list_pair_dups(assigned, 9990).collect()}
    assert got == ref
    assigned.unpersist()


def test_round_ge_boundary_matches_spark_round(spark):
    from ganda_spark.operators.similarity import round_ge_boundary

    for bp in (9990, 9000, 5000, 9999):
        thr = bp / 10_000.0
        B = round_ge_boundary(bp)
        vals = []
        for base in (thr - 5e-5, thr, thr + 5e-5, B):
            x = base
            for _ in range(4):
                vals.append(x)
                x = math.nextafter(x, 2.0)
            x = base
            for _ in range(4):
                vals.append(x)
                x = math.nextafter(x, -2.0)
        rng = random.Random(bp)
        vals += [rng.uniform(thr - 0.001, thr + 0.001) for _ in range(300)]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        rows = df.select("x", (F.round("x", 4) >= thr).alias("p")).collect()
        for r in rows:
            assert (r.x >= B) == bool(r.p), f"bp={bp} x={r.x!r}"


def test_semantic_incremental_numpy_equals_join_fallback(spark):
    """broadcast_new=True (localized NumPy path) must equal the
    broadcast_new=False shuffle-join fallback row-for-row."""
    from ganda_spark.operators.similarity import semantic_dedup_incremental

    rng = random.Random(11)
    base = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)]
    new = [(100 + i, [x + 1e-7 for x in base[i * 2][1]]) for i in range(12)] + [
        (200 + i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(8)
    ]
    base_df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    new_df = spark.createDataFrame(new, "vec_id long, embedding array<double>")
    kw = dict(n_centroids=4, iters=1, threshold_bp=9990, dim=6)
    a = semantic_dedup_incremental(base_df, new_df, broadcast_new=True, **kw)
    b = semantic_dedup_incremental(base_df, new_df, broadcast_new=False, **kw)
    key = lambda r: (r.vec_id, r.list_id, r.dup_of, r.is_semdup)  # noqa: E731
    assert sorted(
        map(key, a.select("vec_id", "list_id", "dup_of", "is_semdup").collect())
    ) == sorted(
        map(key, b.select("vec_id", "list_id", "dup_of", "is_semdup").collect())
    )


# --- Arrow minhash signatures ≡ Catalyst fold form --------------------------


def test_minhash_signatures_arrow_equals_catalyst(spark, sf_dir):
    """The Arrow signature stage must be bit-identical to the reference
    Catalyst fold: same md5 halves, same integer mixes, same mins — on
    real shingled docs plus NULL and EMPTY shingle arrays (both NULL
    sigs) and unicode shingles."""
    import __spark_entry__ as entry
    from ganda_spark.operators.dedup import minhash_signatures, with_shingles

    docs = with_shingles(entry._near_corpus(spark, sf_dir).limit(300)).select(
        "doc_id", "shingles"
    )
    edge = spark.createDataFrame(
        [
            (90001, None),
            (90002, []),
            (90003, ["ünï 字 x", "a b c"]),
            (90004, ["solo one two"]),
        ],
        "doc_id long, shingles array<string>",
    )
    df = docs.unionByName(edge).persist()
    a = minhash_signatures(df, k=8)
    c = ref.minhash_signatures(df, k=8)
    sel = ["doc_id"] + [f"sig_{s}" for s in range(8)]
    assert a.select(sel).exceptAll(c.select(sel)).count() == 0
    assert c.select(sel).exceptAll(a.select(sel)).count() == 0
    df.unpersist()


# --- Arrow embed_text ≡ Catalyst fold form ---------------------------------


def test_embed_text_arrow_equals_catalyst(spark, sf_dir):
    """The Arrow embedding must be bit-identical to the reference Catalyst
    fold on real docs plus edge rows: NULL text (arrays of NULL
    elements), empty text (the [''] split), unicode, repeated words."""
    from ganda_spark.functions.text import embed_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(200)
    edge = spark.createDataFrame(
        [
            (90001, None),
            (90002, ""),
            (90003, "une seule ligne – ünïcode 字"),
            (90004, "dup dup dup dup"),
            (90005, " leading and  double  spaces"),
        ],
        "doc_id long, text string",
    )
    df = docs.unionByName(edge)
    a = embed_text(df).select(
        "doc_id", "embedding", "embedding_bp"
    )
    c = ref.embed_text(df).select(
        "doc_id", "embedding", "embedding_bp"
    )
    assert a.exceptAll(c).count() == 0
    assert c.exceptAll(a).count() == 0


# --- Arrow top-k candidate stages ≡ Catalyst join+window fallbacks ---------


def _topk_fixture(spark, with_nan=True):
    rng = random.Random(77)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    rows.append((400, list(rows[3][1])))       # exact duplicate of id 3
    rows.append((401, [1.0, 2.0]))              # length matches no query
    rows.append((402, None))                    # NULL vector
    rows.append((403, [None] + [0.5] * 7))      # NULL element
    if with_nan:
        rows.append((404, [float("nan")] + [0.5] * 7))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk_both_paths(monkeypatch, run, queries):
    """run() with the query-localization limit at exactly the query count
    (the Arrow candidate stage) and one below it (the broadcast-join
    fallback); asserts which plan each executed."""
    import ganda_spark.operators.similarity as sim

    out = []
    n = queries.count()
    for limit, arrow in ((n, True), (n - 1, False)):
        monkeypatch.setattr(sim, "_MAX_LOCAL_QUERIES", limit)
        df = run()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("MapInPandas" in plan) == arrow, limit
        out.append(df.collect())
    return out


def test_brute_topk_arrow_equals_catalyst(spark, monkeypatch):
    """The Arrow candidate stage must reproduce the Catalyst broadcast-
    join + window fallback row-for-row: exact ranks, bit-exact rounded
    cosines, NaN candidates ranked first, NULL (cross-length / NULL-
    vector / NULL-element) candidates last, self-pair excluded."""
    from ganda_spark.operators.similarity import brute_force_topk

    emb = _topk_fixture(spark).persist()
    q = emb.where((F.col("vec_id") % 29 == 0) | (F.col("vec_id") >= 400))
    key = lambda r: (r.qid, r.rank, r.nid, repr(r.cos_r))  # noqa: E731
    a, c = _topk_both_paths(monkeypatch, lambda: brute_force_topk(emb, q, k=5), q)
    assert sorted(map(key, a)) == sorted(map(key, c))
    emb.unpersist()


def test_quantized_topk_arrow_equals_catalyst(spark, monkeypatch):
    """Same contract for the quantized candidate stage: identical
    survivor sets under the integer order (exact in any summation
    order), identical exact-cosine re-rank."""
    from ganda_spark.operators.similarity import quantized_topk

    emb = _topk_fixture(spark, with_nan=False).persist()
    q = emb.where((F.col("vec_id") % 29 == 0) | (F.col("vec_id") >= 400))
    key = lambda r: (r.qid, r.rank, r.nid, repr(r.cos_r))  # noqa: E731
    a, c = _topk_both_paths(
        monkeypatch, lambda: quantized_topk(emb, q, k=5, refine=3), q
    )
    assert sorted(map(key, a)) == sorted(map(key, c))
    emb.unpersist()
    # small corpus whose k·refine cutoff reaches integer score 0: the
    # NULL-element vector quantizes to zero codes and scores 0 (tied with
    # the orthogonal id 2), so it must outrank the negative id 4
    small = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [None, 1.0, 0.0, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q0 = small.where(F.col("vec_id") == 0)
    a, c = _topk_both_paths(
        monkeypatch, lambda: quantized_topk(small, q0, k=3, refine=1, dim=4), q0
    )
    assert [r.nid for r in sorted(c, key=lambda r: r.rank)] == [1, 2, 3]
    assert sorted(map(key, a)) == sorted(map(key, c))


# --- fused per-bucket LSH verify ≡ pairs→verify two-step -------------------


def test_lsh_verified_pairs_equals_two_step(spark, sf_dir):
    """lsh_verified_pairs must be row-identical to
    jaccard_verify(lsh_candidate_pairs(...)): same distinct pair set
    (multi-bucket pairs collapse to one row), same jaccard doubles, and
    the max_bucket cap drops the same degenerate buckets."""
    import __spark_entry__ as entry
    from ganda_spark.operators.dedup import (
        jaccard_verify,
        lsh_band_hashes,
        lsh_candidate_pairs,
        lsh_verified_pairs,
        minhash_signatures,
        with_shingles,
    )

    docs = with_shingles(entry._near_corpus(spark, sf_dir).limit(400)).persist()
    banded = lsh_band_hashes(minhash_signatures(docs, k=8), k=8, rows_per_band=2)
    banded = banded.persist()

    def key(r):
        j = r.jaccard
        j = "nan" if (j is not None and j != j) else j
        return (r.id_a, r.id_b, j)

    for cap in (None, 3):
        pairs = lsh_candidate_pairs(
            banded, k=8, rows_per_band=2, max_bucket=cap
        )
        ref = jaccard_verify(pairs, docs, broadcast_pairs=True).collect()
        # force BOTH routing branches (0 → always the fused grouped pass,
        # 1e18 → always the two-step join over the pre-filtered bands)
        for dense in (0.0, 1e18):
            got = lsh_verified_pairs(
                banded, docs, k=8, rows_per_band=2, max_bucket=cap,
                dense_pairs_per_bucket=dense,
            ).collect()
            assert sorted(map(key, got)) == sorted(map(key, ref)), (
                f"cap={cap} dense={dense}"
            )
    docs.unpersist()
    banded.unpersist()


# --- Arrow ivf_assign ≡ Catalyst max_by aggregate --------------------------


def test_ivf_assign_arrow_equals_catalyst(spark):
    """The Arrow map-stage assignment must reproduce the reference Catalyst
    max_by(cid, struct(cos, −cid)) aggregate row-for-row: random rows, exact
    centroid ties (equal cosines → lowest cid), NaN elements (NaN
    ordered above every double), mixed-length rows (length matches no
    centroid → NULL everywhere → lowest cid), NULL vectors, and the
    extra passthrough column."""
    from ganda_spark.operators.similarity import ivf_assign

    rng = random.Random(41)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)], f"t{i}") for i in range(200)
    ]
    rows.append((500, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0], "tie"))  # 2× centroid 0
    rows.append((501, [float("nan")] + [0.1] * 5, "nan"))
    rows.append((502, [1.0, 2.0], "short"))  # matches no centroid length
    rows.append((503, None, "null"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tag string"
    )
    cent = spark.createDataFrame(
        [(i, [1.0 if d == i else 0.0 for d in range(6)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    a = ivf_assign(emb, cent)
    c = ref.ivf_assign(emb, cent)
    assert a.columns == c.columns
    key = lambda r: (r.vec_id, r.tag, r.list_id)  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, c.collect()))


def test_ivf_assign_arrow_zero_norm_and_empty_centroids(spark):
    """Zero-norm rows take the NaN route (lowest cid) where Catalyst
    raises under ANSI 0.0/0.0 — the pair scan's documented upgrade; an
    empty centroid table yields zero rows like the Catalyst join."""
    from ganda_spark.operators.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(3, [1.0, 0.0]), (7, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.list_id for r in ivf_assign(emb, cent).collect()}
    assert got == {1: 3, 2: 3}
    empty = cent.where(F.lit(False))
    assert ivf_assign(emb, empty).count() == 0


# --- jaccard_verify localized pair scan ≡ Catalyst join form ---------------


def _jaccard_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, ["a b c", "b c d", "c d e"]),
            (2, ["a b c", "b c d", "x y z"]),          # partial overlap with 1
            (3, ["a b c", "b c d", "c d e"]),          # exact copy of 1
            (4, ["p q r"]),                             # disjoint
            (5, []),                                    # empty vs non-empty: 0/N
            (7, None),                                  # NULL shingles → NULL jaccard
            (8, ["a b c", "a b c", "b c d"]),           # dups inside the array
        ],
        "doc_id long, shingles array<string>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (4, 5), (1, 7), (2, 8), (1, 99)],
        "id_a long, id_b long",
    )
    return docs, pairs


def test_jaccard_local_path_equals_catalyst_join(spark):
    """The huge-pair localized scan (broadcast_pairs=False within the
    localization gates) must match the broadcast-join form row-for-row:
    partial/exact/disjoint overlaps, in-array duplicates, the 0/0 → NaN
    pair, NULL-shingle NULL, and the missing-id pair dropped by the
    inner join."""
    from ganda_spark.operators.dedup import jaccard_verify

    docs, pairs = _jaccard_fixture(spark)
    ref = jaccard_verify(pairs, docs, broadcast_pairs=True).collect()
    got = jaccard_verify(pairs, docs, broadcast_pairs=False).collect()

    def key(r):
        j = r.jaccard
        j = "nan" if (j is not None and j != j) else j
        return (r.id_a, r.id_b, j)

    assert sorted(map(key, got)) == sorted(map(key, ref))
    by_pair = {(r.id_a, r.id_b): r.jaccard for r in got}
    assert by_pair[(1, 3)] == 1.0
    assert by_pair[(1, 4)] == 0.0
    assert by_pair[(4, 5)] == 0.0
    assert by_pair[(1, 7)] is None
    assert (1, 99) not in by_pair


def test_jaccard_local_raises_on_empty_empty_like_catalyst(spark):
    """An empty-vs-empty pair divides 0/0 on INT operands, which RAISES
    under ANSI (Spark 4 default) on the r6 Catalyst path; the local path
    routes its integer sizes through the identical Divide expression, so
    it raises the same error rather than inventing a NaN."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    from ganda_spark.operators.dedup import jaccard_verify

    docs = spark.createDataFrame(
        [(5, []), (6, [])], "doc_id long, shingles array<string>"
    )
    pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    for bp in (True, False):
        with pytest.raises(ArithmeticException):
            jaccard_verify(pairs, docs, broadcast_pairs=bp).collect()


def test_jaccard_local_gates_fall_back_to_shuffle_join(spark):
    """Past max_local_docs the shuffle-join fallback still runs (and
    matches); the local path's mapInPandas node only appears inside the
    gates."""
    from ganda_spark.operators.dedup import jaccard_verify

    docs, pairs = _jaccard_fixture(spark)
    local = jaccard_verify(pairs, docs, broadcast_pairs=False)
    fb = jaccard_verify(pairs, docs, broadcast_pairs=False, max_local_docs=2)

    def key(r):
        j = r.jaccard
        j = "nan" if (j is not None and j != j) else j
        return (r.id_a, r.id_b, j)

    assert sorted(map(key, local.collect())) == sorted(map(key, fb.collect()))
    assert "MapInPandas" in local._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in fb._jdf.queryExecution().executedPlan().toString()


def test_kmeans_arrow_update_equals_catalyst(spark):
    """The Arrow (NumPy) Lloyd's update must produce BIT-IDENTICAL
    centroids to the reference Catalyst loop (max_by assignment, wide
    integer-bp update) — assignment argmax, NaN ordering, integer bp sums
    and the div reassembly all replicated, at 1 and 2 iterations."""
    from ganda_spark.operators.similarity import kmeans_centroids

    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for iters in (1, 2):
        a = kmeans_centroids(emb, 8, iters, 6).collect()
        c = ref.kmeans_centroids(emb, 8, iters, 6).collect()
        ka = sorted((r[0], tuple(r[1])) for r in a)
        kc = sorted((r[0], tuple(r[1])) for r in c)
        assert ka and ka == kc, f"iters={iters}"


def test_no_use_arrow_parameter_in_production():
    """One production path per operator: no function in ganda_spark/ or
    __spark_entry__.py declares a `use_arrow` selector. The Catalyst forms
    the Arrow stages are pinned against live in tests/reference/."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(repo, "ganda_spark", "**", "*.py"), recursive=True)
    files.append(os.path.join(repo, "__spark_entry__.py"))
    found = []
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "use_arrow" for p in params):
                    found.append(f"{os.path.relpath(path, repo)}:{node.lineno}")
    assert not found, found
