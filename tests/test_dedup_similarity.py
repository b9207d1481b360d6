"""Semantic behavior of the training-data ops: the oracle gate proves
Spark↔DuckDB parity; these tests prove the algorithms DO the job —
planted duplicates are found, ANN approximates brute force, simhash is
distance-sensitive."""

from __future__ import annotations

import pyspark.sql.functions as F

from ganda_spark import cache
from ganda_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_verify,
    lsh_band_hashes,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    with_shingles,
)
from ganda_spark.operators.similarity import ann_topk, brute_force_topk, lsh_bucket


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


def test_exact_dedup_finds_planted_copies(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    copies = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    groups = exact_dup_groups(corpus)
    dups = groups.where(F.col("n_docs") > 1)
    assert dups.count() == copies.count()
    # keeper is always the original (min id)
    assert dups.where(F.col("keep_id") >= 50000).count() == 0


def test_minhash_lsh_recall_on_near_dups(spark, sf_dir):
    """Mutated copies (3 words dropped) must surface as candidate pairs
    with jaccard >= 0.5 — the MinHash+LSH contract."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    mutated = docs.where((F.col("doc_id") % 4 == 0) & (F.size(words) > 20)).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 3)).alias("text"),
    )
    n_planted = mutated.count()
    corpus = with_shingles(docs.unionByName(mutated)).persist()
    banded = lsh_band_hashes(minhash_signatures(corpus, k=8), k=8, rows_per_band=2)
    pairs = lsh_candidate_pairs(banded, k=8, rows_per_band=2)
    verified = jaccard_verify(pairs, corpus).where(F.col("jaccard") >= 0.5)
    found_planted = verified.where(F.col("id_b") - F.col("id_a") == 50000).count()
    # 4 bands × 2 rows: P(candidate) = 1-(1-j^2)^4; at j≈0.9 ⇒ ~0.99
    assert found_planted >= n_planted * 0.9
    corpus.unpersist()


def test_jaccard_verify_degenerate_bands_no_broadcast(spark, sf_dir):
    """Degenerate LSH (every doc shares a band hash → O(n²) candidate
    pairs) must NOT be broadcast: past max_broadcast_pairs the verify
    falls back to shuffle joins (VERDICT r1 caveat on dedup.py:150)."""
    docs = with_shingles(_docs(spark, sf_dir).limit(60)).persist()
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))  # 1770 pairs

    from ganda_spark.operators.dedup import _should_broadcast_pairs

    # decision boundary: over the bound → NO broadcast hint (AQE may still
    # pick broadcast from accurate runtime sizes — that's safe; the bug was
    # the unconditional driver-side hint on an unbounded pair set)
    assert not _should_broadcast_pairs(pairs, 100)
    assert _should_broadcast_pairs(pairs.limit(10), 100)

    # shuffle-join path stays correct end to end
    verified = jaccard_verify(pairs, docs, max_broadcast_pairs=100)
    assert verified.count() == pairs.count()
    assert verified.where(F.col("jaccard") > 1.0).count() == 0
    # small-pairs path still carries the explicit broadcast hint
    v2 = jaccard_verify(pairs.limit(10), docs)
    assert "Broadcast" in v2._jdf.queryExecution().executedPlan().toString()
    docs.unpersist()


def test_candidate_pair_bound_dominates_actual_pairs(spark, sf_dir):
    """The bucket-histogram bound (r3 broadcast gate) must dominate the
    true distinct pair count on real LSH bands, and explode appropriately
    on degenerate one-bucket bands — all without a pair self-join."""
    from ganda_spark.operators.dedup import candidate_pair_bound

    docs = with_shingles(_docs(spark, sf_dir).limit(200)).persist()
    banded = lsh_band_hashes(minhash_signatures(docs, k=8), k=8, rows_per_band=2)
    ub = candidate_pair_bound(banded, k=8, rows_per_band=2)
    actual = lsh_candidate_pairs(banded, k=8, rows_per_band=2).count()
    assert ub >= actual
    # degenerate: constant band hashes → every doc in one bucket per band
    degen = banded
    for b in range(4):
        degen = degen.withColumn(f"band_{b}", F.lit("same"))
    n = docs.count()
    ub_degen = candidate_pair_bound(degen, k=8, rows_per_band=2)
    assert ub_degen == 4 * n * (n - 1) // 2  # 4 bands × C(n,2)
    # the gate would correctly refuse to broadcast at a tight bound
    assert ub_degen > 1000
    docs.unpersist()


def test_simhash_close_for_near_dups_far_for_random(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(100)
    words = F.split("text", " ")
    mutated = docs.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1)))).alias("text"),
    )
    sims = simhash(
        docs.unionByName(mutated).withColumn("words", F.split("text", " ")), bits=16
    ).select("doc_id", "simhash")
    a = sims.where(F.col("doc_id") < 50000).alias("a")
    b = sims.where(F.col("doc_id") >= 50000).alias("b")
    paired = a.join(b, F.col("b.doc_id") - F.col("a.doc_id") == 50000).select(
        F.bit_count(
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
        ).alias("hamming")
    )
    avg_near = paired.agg(F.avg("hamming")).collect()[0][0]
    rand = a.join(
        b, F.col("b.doc_id") - F.col("a.doc_id") == 50017
    ).select(
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming")
    )
    avg_rand = rand.agg(F.avg("hamming")).collect()[0][0]
    assert avg_near < avg_rand  # near-dups hash closer than random pairs
    assert avg_near <= 2.0


def test_ann_is_subset_quality_of_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = emb.where(F.col("vec_id") < 20)
    brute = brute_force_topk(emb, q, k=3)
    ann = ann_topk(emb, q, k=3, n_planes=4, dim=dim)
    # every ANN neighbor's cosine is <= the brute-force best for that query
    best = brute.where(F.col("rank") == 1).select(
        F.col("qid"), F.col("cos_r").alias("best_cos")
    )
    joined = ann.join(best, "qid")
    assert joined.where(F.col("cos_r") > F.col("best_cos")).count() == 0
    # and the bucket restriction actually prunes work
    buckets = lsh_bucket(emb, n_planes=4, dim=dim)
    sizes = buckets.groupBy("bucket").count()
    assert sizes.count() > 1  # corpus split across buckets


def test_simhash_near_pairs_equal_brute_force(spark, sf_dir):
    """Pigeonhole exactness: with 4 bands over 16 bits, every pair within
    Hamming distance ≤ 3 shares a band — so at max_hamming=2 the LSH pair
    set must EQUAL the all-pairs brute force, with zero all-pairs work."""
    from ganda_spark.operators.dedup import simhash_near_pairs

    docs = _docs(spark, sf_dir).limit(100)
    hashed = simhash(docs.withColumn("words", F.split("text", " ")), bits=16).select(
        "doc_id", "simhash"
    ).persist()
    lsh = simhash_near_pairs(hashed, bits=16, bands=4, max_hamming=2)

    a = hashed.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = hashed.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .where(F.col("hamming") <= 2)
        .select("id_a", "id_b", "hamming")
    )
    assert lsh.exceptAll(brute).isEmpty() and brute.exceptAll(lsh).isEmpty()
    hashed.unpersist()


def test_ivf_quality_and_probe_pruning(spark, sf_dir):
    """IVF (second scale path): results never beat brute force, probing
    more lists never hurts recall, and the inverted lists actually
    partition the corpus."""
    from ganda_spark.operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    brute = brute_force_topk(emb, q, k=3)
    ivf = ivf_topk(emb, q, k=3, n_centroids=16, nprobe=2)
    best = brute.where(F.col("rank") == 1).select(
        "qid", F.col("cos_r").alias("best_cos")
    )
    assert ivf.join(best, "qid").where(F.col("cos_r") > F.col("best_cos")).count() == 0

    # recall is monotone in nprobe: every nprobe=1 hit set ⊆ candidates at 2
    ivf1 = ivf_topk(emb, q, k=3, n_centroids=16, nprobe=1)
    overlap_1 = ivf1.join(brute, ["qid", "nid"], "left_semi").count()
    overlap_2 = ivf.join(brute, ["qid", "nid"], "left_semi").count()
    assert overlap_2 >= overlap_1

    # the coarse quantizer really partitions the corpus
    lists = ivf_assign(emb, emb.where(F.col("vec_id") < 16))
    assert lists.count() == emb.count()  # nprobe=1: one list per vector
    assert lists.select("list_id").distinct().count() > 1


def test_planted_identical_vector_is_rank1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    clone = emb.where(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clone)
    out = brute_force_topk(corpus, corpus.where(F.col("vec_id") == 0), k=1)
    row = out.collect()[0]
    assert row["nid"] == 99999 and row["cos_r"] == 1.0


def _mutated_batch(docs):
    """The planted-near-dup batch both incremental tests share: every 4th
    doc (long enough to survive shingling) copied to id+50000 with its
    last 3 words dropped."""
    words = F.split("text", " ")
    return docs.where((F.col("doc_id") % 4 == 0) & (F.size(words) > 20)).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 3)).alias("text"),
    )


def test_incremental_lsh_matches_full_lsh_cross_pairs(spark, sf_dir):
    """Incremental (batch-vs-corpus) candidate pairs must equal the full
    self-join pairs restricted to corpus×batch — same buckets, no corpus
    self-join in the plan."""
    from ganda_spark.operators.dedup import incremental_lsh_pairs

    docs = _docs(spark, sf_dir)
    batch = _mutated_batch(docs)
    corpus_banded = lsh_band_hashes(minhash_signatures(with_shingles(docs)))
    batch_banded = lsh_band_hashes(minhash_signatures(with_shingles(batch)))
    inc = {
        (r.id_a, r.id_b)
        for r in incremental_lsh_pairs(corpus_banded, batch_banded).collect()
    }
    full_banded = lsh_band_hashes(
        minhash_signatures(with_shingles(docs.unionByName(batch)))
    )
    full = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(full_banded).collect()
        if r.id_a < 50000 <= r.id_b
    }
    assert inc == full and len(inc) > 0


def test_incremental_lsh_finds_planted_batch_dups(spark, sf_dir):
    """Every planted near-dup in the batch is flagged against its corpus
    original with jaccard >= 0.5 (>=90% recall, same bar as the full
    LSH), and the pair bound dominates the actual pair count."""
    from ganda_spark.operators.dedup import (
        incremental_lsh_pairs,
        incremental_pair_bound,
    )

    raw = _docs(spark, sf_dir)
    docs = with_shingles(raw)
    batch = with_shingles(_mutated_batch(raw))
    n_planted = batch.count()
    corpus_banded = lsh_band_hashes(minhash_signatures(docs))
    batch_banded = lsh_band_hashes(minhash_signatures(batch))
    pairs = incremental_lsh_pairs(corpus_banded, batch_banded)
    ub = incremental_pair_bound(corpus_banded, batch_banded)
    assert pairs.count() <= ub
    verified = jaccard_verify(
        pairs, docs.unionByName(batch), broadcast_pairs=ub <= 5_000_000
    )
    hits = (
        verified.where(
            (F.col("jaccard") >= 0.5) & (F.col("id_b") == F.col("id_a") + 50000)
        )
        .count()
    )
    assert hits >= 0.9 * n_planted


def test_connected_components_transitive_and_flat_cache(spark):
    """A≈B≈C collapses to one cluster even though (A,C) is no pair; a
    cycle terminates; per-iteration label caches are released (flat
    executor cache). The fixpoint guard trips on nothing here."""
    from ganda_spark.operators.dedup import connected_components

    # two chains + one cycle + one isolated pair
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain: cluster 1 of size 4
        (10, 11), (11, 12), (12, 10),     # cycle: cluster 10 of size 3
        (20, 21),                         # pair: cluster 20
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    cc = connected_components(pairs)
    got = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    cc.unpersist()  # no-op: the result reads the spool, nothing is cached
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the internal edge cache is released before returning; the result
    # itself is a parquet read — ZERO persisted plans survive the call
    assert after <= before


def test_lsh_bucket_cap_keeps_planted_pairs(spark, sf_dir):
    """max_bucket (VERDICT r3 #5): a degenerate clique — 40 byte-identical
    docs, every band hash shared by all 40 — is dropped by the cap, while
    planted near-dup pairs (bucket size 2) survive untouched. Recall on
    real near-dups is unaffected because their buckets are small; the cap
    only sheds buckets that carry no discrimination."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    words = F.split("text", " ")
    mutated = docs.where((F.col("doc_id") % 4 == 0) & (F.size(words) > 20)).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 3)).alias("text"),
    )
    clique = spark.range(40).select(
        (F.col("id") + 90000).alias("doc_id"),
        F.lit("exactly the same boilerplate page text repeated everywhere").alias(
            "text"
        ),
    )
    corpus = with_shingles(
        docs.unionByName(mutated).unionByName(clique)
    ).persist()
    banded = lsh_band_hashes(minhash_signatures(corpus, k=8), k=8, rows_per_band=2)

    uncapped = lsh_candidate_pairs(banded, k=8, rows_per_band=2)
    capped = lsh_candidate_pairs(banded, k=8, rows_per_band=2, max_bucket=10)
    in_clique = (F.col("id_a") >= 90000) & (F.col("id_b") >= 90000)

    # the clique contributes its full 40·39/2 pair blow-up uncapped, zero capped
    assert uncapped.where(in_clique).count() == 40 * 39 // 2
    assert capped.where(in_clique).count() == 0
    # planted near-dup recall survives the cap: their buckets are small
    # (real text), so ≥95% of the pairs the uncapped search finds remain —
    # a pair vanishes only if EVERY band it shares got capped (measured:
    # cap=3 loses 4/48 on this corpus, cap=10 loses none)
    planted = F.col("id_b") - F.col("id_a") == 50000
    n_unc = uncapped.where(planted).count()
    n_cap = capped.where(planted).count()
    assert n_unc > 0 and n_cap >= n_unc * 0.95
    corpus.unpersist()


def test_connected_components_upstream_runs_once(spark):
    """The r3 ADVICE contract: `sym` is persisted, so iterations never
    re-execute the upstream pair pipeline (in q_dedup_clusters that is the
    LSH band self-join + jaccard verify), and the changed-count rides in
    the SAME action that materializes each iteration's cache. Proven with
    an accumulator on the pair source: it must tick exactly ONCE per edge
    (r7: the symmetrize + self-loop variants are exploded from a SINGLE
    scan of the pair pipeline — the 4-way union used to scan it 4×),
    regardless of how many label iterations run."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ganda_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    sc = spark.sparkContext
    acc = sc.accumulator(0)
    schema = StructType(
        [StructField("id_a", LongType()), StructField("id_b", LongType())]
    )

    def tick(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    pairs = spark.createDataFrame(edges, schema).coalesce(1).mapInPandas(tick, schema)
    stats: dict = {}
    cc = connected_components(pairs, stats_out=stats)
    n = cc.count()
    cc.unpersist()
    assert n == 6  # vertices {1,2,3,4,10,11}
    assert stats["iterations"] >= 2  # the chain needs >1 round — caching mattered
    # one init job + one spool-write per iteration (the changed-count is an
    # observation ON the write) — no convergence-probe action
    assert stats["actions"] == stats["iterations"] + 1
    # each edge scanned exactly ONCE (one explode pass at the init
    # materialization), then never again — iterations read the edge
    # CACHE, not the upstream pair pipeline
    assert acc.value == len(edges)


def test_keep_best_per_cluster(spark):
    """Curation keeper: exactly one doc per cluster (the longest text,
    ties → smallest id); docs in no cluster keep themselves."""
    from ganda_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [
            (1, "short"), (2, "the much longer version"), (3, "medium text"),
            (10, "same len a"), (11, "same len b"),
            (99, "a singleton nobody duplicated"),
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    kept = {r.doc_id: r for r in keep_best_per_cluster(docs, clusters).collect()}
    assert set(kept) == {2, 10, 99}
    assert kept[2].cluster_id == 1 and kept[2].n_members == 3  # longest wins
    assert kept[10].cluster_id == 10  # equal lengths → smallest id
    assert kept[99].n_members == 1 and kept[99].cluster_id == 99  # singleton


def test_connected_components_shortcut_chain64(spark):
    """High-diameter proof: a 64-vertex chain has diameter 63, so plain
    min-label propagation cannot close it within 20 iterations (the
    fixpoint guard trips) — while the pointer-jump variant (label ←
    label[label], star-contraction family) doubles the frontier per round
    and converges in ~log2(diameter) rounds."""
    import pytest as _pytest

    from ganda_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 64)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(pairs, max_iters=20, shortcut=False)

    stats: dict = {}
    cc = connected_components(pairs, max_iters=20, shortcut=True, stats_out=stats)
    got = {r.doc_id: r.cluster_id for r in cc.collect()}
    cc.unpersist()
    assert got == {i: 1 for i in range(1, 65)}
    # reach doubles per round (r' = 2r + 1): 1,3,7,15,31,63 → 6 rounds
    # + 1 no-change round to detect the fixpoint
    assert stats["iterations"] <= 9


def test_ngram_jaccard_arithmetic(spark, sf_dir):
    """The standalone exact-Jaccard entry pins the verify arithmetic:
    bp value is exactly n_inter*1e4 // n_union on every planted pair."""
    import __spark_entry__ as entry

    rows = entry.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    assert rows  # planted pairs exist
    for row in rows:
        assert row.b_id == row.a_id + 100000
        assert row.n_inter <= row.n_union
        assert row.jaccard_bp == row.n_inter * 10000 // max(row.n_union, 1)
    # mutated copies drop <=3 trailing words: most pairs clear 0.5
    near = sum(1 for row in rows if row.is_near)
    assert near >= len(rows) * 3 // 4


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def _nudged(emb, offset=100_000):
    return emb.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + 0.001).otherwise(x),
        ).alias("embedding"),
    ).where(F.col("vec_id") % 10 == offset % 10)


def test_semantic_capped_guards_degenerate_and_keeps_planted(spark, sf_dir):
    """The r4 #1 scale guard, mirroring test_lsh_bucket_cap_keeps_planted_
    pairs: a 300-copy blob of one vector collapses into a single k-means
    list; the capped operator must (a) mark that list capped, (b) still
    flag every blob copy as a duplicate of the original via the O(n)
    code-group fallback — never the O(n²) pair scan — and (c) keep the
    exact verdicts for planted near-dups in normal-size lists."""
    from ganda_spark.operators.similarity import semantic_dedup_capped

    emb = _emb(spark, sf_dir)
    b3 = emb.where(F.col("vec_id") == 3).select("embedding")
    blob = (
        spark.range(1, 301)
        .crossJoin(b3)
        .select((F.col("id") + 200_000).alias("vec_id"), "embedding")
    )
    nudged = _nudged(emb.where(F.col("vec_id") % 10 == 0))
    corpus = emb.unionByName(nudged).unionByName(blob)
    with cache.scope():
        out = semantic_dedup_capped(
            corpus, n_centroids=16, iters=1, threshold_bp=9990, max_list=150,
            dim=64,
        )
        rows = {r.vec_id: r for r in out.collect()}
    blob_rows = [rows[i] for i in range(200_001, 200_301)]
    assert all(r.list_capped for r in blob_rows)
    assert all(r.is_semdup and r.dup_of == 3 for r in blob_rows)
    assert rows[3].dup_of == -1  # the original is the keeper
    # planted near-dups whose list escaped the cap keep exact verdicts
    uncapped_found = [
        rows[i]
        for i in rows
        if 100_000 <= i < 200_000 and not rows[i].list_capped
    ]
    assert uncapped_found and all(
        r.is_semdup and r.dup_of == r.vec_id - 100_000 for r in uncapped_found
    )


def test_semantic_capped_nocap_equals_uncapped(spark, sf_dir):
    """With max_list above every list size the guard is inert: verdicts
    equal the unguarded operator row-for-row (list_capped all false)."""
    from ganda_spark.operators.similarity import (
        localized_kmeans_centroids,
        semantic_dedup,
        semantic_dedup_capped,
    )

    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 200)
    corpus = emb.unionByName(_nudged(emb))
    cent = localized_kmeans_centroids(corpus, n_centroids=8, iters=1, dim=64)
    plain = semantic_dedup(corpus, threshold_bp=9990, centroids=cent)
    capped = semantic_dedup_capped(
        corpus, threshold_bp=9990, max_list=10**6, centroids=cent
    )
    key = lambda r: (r.vec_id, r.list_id, r.dup_of, r.is_semdup)  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, capped.collect()))
    assert not any(r.list_capped for r in capped.collect())


def test_semantic_incremental_equals_full_mode(spark, sf_dir):
    """Append-only ingest contract (all base ids < all batch ids) + a
    shared centroid table ⇒ incremental verdicts for the batch equal
    full-mode semantic_dedup on the union restricted to batch rows — and
    the corpus side never self-joins (the plan-shape point)."""
    from ganda_spark.operators.similarity import (
        localized_kmeans_centroids,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    base = _emb(spark, sf_dir)
    batch = _nudged(base)
    cent = localized_kmeans_centroids(base, n_centroids=16, iters=1, dim=64)
    full = (
        semantic_dedup(base.unionByName(batch), threshold_bp=9990, centroids=cent)
        .where(F.col("vec_id") >= 100_000)
    )
    inc = semantic_dedup_incremental(base, batch, threshold_bp=9990, centroids=cent)
    key = lambda r: (r.vec_id, r.list_id, r.dup_of, r.is_semdup)  # noqa: E731
    assert sorted(map(key, full.collect())) == sorted(map(key, inc.collect()))
    assert all(r.is_semdup for r in inc.collect())  # every planted copy found


def test_recall_report_bounds_and_determinism(spark, sf_dir):
    from ganda_spark.operators.similarity import recall_report

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 8)
    with cache.scope():
        rows = recall_report(emb, q, k=5, dim=64).collect()
    again = recall_report(emb, q, k=5, dim=64).collect()
    assert {r.method for r in rows} == {"lsh", "ivf", "quantized"}
    assert all(r.k == 5 and 0 <= r.recall_bp <= 10_000 for r in rows)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the quantized path re-ranks exactly within a generous candidate set:
    # its recall should be near-perfect on this corpus
    qz = next(r for r in rows if r.method == "quantized")
    assert qz.recall_bp >= 9000
