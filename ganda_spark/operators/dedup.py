"""Document deduplication for training-data pipelines — exact, MinHash+LSH,
SimHash, n-gram Jaccard. (North-rule addition; the reference's only dedup
stance is "uniqueness is the upstream pipe's job", README.md:28-30.)

Scale posture (100 TB corpus):
  * Shingling is a per-row array expression and minhashing one Arrow map
    stage — NO explode, no shuffle; a signature is k BIGINTs per doc.
  * The only shuffle is the LSH band group-join: keyed on (band, band_hash),
    candidate pairs are generated inside buckets — |bucket|² stays tiny when
    bands/rows are tuned (and AQE skew-split covers degenerate buckets).
  * Exact verify (Jaccard) runs only on candidates — the classic
    MinHash-LSH contract: no all-pairs pass anywhere.

Hashes are md5-derived (hex→int) so external oracles (DuckDB) reproduce
them bit-for-bit; swap xxhash64 in for production speed if oracle parity
stops mattering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ganda_spark import cache

MD5_HEX_CHARS = 12  # 48-bit hash values — sums of thousands still fit BIGINT


def md5_int(col_sql: str, prefix: str = "") -> str:
    """SQL fragment (Spark dialect): 48-bit int from md5."""
    inner = f"concat('{prefix}', {col_sql})" if prefix else col_sql
    return f"CAST(conv(substr(md5({inner}), 1, {MD5_HEX_CHARS}), 16, 10) AS BIGINT)"


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_expr(words_sql: str = "words", n: int = 3) -> str:
    """Word n-gram shingles as a Spark SQL array expression (0-based
    element access; empty when the doc is shorter than n)."""
    parts = " , ' ', ".join([f"{words_sql}[i + {j}]" for j in range(n)])
    return (
        f"CASE WHEN size({words_sql}) >= {n} THEN "
        f"transform(sequence(0, size({words_sql}) - {n}), "
        f"i -> concat({parts})) ELSE array() END"
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    return df.withColumn("words", words_col(F.col(text_col))).withColumn(
        "shingles", F.expr(shingles_expr("words", n))
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one shuffle on the 128-bit content hash.
    Returns (text_hash, n_docs, keep_id) — keeper = min id."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Universal-hash family for minhash: sig_s = min over shingles of
# (A[s]·h1 + B[s]·h2 + C[s]) mod P, with h1/h2 two INDEPENDENT 48-bit
# halves of a SINGLE md5 per shingle (hex chars 1-12 and 13-24 of the
# digest), each reduced mod P. One md5 per shingle instead of k (the md5
# is ~all the cost of the signature stage; the mixes are integer arithmetic).
# Two independent base hashes matter: with one base value, a base-hash
# collision between two shingles would conflate them under ALL k
# functions simultaneously (correlated minhash error); requiring both
# 48-bit halves to collide pushes that to ~2^-62 per pair. P Mersenne
# prime 2^31−1; A,B < 2^27 keep each product < 2^58 and the inner pmods
# keep every intermediate exact in BIGINT on both Spark (ANSI mode) and
# DuckDB, so the oracle mirrors the arithmetic verbatim.
MINHASH_P = (1 << 31) - 1
MINHASH_A = (1299709, 15485863, 32452843, 49979687,
             67867967, 86028121, 104395301, 122949823)
MINHASH_B = (104729, 1299721, 15485867, 32452867,
             49979693, 67867979, 86028157, 122949829)
MINHASH_C = (15486041, 32452919, 49979801, 67868071,
             86028221, 104395361, 122949899, 1299827)


def minhash_signatures(
    df: DataFrame, k: int = 8, shingle_col: str = "shingles"
) -> DataFrame:
    """k min-hashes per doc (sig_0..sig_{k-1}), zero shuffles: the min over
    the doc's shingles of k pairwise-independent mixes of ONE md5 per
    shingle, as one Arrow map stage (guide §4.2). Each task md5-hashes
    every DISTINCT shingle once (hashlib, cached across batches —
    near-dup corpora repeat shingles heavily) and precomputes its k mixed
    values; per row the signature is a NumPy column-min over the gathered
    mix rows. An interpreted fold pays ~2 µs of lambda per element across
    k+3 higher-order passes per row (~6 ms/row-core on 300-shingle docs).

    EXACT, and equal to the Catalyst fold in tests/reference/catalyst.py
    (test-pinned): h1/h2 = hexdigest[:12] / [12:24] mod P, the mix is
    (A·h1 mod P + B·h2 mod P + C) mod P — products < 2^58, int64-safe —
    and min over int64 is order-free. NULL and EMPTY shingle arrays both
    yield NULL signatures. NULL elements inside the array are undefined
    input (hashlib raises)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    assert k <= len(MINHASH_A)
    mix_consts = [(MINHASH_A[s], MINHASH_B[s], MINHASH_C[s]) for s in range(k)]
    schema = StructType(
        list(df.schema.fields)
        + [StructField(f"sig_{s}", LongType(), True) for s in range(k)]
    )
    cols = df.columns

    def fn(it):
        import hashlib

        import numpy as np

        vocab: dict = {}
        mix_rows: list = []

        def code(sh):
            c = vocab.get(sh)
            if c is None:
                c = len(vocab)
                vocab[sh] = c
                d = hashlib.md5(sh.encode("utf-8")).hexdigest()
                h1 = int(d[:12], 16) % MINHASH_P
                h2 = int(d[12:24], 16) % MINHASH_P
                mix_rows.append(
                    [
                        (a * h1 % MINHASH_P + b * h2 % MINHASH_P + c0)
                        % MINHASH_P
                        for a, b, c0 in mix_consts
                    ]
                )
            return c

        for pdf in it:
            arrs = pdf[shingle_col].tolist()
            idx_rows = []
            for arr in arrs:
                if arr is None or len(arr) == 0:
                    idx_rows.append(None)
                else:
                    idx_rows.append(
                        np.fromiter(
                            (code(sh) for sh in arr),
                            dtype=np.int64,
                            count=len(arr),
                        )
                    )
            M = np.array(mix_rows, dtype=np.int64).reshape(len(mix_rows), k)
            sigs: list[list] = [[] for _ in range(k)]
            for idx in idx_rows:
                if idx is None:
                    for s in range(k):
                        sigs[s].append(None)
                else:
                    mins = M[idx].min(axis=0)
                    for s in range(k):
                        sigs[s].append(int(mins[s]))
            out = pdf.copy()
            for s in range(k):
                out[f"sig_{s}"] = pd.Series(sigs[s], dtype=object)
            yield out

    return df.mapInPandas(fn, schema).select(
        *cols, *[f"sig_{s}" for s in range(k)]
    )


def lsh_band_hashes(sigs: DataFrame, k: int = 8, rows_per_band: int = 2) -> DataFrame:
    """Band hash = md5 of the concatenated signature slice. Docs sharing a
    band hash are candidate duplicates."""
    n_bands = k // rows_per_band
    out = sigs
    for b in range(n_bands):
        cols = [f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)]
        concat = F.concat_ws("_", *[F.col(c).cast("string") for c in cols])
        out = out.withColumn(f"band_{b}", F.md5(concat.cast("binary")))
    return out


def band_long(
    banded: DataFrame,
    id_col: str | None = "doc_id",
    k: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Long-form band table (band, bh[, id_col]) from the wide band_<b>
    columns — the join key every LSH pair search shuffles on. id_col=None
    drops the id (histogram/bound callers need only the bucket key)."""
    n_bands = k // rows_per_band
    cols = lambda b: (  # noqa: E731
        [F.lit(b).alias("band"), F.col(f"band_{b}").alias("bh")]
        + ([F.col(id_col)] if id_col else [])
    )
    out = banded.select(*cols(0))
    for b in range(1, n_bands):
        out = out.unionByName(banded.select(*cols(b)))
    return out


def lsh_candidate_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    rows_per_band: int = 2,
    broadcast_bands: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Self-join inside band buckets → distinct (id_a < id_b) pairs. The
    join key (band index, band hash) is the ONLY shuffle; bucket sizes are
    the skew knob (AQE skew-join splits hot buckets).

    broadcast_bands=True hints one side broadcast — right when the band
    table (n_docs × n_bands × 40 B) fits an executor; at 10^10 docs leave
    False and let the shuffle + AQE handle it.

    max_bucket: the production guard against DEGENERATE buckets (VERDICT
    r3 #5): a band hash shared by c docs yields c·(c−1)/2 pairs, so one
    near-universal shingle pattern (boilerplate pages, empty docs) turns
    the bucket join into O(n²). Buckets with c > max_bucket carry no
    discrimination — every member pairs with every member — and the
    standard mitigation is to DROP them before pair generation: true
    near-dups still meet in their non-degenerate bands (recall pinned by
    test_lsh_bucket_cap_keeps_planted_pairs). Implemented as a histogram
    + left-semi join on the SAME (band, bh) key the pair join shuffles on,
    so the exchange is reused, not added."""
    all_bands = band_long(banded, id_col, k, rows_per_band)
    if max_bucket is not None:
        keep = (
            all_bands.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") <= max_bucket)
            .select("band", "bh")
        )
        all_bands = all_bands.join(keep, ["band", "bh"], "left_semi")
    a = all_bands.alias("a")
    bb = (F.broadcast(all_bands) if broadcast_bands else all_bands).alias("b")
    pairs = (
        a.join(bb, ["band", "bh"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def lsh_verified_pairs(
    banded: DataFrame,
    docs_with_shingles: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    dense_pairs_per_bucket: float = 8.0,
) -> DataFrame:
    """Candidate generation + exact Jaccard verify FUSED per LSH bucket —
    the guide-§8 move for the first-build dedup shape: the two-step
    `lsh_candidate_pairs` → `jaccard_verify` flow materialized every
    candidate pair CARRYING both shingle arrays (the verify's second join
    sort-merge-shuffled ~KB of array payload per pair — measured 4.5 GB /
    41 s for 726k pairs at the 10× bench), where the pairs themselves
    derive from shared buckets holding only c arrays for c·(c−1)/2 pairs.
    Here the shingle arrays travel ONCE per bucket membership (n_docs ×
    n_bands rows — corpus-linear, never pair-quadratic), each (band, bh)
    group computes its within-bucket pairs' intersection/union SIZES with
    C-speed set ops in one Arrow pass, and only narrow
    (id_a, id_b, _i, _u) rows reach the cross-bucket distinct. Division
    and round stay in Catalyst, so every output double (0/0 ANSI raise
    included) is the identical expression to jaccard_verify's.

    Output: distinct (id_a < id_b, jaccard) — row-identical to
    `jaccard_verify(lsh_candidate_pairs(banded, ...), docs, ...)`
    (pinned by test): a pair sharing ≥1 band hash appears exactly once,
    and _i/_u are deterministic per pair so the 4-column distinct
    collapses multi-bucket duplicates. NULL shingle docs yield NULL
    sizes ⇒ NULL jaccard, as the join form does.

    max_bucket: the same degenerate-bucket cap as lsh_candidate_pairs
    (histogram + semi-join on the bucket key; dropped buckets generate
    no pairs).

    Skew posture: one bucket = one task (the join form had the same
    per-bucket skew at the exchange); the cap is the production guard.

    Id ordering: pairs are emitted with id_a < id_b under PYTHON's
    comparison — identical to Spark's for numeric ids and for ASCII
    strings (Spark compares UTF8 bytes, Python code points; these agree
    on ASCII). Non-ASCII string ids should map to a surrogate first.

    ROUTING (plan-only, measured §1): the fused grouped pass pays a
    per-GROUP Arrow overhead, so it wins when buckets are dense (the
    self-join corpora: ~60 pair-slots/bucket → 41 s → 9 s) and loses
    when the corpus shatters into tiny buckets (the span corpus: 233k
    buckets at ~0.4 pair-slots each → 26 s vs 3.8 s two-step). One
    histogram pass (the same key the shuffle uses) drops singleton
    buckets — they generate nothing — and routes: pair-slots/bucket ≥
    `dense_pairs_per_bucket` takes the grouped pass, below it the
    classic pairs→verify join runs on the pre-filtered bands (identical
    pair set; verify broadcast-gated on the same bound). Both branches
    are row-identical (test-pinned).
    """
    import pandas as pd

    all_bands = band_long(banded, id_col, k, rows_per_band)
    hist = all_bands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("_c"))
    if max_bucket is not None:
        hist = hist.where(F.col("_c") <= max_bucket)
    hist = hist.where(F.col("_c") >= 2)
    stats = hist.agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum(F.col("_c").cast("double") * (F.col("_c") - 1) / 2).alias("_ub"),
    ).collect()[0]
    n_buckets = int(stats["_nb"] or 0)
    pair_bound = float(stats["_ub"] or 0.0)
    all_bands = all_bands.join(
        hist.select("band", "bh"), ["band", "bh"], "left_semi"
    )
    sh = docs_with_shingles.select(
        F.col(id_col), F.array_distinct("shingles").alias("_sh")
    )
    if n_buckets == 0 or pair_bound < dense_pairs_per_bucket * n_buckets:
        pairs = (
            all_bands.alias("a")
            .join(all_bands.alias("b"), ["band", "bh"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        return jaccard_verify(
            pairs,
            docs_with_shingles,
            id_col=id_col,
            broadcast_pairs=pair_bound <= 5_000_000,
        )
    grouped = all_bands.join(sh, id_col)

    id_type = dict(grouped.dtypes)[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, _i int, _u int"

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].tolist()
        arrs = pdf["_sh"].tolist()
        order = sorted(range(len(ids)), key=lambda r: ids[r])
        sets = [
            None if arrs[r] is None else frozenset(arrs[r]) for r in order
        ]
        sids = [ids[r] for r in order]
        oa, ob, oi, ou = [], [], [], []
        for x in range(len(sids)):
            sa = sets[x]
            for y in range(x + 1, len(sids)):
                if sids[x] == sids[y]:
                    continue  # same doc listed twice in one bucket
                sb = sets[y]
                if sa is None or sb is None:
                    inter = un = None
                else:
                    inter = len(sa & sb)
                    un = len(sa) + len(sb) - inter
                oa.append(sids[x])
                ob.append(sids[y])
                oi.append(inter)
                ou.append(un)
        return pd.DataFrame({"id_a": oa, "id_b": ob, "_i": oi, "_u": ou})

    counted = (
        grouped.groupBy("band", "bh")
        .applyInPandas(bucket_pairs, out_schema)
        .distinct()
    )
    return counted.select(
        "id_a",
        "id_b",
        F.round(F.col("_i") / F.col("_u"), 4).alias("jaccard"),
    )


def _should_broadcast_pairs(pairs: DataFrame, max_broadcast_pairs: int) -> bool:
    """True when the candidate-pair set is provably under the broadcast
    bound (limit+count terminates early past the bound, so the probe is
    cheap even for degenerate O(n²) pair sets). NOTE: this materializes the
    pair subplan once — callers on the hot path should prefer
    candidate_pair_bound (no self-join) and pass broadcast_pairs
    explicitly; this probe remains the safe default for ad-hoc callers."""
    return pairs.limit(max_broadcast_pairs + 1).count() <= max_broadcast_pairs


def candidate_pair_bound(
    banded: DataFrame, k: int = 8, rows_per_band: int = 2
) -> int:
    """Upper bound on the LSH candidate-pair count WITHOUT computing the
    pairs: Σ over (band, band_hash) buckets of c·(c−1)/2 — every candidate
    pair co-occurs in ≥1 bucket, so distinct pairs ≤ this sum. One
    aggregate over the band table (n_docs × n_bands narrow rows), no
    self-join, no distinct — at sf0.1 ~100× cheaper than materializing the
    pair set just to count it (the r2 probe job, VERDICT r2 bench
    regression root cause). Sums in DOUBLE: a bound needs magnitude, not
    exactness, and c² on a degenerate 10^10-doc bucket overflows BIGINT."""
    allb = band_long(banded, None, k, rows_per_band)
    row = (
        allb.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("ub"))
        .collect()[0]
    )
    ub = row["ub"] or 0.0
    return int(min(ub, float(1 << 62)))


def incremental_lsh_pairs(
    banded_base: DataFrame,
    banded_new: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    rows_per_band: int = 2,
    broadcast_new: bool = True,
) -> DataFrame:
    """Candidate pairs between an incoming batch and an EXISTING corpus —
    the nightly-ingest dedup shape at 100 TB: the corpus signature/band
    table is written once (k×8 B + bands per doc) and never rescanned from
    text; each new batch joins its bands against it. No corpus self-join
    exists anywhere in the plan, so the cost is one corpus band scan per
    batch — with broadcast_new=True (the normal case: the batch is orders
    of magnitude smaller than the corpus) the corpus side never shuffles
    at all.

    Returns distinct (id_a = corpus doc, id_b = new doc) pairs sharing at
    least one band hash. New-vs-new duplicates are the ordinary
    lsh_candidate_pairs over the batch alone (tiny); run both for full
    coverage."""
    base_b = band_long(banded_base, id_col, k, rows_per_band)
    new_b = band_long(banded_new, id_col, k, rows_per_band).withColumnRenamed(
        id_col, "_new_id"
    )
    nb = F.broadcast(new_b) if broadcast_new else new_b
    return (
        base_b.join(nb, ["band", "bh"])
        .where(F.col(id_col) != F.col("_new_id"))
        .select(F.col(id_col).alias("id_a"), F.col("_new_id").alias("id_b"))
        .distinct()
    )


def incremental_pair_bound(
    banded_base: DataFrame,
    banded_new: DataFrame,
    k: int = 8,
    rows_per_band: int = 2,
) -> int:
    """Upper bound on incremental candidate pairs without computing them:
    Σ over (band, bh) buckets of c_base·c_new — two narrow histograms
    joined on the bucket key (the new-side histogram is batch-sized, so
    the join broadcasts). Same role as candidate_pair_bound for the
    self-join case: gates the verify-stage broadcast; DOUBLE sums because
    a bound needs magnitude, not exactness."""
    hb = (
        band_long(banded_base, None, k, rows_per_band)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
    )
    hn = (
        band_long(banded_new, None, k, rows_per_band)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("double").alias("cn"))
    )
    row = (
        hb.join(F.broadcast(hn), ["band", "bh"])
        .agg(F.sum(F.col("cb") * F.col("cn")).alias("ub"))
        .collect()[0]
    )
    ub = row["ub"] or 0.0
    return int(min(ub, float(1 << 62)))


def _jaccard_pairs_local(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """Huge-pair verify core: the doc shingle sets are LOCALIZED once
    (bounded by the caller — doc-count/shingle-count gates), factorized
    driver-side to int codes (exact: string equality ⇔ code equality),
    and the O(n²)-class pair scan runs as mapInPandas over the NARROW
    (id_a, id_b) pair rows — C-speed set intersections instead of one
    interpreted array_intersect/array_union per joined pair, and the pair
    rows never carry the shingle arrays (the Catalyst fallback shipped
    both ~KB arrays per pair through the shuffle join: at the bench's
    degenerate 2M-pair stress that is ~GBs of row payload for ~32 MB of
    ids). Returns (id_a, id_b, _i, _u) — intersection / union SIZES;
    the caller divides+rounds in Catalyst so the arithmetic (including
    0/0 → NaN and missing-side NULL) is the identical expression.

    Precondition (same as the join form's sane use): ids unique in `sh`.
    Inner-join semantics preserved: pairs whose ids are absent are dropped.
    """
    import pandas as pd

    rows = sh.collect()
    vocab: dict[str, int] = {}
    sets: dict = {}
    for r in rows:
        arr = r["sh"]
        if arr is None:
            sets[r[0]] = None
            continue
        enc = []
        for s in arr:
            c = vocab.get(s)
            if c is None:
                c = len(vocab)
                vocab[s] = c
            enc.append(c)
        sets[r[0]] = frozenset(enc)
    del vocab
    bc = pairs.sparkSession.sparkContext.broadcast(sets)

    id_types = dict(pairs.dtypes)
    out_schema = (
        f"id_a {id_types['id_a']}, id_b {id_types['id_b']}, _i int, _u int"
    )

    def count_fn(it):
        local = bc.value
        missing = object()
        for pdf in it:
            ia_l = pdf["id_a"].tolist()
            ib_l = pdf["id_b"].tolist()
            oa, ob, oi, ou = [], [], [], []
            for ia, ib in zip(ia_l, ib_l):
                sa = local.get(ia, missing)
                sb = local.get(ib, missing)
                if sa is missing or sb is missing:
                    continue  # inner-join: absent doc drops the pair
                if sa is None or sb is None:
                    inter = None  # NULL shingles ⇒ NULL sizes ⇒ NULL jaccard
                    un = None
                else:
                    inter = len(sa & sb)
                    un = len(sa) + len(sb) - inter
                oa.append(ia)
                ob.append(ib)
                oi.append(inter)
                ou.append(un)
            yield pd.DataFrame({"id_a": oa, "id_b": ob, "_i": oi, "_u": ou})

    return pairs.select("id_a", "id_b").mapInPandas(count_fn, out_schema)


def jaccard_verify(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    id_col: str = "doc_id",
    max_broadcast_pairs: int = 5_000_000,
    broadcast_pairs: bool | None = None,
    max_local_docs: int = 100_000,
    max_local_shingles: int = 4_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (the verify stage).

    When the candidate set is small (well-tuned LSH bands) it is broadcast,
    so the wide shingle arrays never shuffle — two broadcast-hash joins.
    With DEGENERATE bands (every doc in one bucket) the pair set is O(n²);
    an unconditional broadcast OOMs the executors (VERDICT r1 caveat), and
    the r6 shuffle-join fallback paid one interpreted
    array_intersect/array_union per pair PLUS both shingle arrays as pair-
    row payload (guide §2.3/§4.2 — measured ~60 s on the bench's 2M-pair
    degenerate stress). r7: in the huge-pair regime the doc SIDE is orders
    of magnitude smaller than the pair set (2M pairs come from 2k docs),
    so when it fits the localization gates (`max_local_docs` docs /
    `max_local_shingles` total array elements — one bounded aggregate over
    the doc side) the shingle sets are localized once and the pair scan
    runs vectorized over narrow id rows (_jaccard_pairs_local); division
    and round stay in Catalyst, so every output double (incl. 0/0 → NaN)
    is the identical expression. Past the gates, the shuffle-join fallback
    is unchanged.

    broadcast_pairs: the gate decision, when the caller already knows it —
    pass `candidate_pair_bound(banded) <= max_broadcast_pairs` to avoid
    materializing the pair subplan twice. None ⇒ the limit+count probe.
    """
    sh = docs_with_shingles.select(
        F.col(id_col), F.array_distinct("shingles").alias("sh")
    )
    if broadcast_pairs is None:
        broadcast_pairs = _should_broadcast_pairs(pairs, max_broadcast_pairs)
    if not broadcast_pairs:
        stats = sh.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.size("sh"), F.lit(0))).alias("_e"),
        ).collect()[0]
        if (stats["_n"] or 0) <= max_local_docs and (
            stats["_e"] or 0
        ) <= max_local_shingles:
            counted = _jaccard_pairs_local(pairs, sh, id_col)
            return counted.select(
                "id_a",
                "id_b",
                F.round(F.col("_i") / F.col("_u"), 4).alias("jaccard"),
            )
    if broadcast_pairs:
        pairs = F.broadcast(pairs)
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(inter / union, 4).alias("jaccard"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    shortcut: bool = False,
    stats_out: dict | None = None,
    spool_dir: str | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS from the verified pair graph: (doc_id,
    cluster_id) where cluster_id = min doc id in the connected component —
    the step after LSH verify in a real dedup pipeline (keep one doc per
    cluster, not per pair; A≈B≈C must collapse to ONE keeper even when
    (A,C) was never a candidate pair).

    Min-label propagation: each iteration joins the symmetric edge list
    (PLUS a self-loop per vertex) with current labels, takes the
    per-vertex neighborhood min, and stops when no label changed. Cost
    model (verified by the job-count + accumulator tests):
      * the edge table is persisted ONCE up front, so iterations never
        re-execute the upstream pair pipeline (LSH band join + verify) —
        the r2-class re-run bug the r3 ADVICE flagged. The self-loop
        union is folded in BEFORE the persist: in this Spark build a
        Union ABOVE a cached Python-eval plan defeats InMemoryRelation
        substitution (measured — even `cached.union(unrelated)`
        re-executes the cached side), so iterations only ever JOIN
        against the cache, never union over it.
      * each iteration's labels are spooled to parquet and read back
        (the frontier loop's read-back-committed pattern,
        frontier_loop.py): per-iteration plans have CONSTANT size.
        Persist alone is not enough — it caches DATA, not the plan, and
        measured per-action cost grows super-linearly with nested
        cached-plan depth in this build (0.6 s → 5 s by iteration 11 on
        63 edges). At 10^10 edges the spool is also the durability story:
        a lost executor cannot force a restart of a long CC run.
      * the changed-vertex count rides ON the spool write via `observe`
        (a `_chg` flag summed as a query observation), so each iteration
        is exactly ONE job — no separate convergence-probe action.
      * the returned DataFrame reads the final spool — no lingering
        session caches (the edge cache is released before returning).

    Iterations needed = component diameter — near-dup components are tiny
    dense clusters, so the default converges in a couple of rounds
    (asserted against max_iters). For HIGH-diameter graphs pass
    `shortcut=True`: each iteration additionally pointer-jumps
    (label ← label[label], the hash-to-min / star-contraction move from
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14), so label frontiers DOUBLE per round and convergence is
    O(log diameter) — a 64-chain closes in ~7 rounds instead of 63, at
    the price of one extra self-join per round (wasted work on the dense
    tiny clusters LSH actually emits, hence not the default).

    spool_dir: where iteration snapshots land (a shared filesystem path
    on a real cluster). Defaults to a fresh local temp dir; only the
    final labels directory survives the call — intermediate iterations
    are deleted as soon as their successor is committed.

    stats_out: optional dict; receives {"iterations": n, "actions": n}
    so tests can pin the one-job-per-iteration contract.
    """
    import shutil
    import tempfile

    from pyspark.sql import Observation

    spark = pairs.sparkSession
    spool = spool_dir or tempfile.mkdtemp(prefix="ganda-cc-")
    # ONE persisted edge table: the symmetrized pairs PLUS a self-loop per
    # endpoint (duplicates are harmless under min-aggregation — no
    # distinct shuffle needed). The self-loops make the neighborhood min
    # include the vertex's own label, and the (u, u) rows carry the OLD
    # label through the agg.
    # r7 (guide §2.3): ONE scan of the pair pipeline — the 4-way union
    # re-executed the whole upstream (LSH band join + verify) once per
    # branch; explode emits the same 4 rows per pair from a single pass.
    with cache.scope():
        edges = cache.persist(
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                        F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                        F.struct(F.col(id_a).alias("u"), F.col(id_a).alias("v")),
                        F.struct(F.col(id_b).alias("u"), F.col(id_b).alias("v")),
                    )
                ).alias("_e")
            )
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
        )
        edges.count()  # materializes the edge cache (one job, ONE scan of pairs)
        # initial labels: each vertex labels itself — the self-loop rows are
        # exactly the vertex set (computed from the cache, used in iteration 1)
        labels = (
            edges.where(F.col("u") == F.col("v"))
            .select(F.col("u").alias("vid"), F.col("u").alias("label"))
            .distinct()
        )
        actions = 1
        iterations = 0
        prev_path: str | None = None
        final_path: str | None = None
        try:
            for _ in range(max_iters):
                iterations += 1
                # ONE reference to the previous labels: join edges(+self-loops),
                # then min(label) = new label and the self-loop row = old label
                tentative = (
                    edges.join(labels, F.col("v") == F.col("vid"))
                    .groupBy("u")
                    .agg(
                        F.min("label").alias("label"),
                        F.min(F.when(F.col("v") == F.col("u"), F.col("label"))).alias(
                            "_old"
                        ),
                    )
                )
                if shortcut:
                    # pointer jump: label ← min(label, label[label]); frontier
                    # doubles per round. The self-join doubles the PLAN too,
                    # but both sides root at the (constant-size) spool read.
                    jump = tentative.select(
                        F.col("u").alias("_jvid"), F.col("label").alias("_jlabel")
                    )
                    tentative = tentative.join(
                        jump, tentative["label"] == jump["_jvid"], "left"
                    ).select(
                        "u",
                        "_old",
                        F.least(
                            F.col("label"), F.coalesce(F.col("_jlabel"), F.col("label"))
                        ).alias("label"),
                    )
                new_labels = tentative.select(
                    F.col("u").alias("vid"),
                    "label",
                    (F.col("label") < F.col("_old")).cast("long").alias("_chg"),
                )
                obs = Observation()
                path = f"{spool}/labels_{iterations}"
                # ONE action: the spool write; the changed count rides as an
                # observation on the same query
                new_labels.observe(obs, F.sum("_chg").alias("chg")).write.mode(
                    "overwrite"
                ).parquet(path)
                changed = obs.get["chg"] or 0
                actions += 1
                if prev_path is not None:
                    shutil.rmtree(prev_path, ignore_errors=True)
                prev_path = path
                labels = spark.read.parquet(path).drop("_chg")
                if changed == 0:
                    final_path = path
                    break
            else:
                raise RuntimeError(
                    f"connected_components: no fixpoint in {max_iters} iters"
                )
        finally:
            if final_path is None and prev_path is not None:
                shutil.rmtree(prev_path, ignore_errors=True)
    if stats_out is not None:
        stats_out["iterations"] = iterations
        stats_out["actions"] = actions
    return spark.read.parquet(final_path).select(
        F.col("vid").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The curation KEEPER step a training-data pipeline runs after
    near-dup clustering: ONE document per cluster — the longest text
    (most complete version), ties broken by smallest id — and every
    unclustered document keeps itself (cluster_id = own id, n_members 1).

    Plan shape: one left join of the corpus against the (small) cluster
    label table, then a window keyed on cluster_id (never global). At
    100 TB the label table is the CC output — orders of magnitude
    smaller than the corpus — so the join broadcasts and the only
    shuffle is the per-cluster window exchange."""
    from pyspark.sql import Window

    labeled = (
        docs.join(
            clusters.select(F.col(id_col), F.col("cluster_id")), id_col, "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("text_len", F.length(text_col).cast("long"))
    )
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.col("text_len").desc(), F.col(id_col).asc())
    return (
        labeled.withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") == 1)
        .select(id_col, "cluster_id", "n_members", "text_len")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, bits: int = 16, words_sql: str = "words") -> DataFrame:
    """bits-wide SimHash over the word multiset: per bit, the sign of
    Σ ±1 across token hashes. ONE md5 per word: hash the token array once
    (transform), then fold the per-bit sums over the hash array — naive
    per-bit aggregates would inline the md5 into every bit expression
    (projection collapse) and hash each word 16×."""
    h_arr = f"transform({words_sql}, w -> {md5_int('w')})"
    # bit b set ⟺ Σ±1 ≥ 0 ⟺ 2·count_set ≥ n_words. The hashed array is a
    # named column so CollapseProject won't inline the (non-cheap) md5
    # transform into all `bits` consumers.
    hashed = df.withColumn("_hs", F.expr(h_arr))
    n = F.size(F.col(words_sql))
    sim = None
    for b in range(bits):
        cnt = F.expr(f"aggregate(_hs, 0L, (acc, h) -> acc + ((h >> {b}) & 1))")
        term = F.when(2 * cnt >= n, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return hashed.withColumn("simhash", sim.cast("long")).drop("_hs")


def simhash_near_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Hamming-LSH over SimHash values: slice the hash into `bands` equal
    bit-bands; two docs within Hamming distance < bands must share at least
    one band verbatim (pigeonhole), so the band equi-join finds every such
    pair with zero all-pairs work. Verify stage = bit_count(xor) ≤
    max_hamming on candidates only.

    Input: DataFrame with (id_col, simhash) — the output of simhash().
    The only shuffle keys on (band index, band value) — same skew posture
    as the MinHash LSH band join (AQE splits degenerate bands)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    slices = [
        hashed.select(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bv"),
            F.col(id_col),
            F.col("simhash"),
        )
        for b in range(bands)
    ]
    all_bands = slices[0]
    for x in slices[1:]:
        all_bands = all_bands.unionByName(x)
    a, b_ = all_bands.alias("a"), all_bands.alias("b")
    cand = (
        a.join(b_, ["band", "bv"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
