"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting. Pure Column
expressions (split/filter/aggregate/regexp) — codegen'd, no Python —
except embed_text, one Arrow map stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword tables for the n-gram-free heuristic.
# NOTE: quality_metrics keys its stopword_bp on STOPWORDS['en'] — this
# table is pinned by the quality oracles; lang_id uses the WIDER
# LANG_STOPWORDS below (r6, VERDICT r5 next #7).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}

# wider per-language tables for lang_id (Latin-script languages are told
# apart by stopword votes; overlapping function words simply vote for
# several languages and the deterministic tie order decides)
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
           "was", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "mit", "von", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "du", "pas",
           "pour", "que", "dans"),
    "es": ("el", "los", "las", "y", "es", "una", "no", "por", "con",
           "para", "como", "su"),
    "it": ("il", "lo", "e", "è", "di", "non", "per", "che", "sono",
           "della", "nel", "alla"),
    "pt": ("o", "os", "as", "é", "um", "uma", "não", "com", "mais", "ao",
           "são", "dos"),
    "nl": ("het", "een", "en", "van", "niet", "op", "voor", "met", "aan",
           "dat", "zijn", "ook"),
}

# Unicode-block script detection: non-Latin scripts identify a language
# (or language family) from CHARACTER counts alone — no stopwords needed.
# Ranges are written as literal characters inside a class so the SAME
# pattern string works in Java regex and RE2 (no \\u vs \\x{...} dialect
# split). Order below is the deterministic tie order.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "kana": ((0x3040, 0x30FF),),          # hiragana + katakana → ja
    "hangul": ((0xAC00, 0xD7AF),),        # → ko
    "han": ((0x4E00, 0x9FFF),),           # → zh (unless kana present)
    "cyr": ((0x0400, 0x04FF),),           # → ru
    "arab": ((0x0600, 0x06FF),),          # → ar
    "greek": ((0x0370, 0x03FF),),         # → el
    "heb": ((0x0590, 0x05FF),),           # → he
    "deva": ((0x0900, 0x097F),),          # → hi
    "thai": ((0x0E00, 0x0E7F),),          # → th
}

SCRIPT_LANG = {
    "han": "zh", "cyr": "ru", "arab": "ar", "greek": "el",
    "heb": "he", "deva": "hi", "thai": "th",
}


def script_class(name: str) -> str:
    """The regex character class for one script, literal-char form."""
    return "[" + "".join(
        f"{chr(lo)}-{chr(hi)}" for lo, hi in SCRIPT_RANGES[name]
    ) + "]"

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish pre-tokenizer split
FINGERPRINT_MOD = 1_000_000_007


def _hits(words_sql: str, stopset: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in stopset)
    return f"size(filter({words_sql}, w -> w IN ({quoted})))"


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-stage language guess (r6: script breadth, VERDICT r5 next #7).

    Stage 1 — Unicode-block SCRIPT detection (pure regexp character
    counts): when the dominant non-Latin script contributes at least a
    quarter of the Latin letter count (script_max·4 ≥ latin, script_max >
    0), the script decides — kana ⇒ ja, hangul ⇒ ko, then the argmax of
    han/cyr/arab/greek/heb/deva/thai in that deterministic order (kana
    outranks han because Japanese text mixes both).

    Stage 2 — Latin-script languages fall through to a stopword VOTE over
    LANG_STOPWORDS (7 languages, 12 words each); 'und' when nothing
    scores. Ties break by language name order (alphabetical, ascending —
    deterministic). All pure Column regexp/array ops, shuffle-free."""
    # EXPRESSION-TREE DISCIPLINE: every count appears ONCE, inside an
    # array of (count, priority, lang) structs, and winners are
    # lexicographic array_max — the argmax-aggregate idiom at the row
    # level. The naive form (chained whens over per-language columns)
    # references each count ~8×; CollapseProject inlines the regexp/split
    # subtree — with `text` itself an expression, e.g. in the curation
    # composition — into every reference, and the optimizer's plan copy
    # OOMs the driver at default heap (measured r6: curate_corpus died at
    # 1g with the chained form, runs in the vanilla session with this one).
    def _sc(name: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(script_class(name)), 0)
        ).cast("long")

    # 7 dimensional scripts, tie order = priority desc (han first)
    scripts7 = F.array(
        *[
            F.struct(
                _sc(n).alias("cnt"),
                F.lit(len(SCRIPT_LANG) - i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, (n, lang) in enumerate(SCRIPT_LANG.items())
        ]
    )
    best7 = F.array_max(scripts7)
    kana = _sc("kana")
    hangul = _sc("hangul")
    script_max = F.greatest(best7["cnt"], kana, hangul)
    script_guess = (
        F.when(kana > 0, F.lit("ja"))
        .when(hangul > 0, F.lit("ko"))
        .otherwise(best7["lang"])
    )
    latin = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]"), 0)
    ).cast("long")
    # stopword vote: (hits, -alphabetical_rank) max → most hits, ties to
    # the alphabetically first language — identical to the r1-r5 rule.
    # r7: the split is BOUND ONCE as a lambda variable (the ngram_col
    # lesson) — as a textual fragment it was re-evaluated once per
    # language struct (7× per row) in the interpreted filter HOFs.
    structs = ", ".join(
        f"named_struct('hits', CAST({_hits('w', LANG_STOPWORDS[lang])} AS BIGINT), "
        f"'nrank', {-i}, 'lang', '{lang}')"
        for i, lang in enumerate(sorted(LANG_STOPWORDS))
    )
    votes = F.expr(
        f"transform(array(split({text_col}, ' ')), w -> array({structs}))[0]"
    )
    bestv = F.array_max(votes)
    vote = F.when(bestv["hits"] > 0, bestv["lang"]).otherwise(F.lit("und"))
    guess = F.when(
        (script_max > 0) & (script_max * 4 >= latin), script_guess
    ).otherwise(vote)
    return df.withColumn("lang_guess", guess)


def duck_lang_id_sql(source: str = "documents") -> str:
    """DuckDB mirror of lang_id over `source(doc_id, text)` — generated
    from the SAME script/stopword tables so both engines stay in sync.
    Yields a full SELECT of (doc_id, lang_guess)."""
    sc_cols = ",\n    ".join(
        f"len(regexp_extract_all(text, '{script_class(n)}')) AS sc_{n}"
        for n in SCRIPT_RANGES
    )
    hit_cols = ",\n    ".join(
        "len([x for x in words if x IN ("
        + ", ".join("'" + w.replace("'", "''") + "'" for w in stops)
        + f")]) AS h_{lang}"
        for lang, stops in LANG_STOPWORDS.items()
    )
    smax = "greatest(" + ", ".join(f"sc_{n}" for n in SCRIPT_RANGES) + ")"
    script_case = (
        "CASE WHEN sc_kana > 0 THEN 'ja' WHEN sc_hangul > 0 THEN 'ko' "
        + " ".join(
            f"WHEN sc_{n} = {smax} THEN '{lang}'"
            for n, lang in SCRIPT_LANG.items()
        )
        + " END"
    )
    hmax = "greatest(" + ", ".join(f"h_{la}" for la in LANG_STOPWORDS) + ")"
    vote_case = (
        f"CASE WHEN {hmax} = 0 THEN 'und' "
        + " ".join(
            f"WHEN h_{la} = {hmax} THEN '{la}'"
            for la in sorted(LANG_STOPWORDS)
        )
        + " END"
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN {smax} > 0 AND {smax} * 4 >=
                 len(regexp_extract_all(text, '[A-Za-z]'))
            THEN {script_case} ELSE {vote_case} END AS lang_guess
FROM (
  SELECT doc_id, text, string_split(text, ' ') AS words,
    {sc_cols},
    {hit_cols}
  FROM {source}
)
"""


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / word-length / stopword-ratio quality facets + a composite
    keep-score. Ratios are integer BASIS POINTS (×10⁴, floor) — float
    round() is rounding-mode trapdoor territory across engines (Spark
    HALF_UPs the decimal rendering, C-family rounds the binary double), so
    scores stay in exact integer arithmetic end-to-end."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    avg_word_len_bp = F.floor(
        (n_chars - (n_words - 1)) * 10_000 / n_words
    ).cast("long")
    en_hits = F.expr(_hits(f"split({text_col}, ' ')", STOPWORDS["en"])).cast("long")
    stopword_bp = F.floor(en_hits * 10_000 / n_words).cast("long")
    score_bp = (
        F.floor(F.least(n_words * 100, F.lit(10_000)) / 2)
        + F.floor(F.least(stopword_bp * 5, F.lit(10_000)) / 2)
    ).cast("long")
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_chars_calc", n_chars)
        .withColumn("avg_word_len_bp", avg_word_len_bp)
        .withColumn("stopword_bp", stopword_bp)
        .withColumn("quality_score_bp", score_bp)
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    ws = F.size(F.split(F.col(text_col), " "))
    re_tokens = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)
    )
    return df.withColumn("n_ws_tokens", ws.cast("long")).withColumn(
        "n_re_tokens", re_tokens.cast("long")
    )


EMBED_DIMS = 8


def embed_text(
    df: DataFrame, text_col: str = "text", dims: int = EMBED_DIMS
) -> DataFrame:
    """Feature-extraction stub: a hash-projection bag-of-words embedding —
    dim j = mean over words of (byte_j(salted md5(w)) − 127.5). The cheap
    deterministic stand-in for a learned text encoder: preserves bag-of-
    words similarity (near-duplicate docs land close in cosine), md5-derived
    so DuckDB reproduces it bit-for-bit.

    Adds: embedding array<double> (centered means) and embedding_bp
    array<bigint> (exact integer basis points, the cross-engine-stable
    oracle form: floor(sum·10⁴/n) − 1 275 000).

    ONE Arrow map stage (guide §4.2): each task md5-hashes every DISTINCT
    word once per salt (hashlib, cached across batches; 6 bytes per
    48-bit hash), per-row byte sums are order-free int64 NumPy adds — an
    interpreted fold form measured ~11 s for 60k rows at the 10× bench.
    Bit-identical to the Catalyst fold in tests/reference/catalyst.py
    (test-pinned exceptAll-empty both ways):
      * sum_j exact integer (matches the sequential long fold);
      * embedding[j] = (sum_j − 127.5·n)/n — int64→double conversions
        exact below 2^53, one multiply/subtract/divide per element in
        the same order;
      * embedding_bp[j] = sum_j·10⁴ div n − 1 275 000 — non-negative
        operands, so floor == Spark's truncating div;
      * NULL text yields arrays of NULL elements (the fold-over-NULL
        shape), split(' ') matches Python str.split(' ') including the
        [''] result for empty text.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    n_salts = (dims + 5) // 6
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("embedding", ArrayType(DoubleType()), True),
            StructField("embedding_bp", ArrayType(LongType()), True),
        ]
    )
    cols = df.columns

    def fn(it):
        import hashlib

        import numpy as np

        vocab: dict = {}
        byte_rows: list = []

        def code(w):
            c = vocab.get(w)
            if c is None:
                c = len(vocab)
                vocab[w] = c
                vals = []
                for s in range(n_salts):
                    h = int(
                        hashlib.md5(f"{s}:{w}".encode("utf-8")).hexdigest()[:12],
                        16,
                    )
                    for b in range(6):
                        vals.append((h >> (8 * b)) & 255)
                byte_rows.append(vals[:dims])
            return c

        for pdf in it:
            texts = pdf[text_col].tolist()
            idx_rows = []
            for t in texts:
                if t is None:
                    idx_rows.append(None)
                else:
                    ws = t.split(" ")
                    idx_rows.append(
                        np.fromiter(
                            (code(w) for w in ws), dtype=np.int64, count=len(ws)
                        )
                    )
            B = np.array(byte_rows, dtype=np.int64).reshape(len(byte_rows), dims)
            embs, bps = [], []
            for idx in idx_rows:
                if idx is None:
                    embs.append([None] * dims)
                    bps.append([None] * dims)
                    continue
                n = len(idx)
                S = B[idx].sum(axis=0)  # exact: integer, order-free
                embs.append(((S - 127.5 * n) / n).tolist())
                bps.append((S * 10000 // n - 1275000).tolist())
            out = pdf.copy()
            out["embedding"] = embs
            out["embedding_bp"] = bps
            yield out

    return df.mapInPandas(fn, schema).select(
        *cols, "embedding", "embedding_bp"
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    top_bigram_max_bp: int = 2000,
    dup_trigram_max_bp: int = 3000,
    min_gate_words: int = 8,
) -> DataFrame:
    """Gopher/C4-family repetition filters (Rae et al. 2021 §A1.1: a page
    is discarded when too much of it is the same n-gram repeated): per-doc
    duplicate-word fraction, most-frequent-bigram coverage, duplicated-
    trigram fraction — integer BASIS POINTS like quality_metrics, so the
    gate is engine-exact.

    All pure Column expressions over the word array — a shuffle-FREE
    projection (contrast explode+groupBy per n-gram, which would shuffle
    |corpus|·|doc| rows at 100 TB). The top-bigram scan is O(u·n) per doc
    (u = distinct bigrams) via filter-inside-transform; documents are
    bounded by the 1 MB ingest guard, so the quadratic term is capped and
    stays inside codegen.

    keep_repetition = top_bigram_bp ≤ top_bigram_max_bp AND
    dup_trigram_bp ≤ dup_trigram_max_bp (defaults: 20% top-bigram
    coverage, 30% duplicated trigrams — the Gopher-table neighborhood).
    The bp columns report the TRUE fractions even for tiny docs (a
    2-word doc's single bigram covers 100%), but docs under
    min_gate_words pass the gate unconditionally: with a handful of
    n-grams the fraction has no evidential weight, and Gopher likewise
    scopes repetition filters to documents of meaningful length.
    Docs with no bigrams/trigrams at all score 0."""
    w = f"split({text_col}, ' ')"
    bg = f"zip_with(slice({w}, 1, size({w}) - 1), slice({w}, 2, size({w}) - 1), (a, b) -> concat(a, ' ', b))"
    # trigram k = word[k] + ' ' + bigram[k+1]
    tg = (
        f"zip_with(slice({w}, 1, size({w}) - 2), slice({bg}, 2, size({w}) - 2), "
        f"(a, p) -> concat(a, ' ', p))"
    )
    dup_word = (
        f"CASE WHEN size({w}) > 0 THEN "
        f"(size({w}) - size(array_distinct({w}))) * 10000 DIV size({w}) "
        f"ELSE 0 END"
    )
    top_bigram = (
        f"CASE WHEN size({w}) >= 2 THEN "
        f"array_max(transform(array_distinct({bg}), "
        f"x -> size(filter({bg}, y -> y = x)))) * 10000 DIV size({bg}) "
        f"ELSE 0 END"
    )
    dup_trigram = (
        f"CASE WHEN size({w}) >= 3 THEN "
        f"(size({tg}) - size(array_distinct({tg}))) * 10000 DIV size({tg}) "
        f"ELSE 0 END"
    )
    out = (
        df.withColumn("dup_word_bp", F.expr(dup_word).cast("long"))
        .withColumn("top_bigram_bp", F.expr(top_bigram).cast("long"))
        .withColumn("dup_trigram_bp", F.expr(dup_trigram).cast("long"))
    )
    return out.withColumn(
        "keep_repetition",
        (F.expr(f"size({w})") < min_gate_words)
        | (
            (F.col("top_bigram_bp") <= top_bigram_max_bp)
            & (F.col("dup_trigram_bp") <= dup_trigram_max_bp)
        ),
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows (training-sequence /
    RAG chunking): chunk k covers words [k·stride+1, k·stride+window]; a
    doc of ≤ window words is one chunk; the last chunk may be short.
    Overlap = window − stride tokens of context carried across chunks.

    explode(sequence) over a per-row chunk count — a projection, NO
    shuffle: chunk rows are born on the partition that holds the parent
    doc, so downstream per-chunk ops start co-located with the document.

    Adds: chunk_id (0-based), chunk_text, n_chunk_tokens.
    """
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    w = f"split({text_col}, ' ')"
    n_chunks = (
        f"CASE WHEN size({w}) <= {window} THEN 1 "
        f"ELSE 1 + (size({w}) - {window} + {stride} - 1) DIV {stride} END"
    )
    out = df.withColumn(
        "chunk_id", F.explode(F.expr(f"sequence(0, {n_chunks} - 1)"))
    ).withColumn(
        "chunk_text",
        F.expr(f"array_join(slice({w}, chunk_id * {stride} + 1, {window}), ' ')"),
    )
    return out.withColumn(
        "chunk_id", F.col("chunk_id").cast("long")
    ).withColumn(
        "n_chunk_tokens",
        F.size(F.split(F.col("chunk_text"), " ")).cast("long"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-dependent rolling fingerprint: Σ_k h32(word_k)·(((k-1)%31)+1)
    mod p — position-sensitive (a permuted document fingerprints
    differently), md5-derived so external oracles reproduce it."""
    h32 = "CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)"
    expr = (
        f"aggregate(zip_with(split({text_col}, ' '), "
        f"sequence(1, size(split({text_col}, ' '))), (w, k) -> "
        f"{h32} * (((k - 1) % 31) + 1)), 0L, (acc, x) -> acc + x) "
        f"% {FINGERPRINT_MOD}"
    )
    return df.withColumn("fingerprint", F.expr(expr))
