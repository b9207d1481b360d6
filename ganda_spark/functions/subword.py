"""Broadcast-vocab subword tokenizer (greedy longest-match wordpiece).

Whitespace/regex splits (functions/text.token_counts) under-count the
tokens a real BPE/wordpiece tokenizer produces, so packing and mixing
budgets keyed on them drift from training reality (VERDICT r5 next #6).
This module segments each word by GREEDY LONGEST-MATCH against a
deterministic vocabulary — the wordpiece algorithm (Wu et al. 2016,
arXiv:1609.08144 §4.1) with the vocab as data, so budgets approximate a
real tokenizer's counts while staying engine-reproducible.

Execution shape: the vocab rides in as a one-row broadcast DataFrame
(crossJoin against a single-row frame — a broadcast nested-loop join of
one row), so the fold's many vocab references share ONE array column
instead of inlining a literal per reference. The per-word segmentation is
a bounded aggregate() fold (the robots/JPEG fold trick): each hop matches
the longest vocab piece at the cursor (filter + array_max over the vocab
column) and advances by its length, or by one character (the unk/byte
fallback) when nothing matches. Everything is pure Column — zero Python,
zero shuffle; tokenization vanishes into the scan's codegen.

Cost note for 100 TB: the inline form pays O(|vocab| · len) string
compares per word OCCURRENCE. A production run over web text would
memoize by word TYPE first (explode → distinct words → fold per type →
broadcast join back — Zipf makes types ≪ occurrences); that variant adds
two narrow shuffles and is a 10-line composition of the same fold. The
inline default keeps the common path shuffle-free.

Words longer than `max_word` chars segment greedily for the first
`max_word` hops and estimate the tail at 4 chars/token (the BPE
rule-of-thumb), keeping the fold bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark import cache

# deterministic demo vocabulary: frequent English words, affixes and
# letter pairs + single letters/digits (the byte-fallback floor). Any
# real tokenizer vocab (BPE merges flattened to pieces) drops in here.
SUBWORD_VOCAB: tuple[str, ...] = tuple(
    sorted(
        {
            # words
            "the", "and", "for", "are", "was", "with", "that", "this",
            "from", "have", "not", "you", "all", "can", "will", "one",
            "data", "table", "value", "query", "part", "order", "line",
            "time", "key", "row", "scan", "fast", "slow", "small", "big",
            # prefixes
            "re", "un", "in", "de", "pre", "con", "com", "ex", "sub",
            "inter", "over", "under", "anti", "micro", "multi", "trans",
            "per", "pro", "dis", "non",
            # suffixes
            "ing", "tion", "sion", "ment", "ness", "able", "ible", "ous",
            "ful", "less", "ly", "ed", "es", "er", "est", "al", "ic",
            "ive", "ity", "ate", "ize", "ion", "ism", "ist",
            # common digrams
            "th", "he", "an", "en", "on", "at", "or", "st", "ar", "te",
            "ng", "se", "ha", "ou", "it", "is", "et", "om", "el", "ur",
            # single chars (fallback floor: ascii letters + digits)
            *"abcdefghijklmnopqrstuvwxyz0123456789",
        }
    )
)

MAX_WORD = 24  # fold hop budget; tail beyond it estimates 4 chars/token

# per-word greedy fold: acc = (pos, n). Each hop: longest vocab piece
# matching at pos (or 1-char fallback); finish adds the 4-chars/token
# tail estimate for anything past the hop budget.
_WORD_FOLD = f"""
aggregate(
  sequence(1, {MAX_WORD}),
  named_struct('pos', CAST(1 AS BIGINT), 'n', CAST(0 AS BIGINT)),
  (acc, _i) -> CASE WHEN acc.pos > length({{w}}) THEN acc
    ELSE named_struct(
      'pos', acc.pos + coalesce(
        array_max(transform(
          filter({{vocab}}, v -> substr({{w}}, acc.pos, length(v)) = v),
          v -> CAST(length(v) AS BIGINT))), CAST(1 AS BIGINT)),
      'n', acc.n + 1)
  END,
  acc -> acc.n + CASE WHEN acc.pos <= length({{w}})
    THEN CAST(ceil((length({{w}}) - acc.pos + 1) / 4.0) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END)
"""


def subword_count_col(text_col: str, vocab_col: str = "_vocab") -> F.Column:
    """Σ over whitespace words of the greedy-wordpiece piece count."""
    per_word = _WORD_FOLD.format(w="lower(sw)", vocab=vocab_col)
    return F.expr(
        f"aggregate(transform(split({text_col}, ' '), sw -> {per_word}), "
        f"CAST(0 AS BIGINT), (tacc, tx) -> tacc + tx)"
    )


def token_counts_subword(
    df: DataFrame,
    text_col: str = "text",
    vocab: tuple[str, ...] = SUBWORD_VOCAB,
    by_type: bool = False,
) -> DataFrame:
    """Adds n_subword_tokens (greedy longest-match wordpiece count, case-
    folded) next to n_ws_tokens. The vocab broadcasts as one row.

    by_type=True is the 100 TB shape: tokenize each distinct word TYPE
    once (Zipf: types ≪ occurrences — web-scale corpora repeat the same
    few million words trillions of times), then broadcast the per-type
    counts back and sum per document. Costs two narrow shuffles (the
    type distinct + the per-doc sum) and one broadcast; the fold runs
    |types| times instead of |occurrences| times. Results are identical
    to the inline form (test-pinned)."""
    spark = df.sparkSession
    vdf = F.broadcast(
        spark.createDataFrame([(list(vocab),)], "_vocab array<string>")
    )
    ws = F.size(F.split(F.col(text_col), " ")).cast("long")
    if not by_type:
        out = df.crossJoin(vdf).withColumn(
            "n_subword_tokens", subword_count_col(text_col)
        )
        return out.drop("_vocab").withColumn("n_ws_tokens", ws)
    # type-memoized path: explode lowercased words, fold once per type.
    # PERSIST is load-bearing, not just a reuse win (ADVICE r6 medium):
    # _swrow is monotonically_increasing_id over an otherwise-unpersisted
    # plan that two branches (words→counts, and the join below) would
    # evaluate independently — over a nondeterministic source the two
    # evaluations could assign DIFFERENT ids and silently misjoin. The
    # cache pins one id assignment for both branches (and saves the
    # second upstream scan).
    rowed = cache.persist(df.withColumn("_swrow", F.monotonically_increasing_id()))
    words = rowed.select(
        "_swrow",
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("_swword"),
    )
    per_word = _WORD_FOLD.format(w="_swword", vocab="_vocab")
    types = (
        words.select("_swword")
        .distinct()
        .crossJoin(vdf)
        .withColumn("_swtoks", F.expr(per_word))
        .drop("_vocab")
    )
    counts = (
        words.join(F.broadcast(types), "_swword")
        .groupBy("_swrow")
        .agg(F.sum("_swtoks").cast("long").alias("n_subword_tokens"))
    )
    return (
        rowed.join(counts, "_swrow")
        .drop("_swrow")
        .withColumn("n_ws_tokens", ws)
    )


def induce_vocab(
    df: DataFrame,
    text_col: str = "text",
    n_min: int = 2,
    n_max: int = 4,
    top_n: int = 64,
) -> DataFrame:
    """Data-derived subword vocabulary: the top-`top_n` character n-grams
    (lengths n_min..n_max) over word TYPES, weighted by each type's
    occurrence count — the counting core of BPE/wordpiece vocabulary
    induction (merge frequency == weighted n-gram frequency on the first
    iteration), kept single-pass so both engines compute it identically.
    The induced `piece` column drops straight into `token_counts_subword`'s
    vocab argument (single-char fallback still guarantees totality).

    Scale shape: occurrences reduce to types first (one narrow shuffle —
    Zipf makes types ≪ occurrences), the per-type gram expansion is a
    pure-Column nested transform, and the gram aggregate's key domain is
    bounded by charset^n_max, so the final row_number sort ranks a small
    aggregated frame, not the corpus. Ties break (weight DESC, piece ASC)
    for determinism.
    """
    from pyspark.sql.window import Window

    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    ).where(F.col("w") != "")
    types = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    grams_expr = (
        f"flatten(transform(sequence({n_min}, {n_max}), n -> "
        f"CASE WHEN length(w) >= n THEN "
        f"transform(sequence(1, length(w) - n + 1), i -> substr(w, i, n)) "
        f"ELSE CAST(array() AS array<string>) END))"
    )
    agg = (
        types.select(F.explode(F.expr(grams_expr)).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").cast("long").alias("weight"))
    )
    w = Window.orderBy(F.col("weight").desc(), F.col("piece"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("rank", "piece", "weight")
    )


def duck_vocab_induction_sql(
    source: str = "documents",
    text_col: str = "text",
    n_min: int = 2,
    n_max: int = 4,
    top_n: int = 64,
) -> str:
    """DuckDB mirror of induce_vocab (nested list comprehension instead of
    nested transform; range(a, b) is empty when b <= a, which covers the
    short-word guard the Spark CASE handles)."""
    return f"""
WITH wocc AS (
  SELECT x AS w
  FROM (SELECT unnest(string_split(lower({text_col}), ' ')) AS x FROM {source})
  WHERE x <> ''
),
types AS (SELECT w, count(*) AS f FROM wocc GROUP BY w),
grams AS (
  SELECT unnest(flatten([
           [substr(w, CAST(i AS INT), CAST(n AS INT))
            for i in range(1, length(w) - n + 2)]
           for n in range({n_min}, {n_max} + 1)])) AS piece,
         f
  FROM types
),
agg AS (SELECT piece, CAST(sum(f) AS BIGINT) AS weight FROM grams GROUP BY piece)
SELECT CAST(row_number() OVER (ORDER BY weight DESC, piece) AS INT) AS rank,
       piece, weight
FROM agg
QUALIFY rank <= {top_n}
ORDER BY rank
"""


def duck_subword_ctes(
    source: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: tuple[str, ...] = SUBWORD_VOCAB,
) -> str:
    """DuckDB mirror: greedy longest-match as a recursive CTE over word
    TYPES (DuckDB 1.0 has no init-value fold), joined back to word
    occurrences. Yields CTE `subword_counts(<id>, n_subword_tokens)`.
    Requires the surrounding query to be WITH RECURSIVE."""
    pieces = ", ".join("'" + v.replace("'", "''") + "'" for v in vocab)
    return f"""vocab(piece) AS (SELECT unnest([{pieces}])),
wocc AS (
  SELECT {id_col} AS _swid, lower(x) AS w
  FROM (SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS x
        FROM {source})
),
wtypes AS (SELECT DISTINCT w FROM wocc),
seg(w, pos, n) AS (
  SELECT w, 1, 0 FROM wtypes
  UNION ALL
  SELECT s.w,
         s.pos + coalesce(
           (SELECT max(length(v.piece)) FROM vocab v
            WHERE v.piece = substr(s.w, s.pos, length(v.piece))), 1),
         s.n + 1
  FROM seg s
  -- EXACTLY the Spark fold's stopping rule: hop while the cursor is
  -- inside the word, for at most MAX_WORD hops (a hop can advance by
  -- a multi-char piece, so pos is not bounded by the hop count)
  WHERE s.pos <= length(s.w) AND s.n < {MAX_WORD}
),
wdone AS (
  SELECT w,
         max_by(n, pos)
         + CASE WHEN max(pos) <= length(w)
                THEN CAST(ceil((length(w) - max(pos) + 1) / 4.0) AS BIGINT)
                ELSE 0 END AS toks
  FROM seg GROUP BY w
),
subword_counts AS (
  SELECT _swid, CAST(sum(d.toks) AS BIGINT) AS n_subword_tokens
  FROM wocc o JOIN wdone d USING (w)
  GROUP BY _swid
)"""
