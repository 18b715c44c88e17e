"""Text-analysis operators for large-scale training-data pipelines.

Extension tier beyond the reference surface (SURVEY.md §7 phase 5):
token statistics, quality scoring, and exact deduplication over a
``documents``-shaped table (``doc_id``, ``text``, ...). Everything is
native column expressions — whole-stage codegen, no Python in the hot
path — so the same plan scales from the sf0.01 test tables to a
100 TB corpus (narrow per-row transforms; the only shuffle is the
dedup groupBy on a well-distributed hash key).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default stopword list for quality scoring (tiny on purpose — the
#: mechanism is the operator; swap in a real list per language).
STOPWORDS = ["the", "a", "of", "to", "and"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (Java regex ``\\s+`` over trimmed text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics (counts + average token length)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (
            F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
    )


def quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Per-document quality signals: stopword ratio, lexical diversity,
    and a combined score ``diversity * (1 - stopword_ratio)``.
    """
    stop = stopwords if stopwords is not None else STOPWORDS
    toks = tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stop))).cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        diversity.alias("distinct_ratio"),
        (diversity * (F.lit(1.0) - stop_ratio)).alias("quality_score"),
    )


#: Marker-word profiles for the language-ID heuristic. Tiny stopword
#: sets — the operator demonstrates the scoring mechanism (per-language
#: marker hit counts → argmax with a deterministic tie-break); swap in
#: real n-gram profiles for production use.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "zu"],
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "les", "de", "et", "des"],
}

#: BPE-ish token pattern: word runs or single non-space punctuation.
BPE_TOKEN_PATTERN = r"\w+|[^\w\s]"

#: Rolling-hash parameters (polynomial hash mod a 31-bit prime, so the
#: fold stays far from 64-bit overflow on any engine).
FP_BASE = 31
FP_MOD = 1_000_000_007


def md5_token_hash(c: Column) -> Column:
    """60-bit md5-derived token hash (same integer DuckDB computes)."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def lang_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Language-ID heuristic: marker-word scores + deterministic argmax.

    Ties break alphabetically by language code; an all-zero score row
    is classified ``und`` (undetermined).
    """
    prof = profiles if profiles is not None else LANG_PROFILES
    toks = tokens(text_col)

    def marker_hits(words: list[str]):
        return lambda t: t.isin(*words)

    scores = {
        lang: F.size(F.filter(toks, marker_hits(words))).cast("long")
        for lang, words in sorted(prof.items())
    }
    mx = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    pred = F.when(mx == 0, F.lit("und"))
    for lang in sorted(prof):
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    return docs.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(prof)],
        pred.alias("predicted_lang"),
    )


def bpe_token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counts under whitespace and BPE-ish regex tokenizations."""
    return docs.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN)).cast("long").alias(
            "n_bpe_tokens"
        ),
    )


def fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash of
    the md5-hashed token sequence (content-defined, whitespace-robust)."""
    toks = tokens(text_col)
    hashed = F.transform(toks, lambda t: F.pmod(md5_token_hash(t), F.lit(FP_MOD)))
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * FP_BASE + h, F.lit(FP_MOD)),
    )
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        fp.alias("fingerprint"),
    )


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact deduplication by content hash (one group row per distinct
    text): ``fingerprint`` (md5 hex), ``n_copies``, ``keep_doc_id``
    (the smallest id — the canonical representative).

    The groupBy key is a 128-bit content hash, so the shuffle is
    uniformly distributed regardless of document skew; at 100 TB this
    is a single well-balanced exchange.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def bpe_merge_pair_counts(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` adjacent character pairs across the corpus — the
    statistic a BPE tokenizer trainer computes each merge round (the
    highest-count pair becomes the next vocabulary merge).

    Scale shape: the corpus collapses to its DISTINCT-word frequency
    table first (one shuffle on the word string — uniform, and at web
    scale the distinct-word table is orders of magnitude smaller than
    the token stream), then each distinct word explodes into its
    ``len-1`` character pairs weighted by word count. Pair cardinality
    is bounded by alphabet² — a few thousand keys — so the final sum
    is map-side combinable into a tiny result and the global top-k sort
    is a ``TakeOrdered`` over it, never a full-data sort. Tie-break is
    total (count desc, pair asc) so the top-k SET is deterministic.
    """
    words = docs.select(F.explode(tokens(text_col)).alias("w")).filter(
        F.length("w") > 0
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            "wc",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_merge_pair_counts_oracle_sql(k: int = 20, table: str = "documents") -> str:
    """DuckDB restatement of :func:`bpe_merge_pair_counts`."""
    return rf"""
WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM {table}),
wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM w WHERE len(w) > 0 GROUP BY w),
p AS (SELECT unnest([substr(w, i, 2) for i in generate_series(1, len(w) - 1)]) AS pair,
             wc
      FROM wf WHERE len(w) >= 2)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT {k}
"""


def rare_bigram_stats(
    docs: DataFrame,
    rare_max: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document rare-bigram quality signal: how much of a document
    is token bigrams the rest of the corpus (almost) never produces.

    A high hapax-bigram share is a standard fluency/garbage signal in
    pretraining-data filters — boilerplate and natural prose reuse
    common bigrams, OCR noise and mojibake don't. Output per document:
    ``n_bigrams``, ``n_rare_bigrams`` (corpus frequency <= ``rare_max``)
    and ``rare_permille`` (integer ‰, floor — integer-exact for the
    oracle).

    Scale shape: bigram corpus counts are one map-side-combinable
    groupBy on the bigram string (uniform key). Rather than joining the
    FULL count table back (hot keys like "of the" would carry huge
    counts through the shuffle), the doc-side join is against only the
    ``count > rare_max`` key set — a smaller dim whose skewed keys each
    match exactly one row, the AQE-friendly shape — and rare bigrams
    are the ones that DON'T match (left join, null flag).
    """
    tk = tokens(text_col)
    base = docs.select(F.col(id_col), tk.alias("_tk")).filter(F.size("_tk") >= 2)
    doc_bigrams = base.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tk) - 1),"
                " i -> concat(element_at(_tk, i), ' ', element_at(_tk, i + 1)))"
            )
        ).alias("bigram"),
    )
    common = (
        doc_bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > rare_max)
        .select("bigram", F.lit(1).alias("is_common"))
    )
    flagged = doc_bigrams.join(common, "bigram", "left")
    stats = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("is_common").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_rare_bigrams"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("n_rare_bigrams", F.lit(0).cast("long")).alias("n_rare_bigrams"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(1000 * coalesce(n_rare_bigrams, 0)) div coalesce(n_bigrams, 1)")
            )
            .alias("rare_permille"),
        )
    )


def rare_bigram_stats_oracle_sql(rare_max: int = 1, table: str = "documents") -> str:
    """DuckDB restatement of :func:`rare_bigram_stats`."""
    return rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM {table}),
b AS (SELECT doc_id,
             unnest([tk[i] || ' ' || tk[i + 1] for i in generate_series(1, len(tk) - 1)]) AS bigram
      FROM t WHERE len(tk) >= 2),
cnt AS (SELECT bigram, COUNT(*) AS bc FROM b GROUP BY bigram),
st AS (SELECT b.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              CAST(SUM(CASE WHEN cnt.bc <= {rare_max} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rare_bigrams
       FROM b JOIN cnt USING (bigram) GROUP BY b.doc_id)
SELECT d.doc_id,
       COALESCE(st.n_bigrams, 0) AS n_bigrams,
       COALESCE(st.n_rare_bigrams, 0) AS n_rare_bigrams,
       CASE WHEN COALESCE(st.n_bigrams, 0) = 0 THEN 0
            ELSE CAST((1000 * st.n_rare_bigrams) // st.n_bigrams AS BIGINT)
            END AS rare_permille
FROM {table} d LEFT JOIN st USING (doc_id)
"""


# --------------------------------------------------------------------------
# Unicode cleaning / canonicalization
# --------------------------------------------------------------------------

#: Control characters stripped before normalization. Identical escapes
#: are valid in Java regex (Spark) and RE2 (DuckDB); DEL plus the C0
#: range except nothing is preserved — tab/newline fold into the
#: whitespace collapse anyway.
CONTROL_CHAR_PATTERN = r"[\x00-\x1f\x7f]"


def clean_normalize(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode canonicalization for a text corpus: strip control
    characters, NFC-normalize, collapse whitespace runs, trim.

    The standard first pass of a crawl-cleaning pipeline — NFC folds
    visually-identical decomposed sequences (e + combining acute vs
    precomposed é) into one byte form so hashing, dedup and
    tokenization see one spelling. Control/whitespace steps are native
    ``regexp_replace`` (whole-stage codegen); NFC itself has no JVM
    built-in in Spark, so it runs as an Arrow-vectorized
    ``pandas_udf`` over ``unicodedata.normalize`` — batch-at-a-time,
    never row-at-a-time Python. A narrow projection: no shuffle, cost
    is one streaming pass at any corpus size.

    Output keeps the cleaned payload plus md5/length and a ``changed``
    flag so downstream stages can route untouched documents cheaply.

    DuckDB's ``nfc_normalize`` restates the UDF for the oracle gate
    (both are Unicode NFC; the sf corpus is ASCII so the registered
    query pins the identity path, and tests/test_dsir_drift.py pins
    real NFC folding on a non-ASCII fixture).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    stripped = F.regexp_replace(F.col(text_col), CONTROL_CHAR_PATTERN, " ")
    cleaned = F.trim(F.regexp_replace(nfc(stripped), r"\s+", " "))
    return docs.select(
        F.col(id_col),
        cleaned.alias("cleaned"),
        F.md5(cleaned.cast("binary")).alias("cleaned_md5"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
        (cleaned != F.col(text_col)).alias("changed"),
    )


def clean_normalize_oracle_sql(table: str = "documents") -> str:
    """DuckDB restatement of :func:`clean_normalize`."""
    return rf"""
SELECT doc_id,
       trim(regexp_replace(nfc_normalize(
           regexp_replace(text, '{CONTROL_CHAR_PATTERN}', ' ', 'g')),
           '\s+', ' ', 'g')) AS cleaned,
       md5(trim(regexp_replace(nfc_normalize(
           regexp_replace(text, '{CONTROL_CHAR_PATTERN}', ' ', 'g')),
           '\s+', ' ', 'g'))) AS cleaned_md5,
       CAST(length(trim(regexp_replace(nfc_normalize(
           regexp_replace(text, '{CONTROL_CHAR_PATTERN}', ' ', 'g')),
           '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean,
       trim(regexp_replace(nfc_normalize(
           regexp_replace(text, '{CONTROL_CHAR_PATTERN}', ' ', 'g')),
           '\s+', ' ', 'g')) <> text AS changed
FROM {table}
"""
