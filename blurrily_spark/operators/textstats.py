"""Text analysis operators: token counts, quality scoring, language ID,
document fingerprinting.

All pure SQL expressions (codegen'd, zero Python), designed so a DuckDB
oracle can reproduce them bit-for-bit for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blurrily_spark.functions.hashing import poly_hash
from blurrily_spark.functions.tokenizer import with_normalized
from blurrily_spark.operators.dedup import word_shingles

# Tiny built-in stopword lists for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "que", "pour"],
    "de": ["der", "die", "und", "das", "ein", "mit", "von", "zu", "den", "ist"],
}

# BPE-ish pre-tokenization: word pieces, numbers, or single non-space symbols
# (a public GPT-2-style pattern simplified to Java regex).
BPE_SPLIT_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_ws_tokens, n_bpe_tokens).

    n_ws_tokens: whitespace tokens; n_bpe_tokens: BPE-ish regex pieces
    (letters runs / digit runs / single symbols).
    """
    txt = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(txt).cast("int").alias("n_chars"),
        F.size(F.split(F.trim(txt), "\\s+")).cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_SPLIT_RE), 0)).cast("int").alias("n_bpe_tokens"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score.

    Features: length, punctuation ratio, stopword ratio, mean word length.
    score = stopword_ratio * 0.5 + (1 - punct_ratio) * 0.3
          + least(n_chars, 2000)/2000 * 0.2
    (a transparent linear blend -- the point is the Spark plumbing, tuned
    weights are a modeling question).
    """
    txt = F.col(text_col)
    words = F.split(F.trim(txt), "\\s+")
    n_chars = F.length(txt).cast("double")
    n_words = F.size(words).cast("double")
    n_punct = F.size(F.regexp_extract_all(txt, F.lit("[^A-Za-z0-9\\s]"), 0)).cast("double")
    sw = STOPWORDS["en"]
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(sw))).cast("double")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    score = (
        stop_ratio * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(n_chars, F.lit(2000.0)) / 2000.0 * 0.2
    )
    return df.select(
        F.col(id_col),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: argmax over per-language hit counts.

    (id, lang, lang_hits). Ties and zero hits resolve to 'und'. A real
    deployment swaps in fastText/cld3 via a pandas UDF; the Spark shape
    (one pass, argmax over a literal map) is the deliverable here.
    """
    words = F.split(F.lower(F.col(text_col)), "\\s+")
    hit_cols = []
    for code, sw in sorted(STOPWORDS.items()):
        hit_cols.append(
            F.struct(
                F.size(F.filter(words, lambda w: w.isin(sw))).cast("long").alias("hits"),
                F.lit(code).alias("lang"),
            )
        )
    # array_max on struct(hits, lang): max hits, ties -> lexicographically
    # greatest lang code. Deterministic in both engines.
    best = F.array_max(F.array(*hit_cols))
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang"),
        best["hits"].alias("lang_hits"),
    )


# PII / link scrubbing patterns -- deliberately plain RE2-compatible
# character classes so the Spark (Java regex) and DuckDB (RE2) engines
# match byte-for-byte. Application order matters and is fixed: URLs first
# (an email inside a URL query string is part of the URL), then emails,
# then bare IPv4s.
PII_PATTERNS = [
    ("url", "https?://[^ \\t\\n]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
]


def scrub_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redact links and simple PII before training: URLs, email addresses,
    bare IPv4 literals, each replaced by a typed placeholder token.

    Returns ``(id, clean_text, n_urls, n_emails, n_ipv4)``. One projection,
    pure codegen'd regexp_replace/extract -- no Python, no shuffle; the
    pattern list is ordered (URL > email > IPv4) so nested matches resolve
    deterministically, and counts are taken from the SAME intermediate the
    next replacement runs on. Real deployments extend PII_PATTERNS (phone
    formats, national IDs) -- the engine op is the single-scan scrub.
    """
    txt = F.col(text_col)
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(txt, F.lit(pattern), 0))
            .cast("int")
            .alias(f"n_{name}s" if not name.endswith("4") else f"n_{name}")
        )
        txt = F.regexp_replace(txt, pattern, token)
    return df.select(F.col(id_col), txt.alias("clean_text"), *counts)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals -- the Gopher/MassiveText-style
    repetition filters (Rae et al. 2021, Table A1) a training-data pipeline
    gates on before anything model-based:

    * ``dup_line_frac``      -- duplicated lines / lines (non-empty,
      trimmed, raw text): boilerplate, chat spam, scraped nav bars;
    * ``top_word_frac``      -- occurrences of the most frequent word /
      words (normalized text): keyword stuffing;
    * ``top_bigram_frac``    -- same for adjacent word bigrams;
    * ``dup_trigram_frac``   -- occurrences belonging to any trigram that
      appears more than once / trigrams: loops and template repetition.

    Returns one row per document: ``(id, n_lines, dup_line_frac, n_words,
    top_word_frac, top_bigram_frac, dup_trigram_frac)`` -- filter e.g.
    ``dup_line_frac > 0.3 OR top_bigram_frac > 0.2`` per the published
    thresholds (tuning is a modeling question; the engine op is the
    per-doc statistics).

    Scale shape: line stats are pure per-row HOFs (no shuffle on their
    own); the three gram statistics ride ONE tagged explode --
    (gram_size, gram) structs for words, bigrams, and trigrams
    concatenated per document, so the gram side scans the corpus once,
    not three times -- then groupBy(id, size, gram) -> groupBy(id, size)
    -> groupBy(id), all equi-key per document (never cross-document), so
    the shuffles partition perfectly by document at any corpus size. Two
    corpus scans total (grams + the line-stats join side; pinned in
    tests/test_plans.py), zero Python nodes.
    """
    d = with_normalized(df, text_col, "_norm")
    words = F.split(F.col("_norm"), " ")
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), F.trim),
        lambda ln: ln != "",
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))) / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    base = d.select(
        F.col(id_col).alias("id"),
        "_norm",
        n_lines.cast("int").alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
    )

    def tag(arr, n: int):
        return F.transform(arr, lambda g: F.struct(F.lit(n).alias("t"), g.alias("g")))

    def grams(n: int):
        # a text shorter than n words has no n-grams here
        return F.when(F.size(words) >= n, word_shingles(F.col("_norm"), n)).otherwise(
            F.array().cast("array<string>")
        )

    tagged = F.concat(tag(words, 1), tag(grams(2), 2), tag(grams(3), 3))
    cnt = (
        base.select("id", F.explode(tagged).alias("tg"))
        .groupBy("id", F.col("tg.t").alias("t"), F.col("tg.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.groupBy("id", "t").agg(
        F.sum("c").alias("tot"),
        F.max("c").alias("top"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )
    frac = F.round(F.col("top") / F.col("tot").cast("double"), 6)
    dup_frac = F.round(F.col("dup") / F.col("tot").cast("double"), 6)
    stats = per.groupBy("id").agg(
        F.max(F.when(F.col("t") == 1, F.col("tot"))).cast("long").alias("n_words"),
        F.max(F.when(F.col("t") == 1, frac)).alias("top_word_frac"),
        F.max(F.when(F.col("t") == 2, frac)).alias("top_bigram_frac"),
        F.max(F.when(F.col("t") == 3, dup_frac)).alias("dup_trigram_frac"),
    )
    return (
        base.select("id", "n_lines", "dup_line_frac")
        .join(stats, "id")
        .select(
            "id",
            "n_lines",
            "dup_line_frac",
            "n_words",
            "top_word_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Polynomial rolling-hash fingerprint of the *normalized* text.

    fp = fold(chars, acc -> (acc * 31 + code(ch)) mod (2^31-1)), acc0 = 0.
    Stable across engines (pure integer arithmetic), used for cheap
    content-identity lineage at scale. Normalization is one JVM
    projection with no Python node for any script.
    """
    tmp = with_normalized(df, text_col, "_norm")
    fp = poly_hash(F.col("_norm"))
    return tmp.select(F.col(id_col), fp.alias("fingerprint"))
