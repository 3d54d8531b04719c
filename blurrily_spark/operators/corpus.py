"""Corpus-level training-data analysis: benchmark decontamination,
boilerplate n-gram mining, and TF-IDF keyword extraction.

These are whole-corpus passes an LLM training pipeline runs alongside
dedup (the reference engine's per-record trigram model generalized to
word n-grams over the same normalized text,
ext/blurrily/tokeniser.rl:52-60's normalize -> window pattern):

* :func:`ngram_contamination` -- flag training documents sharing verbatim
  word n-grams with a held-out evaluation set (the GPT-3 appendix-C /
  PaLM-style 8-to-13-gram decontamination test). Expressed as distinct
  n-grams per document joined against the distinct eval-set n-grams: two
  exploded equi-joins and per-doc aggregations, never a doc x doc
  comparison.
* :func:`frequent_ngrams` -- corpus-wide top-k n-grams by document
  frequency: the boilerplate-discovery pass (license headers, templated
  chrome) whose output feeds span cutting or blocking-key deny-lists.
  One map-side-combined aggregation plus a global top-k.
* :func:`tfidf_top_terms` -- per-document top-k terms by TF-IDF: cheap
  corpus fingerprinting / clustering features. Term and document
  frequencies are two equi-key aggregations; the per-document top-k is a
  rank window partitioned by document (WindowGroupLimit pushes the k cut
  below the sort).
* :func:`lm_score` -- CCNet-style LM quality scoring: an add-one bigram
  model trained corpus-side (one bigram aggregation and its per-word
  sum), per-document mean
  token log-probability + OOV counts via three equi-joins of the doc
  tokens against the count tables. No windows, no pairwise work.

Scale shape: everything here is explode -> hash-aggregate -> equi-join;
there is no pairwise work anywhere, so cost is linear in corpus token
count. For the contamination join the eval side is benchmark-sized in
practice (thousands of documents) -- its distinct-gram set broadcasts and
the train side never shuffles; when it does not fit, the join degrades to
a plain hash join on the gram key. ``hash_fn='fast'`` ships 8-byte
xxhash64 gram keys through shuffles instead of n-word strings (same lever
as operators/dedup.py's span passes; 'exact' keeps raw strings so the
DuckDB oracle reproduces results bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import spread_small_input
from blurrily_spark.functions.tokenizer import with_normalized
from blurrily_spark.operators.dedup import _check_hash_fn, word_shingles

CONTAMINATION_WORDS = 8  # word n-gram that ngram_contamination matches


def _exploded_grams(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool
) -> DataFrame:
    d = with_normalized(spread_small_input(df), text_col, "_norm")
    grams = word_shingles(F.col("_norm"), n)
    return d.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(F.array_distinct(grams) if distinct else grams).alias("gram"),
    )


def ngram_contamination(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "exact",
) -> DataFrame:
    """Benchmark decontamination: per TRAIN document, how many of its
    distinct word 8-grams (:data:`CONTAMINATION_WORDS`) appear verbatim
    anywhere in the ``holdout`` (evaluation) corpus.

    Returns one row per train document:
    ``(id, n_grams, n_contaminated, contamination, is_contaminated)``
    where ``contamination = n_contaminated / n_grams`` and
    ``is_contaminated = 1`` when ``n_contaminated >= 1`` (the standard
    decontamination rule at n in [8, 13]: any verbatim overlap
    disqualifies).

    Plan: distinct grams per train doc (explode), the DISTINCT holdout
    gram set (explode + aggregate -- benchmark-sized, so it broadcasts),
    a left-semi equi-join to count hits, and a left join back onto the
    per-doc totals. Linear in token count; no doc x doc work.
    """
    _check_hash_fn(hash_fn, ("exact", "fast"))
    t = _exploded_grams(train, id_col, text_col, CONTAMINATION_WORDS, distinct=True)
    h = (
        _exploded_grams(holdout, id_col, text_col, CONTAMINATION_WORDS, distinct=False)
        .select("gram")
        .distinct()
    )
    if hash_fn == "fast":
        t = t.select("id", F.xxhash64("gram").alias("gram"))
        h = h.select(F.xxhash64("gram").alias("gram"))
    totals = t.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        t.join(h, "gram", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_hit = F.coalesce("n_contaminated", F.lit(0))
    return totals.join(hits, "id", "left").select(
        "id",
        "n_grams",
        n_hit.alias("n_contaminated"),
        F.round(n_hit / F.col("n_grams"), 6).alias("contamination"),
        (n_hit >= 1).cast("int").alias("is_contaminated"),
    )


# frequent_ngrams: the top FREQUENT_K word FREQUENT_N-grams found in at
# least FREQUENT_MIN_DF documents
FREQUENT_N, FREQUENT_K, FREQUENT_MIN_DF = 3, 50, 2


def frequent_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-wide boilerplate mining: the top 50 word 3-grams by document
    frequency (``n_docs``), with total occurrence counts.

    Returns ``(gram, n_docs, n_occurrences)`` for grams appearing in at
    least 2 documents, ordered ``n_docs DESC, n_occurrences DESC, gram
    ASC`` (a total order -- ties cannot reshuffle between engines or runs)
    and limited to 50 (:data:`FREQUENT_N`, :data:`FREQUENT_K`,
    :data:`FREQUENT_MIN_DF`).

    Plan: one explode of RAW (non-distinct) grams so occurrence counts
    are true totals, one hash aggregation keyed by gram (map-side
    combined: the wire carries one row per distinct gram per task, not
    per occurrence), and a global top-k that Spark executes as
    TakeOrderedAndProject -- each partition keeps only its local top k,
    so no full sort and no single-node sort bottleneck at any scale.
    """
    grams = _exploded_grams(df, id_col, text_col, FREQUENT_N, distinct=False)
    return (
        grams.groupBy("gram")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= FREQUENT_MIN_DF)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram").asc()
        )
        .limit(FREQUENT_K)
    )


TFIDF_K = 3  # terms tfidf_top_terms keeps per document


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-3 terms (:data:`TFIDF_K`) by TF-IDF over
    normalized words.

    Returns ``(id, rank, term, tf, df_term, tfidf)`` with
    ``tfidf = round(tf * ln(n_docs / df_term), 6)`` and ``rank`` the
    1-based position under the total order ``tfidf DESC, term ASC``
    (rounding before ranking keeps the order identical across engines --
    a last-ulp ``ln`` difference cannot flip a comparison that only sees
    6 decimals).

    Plan: one explode -> (doc, term) count aggregation; document
    frequency is a second aggregation of the SAME (doc, term) rows (no
    re-scan of the corpus); the corpus size joins in as a broadcast
    one-row literal; the per-doc rank is a window whose ``rank <= 3``
    filter Spark pushes into WindowGroupLimit (per-partition top-k before
    the full sort).
    """
    words = with_normalized(spread_small_input(df), text_col, "_norm").select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(F.split(F.col("_norm"), " ")).alias("term"),
    )
    tf = words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    n_docs = words.select(F.count_distinct("id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df_term")),
                6,
            ),
        )
    )
    win = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TFIDF_K)
        .select("id", "rank", "term", "tf", "df_term", "tfidf")
    )


# -- deterministic sampling / splitting --------------------------------------
#
# Corpus mixture control (downsample a source to X%, carve train/val/test)
# must be REPRODUCIBLE across runs, engines, and cluster sizes -- Spark's
# df.sample() is none of those (it is partition-order dependent). These two
# operators decide each row from a pure integer function of its key, so the
# same row always lands the same way: a zero-shuffle, codegen'd projection
# at any scale, and the DuckDB oracles repeat the arithmetic verbatim.

_MINSTD = 48271
_MINSTD_MOD = 2_147_483_647  # 2^31 - 1 (prime), the Lehmer/MINSTD modulus
SAMPLE_SEED, SPLIT_SEED = 7, 11  # seeds of sample_corpus's and split_corpus's draws


def _lcg_u(key, seed: int):
    """Integer pseudo-uniform in ``[0, 2^31-1)`` from a row key: two
    MINSTD (Lehmer 1988) steps over ``(key + seed) mod m``. Every
    intermediate product is <= m * 48271 ~ 1.04e14 -- far inside int64,
    so the SAME expression runs overflow-free on any SQL engine (the
    oracles embed it literally), unlike xxhash64/murmur whose seeding and
    availability differ per engine. Not cryptographic: a keyed
    decorrelator so sampling is independent of id assignment order."""
    m = F.lit(_MINSTD_MOD)
    x = F.pmod(key.cast("long") + F.lit(int(seed)), m)
    x = F.pmod(x * _MINSTD, m)
    return F.pmod(x * _MINSTD, m)


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    # floor once in Python; both engines then compare integers only --
    # no float division anywhere near the keep decision
    return int(fraction * _MINSTD_MOD)


def sample_corpus(
    df: DataFrame,
    by: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified corpus sampling: keep a row iff its key's
    :func:`_lcg_u` value falls under ``floor(fraction * (2^31-1))``, where
    ``by`` maps each stratum value to its fraction. Rows whose stratum is
    absent are DROPPED -- ``by`` IS the mixture spec. The decision is a
    pure function of the key (seeded with :data:`SAMPLE_SEED`): stable
    under repartitioning, re-runs, engine changes, and corpus growth (a
    row's fate never depends on other rows), which is what makes ablation
    and mixture experiments comparable across pipeline versions. Plan shape: one
    codegen'd Filter over the scan -- no shuffle, no UDF (pinned in
    tests/test_plans.py)."""
    if not by:
        raise ValueError("by= must name at least one stratum")
    thr = F.lit(0)
    for value, frac in by.items():
        thr = F.when(F.col(stratum_col) == value, F.lit(_threshold(frac))).otherwise(thr)
    return df.where(_lcg_u(F.col(key_col), SAMPLE_SEED) < thr)


def split_corpus(
    df: DataFrame,
    weights: dict[str, float],
    *,
    key_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test carving: adds ``split_col`` naming
    each row's split, chosen by where its :func:`_lcg_u` value falls in
    the cumulative ``weights`` intervals (normalized; insertion order =
    interval order). Splits are exhaustive and disjoint by construction,
    and a row's assignment is a pure function of the key (seeded with
    :data:`SPLIT_SEED`) -- the holdout set cannot leak into training when
    the corpus is re-sharded, re-deduped upstream, or grown (existing rows
    keep their split).
    Zero-shuffle single projection, same portability contract as
    :func:`sample_corpus`."""
    uppers, last = split_thresholds(weights)
    u = _lcg_u(F.col(key_col), SPLIT_SEED)
    expr = F.lit(last)  # the last interval takes the remainder
    for name, upper in reversed(uppers):
        expr = F.when(u < upper, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_thresholds(weights: dict[str, float]) -> tuple[list[tuple[str, int]], str]:
    """``([(name, upper_bound), ...], remainder_name)`` integer interval
    bounds for :func:`split_corpus` -- public so an oracle can embed the
    IDENTICAL literals (float accumulation happens exactly once, here)."""
    items = [(str(k), float(w)) for k, w in weights.items()]
    if len(items) < 2:
        raise ValueError("need at least two splits")
    total = sum(w for _, w in items)
    if total <= 0 or any(w < 0 for _, w in items):
        raise ValueError("weights must be non-negative with a positive sum")
    cum = 0.0
    uppers = []
    for name, w in items[:-1]:
        cum += w
        uppers.append((name, _threshold(cum / total)))
    return uppers, items[-1][0]


def _token_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, pos, w, w_prev)`` -- one row per whitespace token of the
    normalized text, with the previous token carried along (NULL at
    pos 0). The predecessor is attached at array-build time (one
    ``transform`` over the word array), so there is no per-document
    ``lag`` window and the only cost is the explode itself. ``w`` is
    non-nullable (split yields no NULL element)."""
    d = with_normalized(spread_small_input(df), text_col, "_norm")
    words = F.filter(F.split(F.col("_norm"), " "), lambda w: w != F.lit(""))
    toks = F.transform(
        words,
        lambda w, i: F.struct(
            i.alias("pos"),
            w.alias("w"),
            F.when(i > 0, F.element_at(words, i)).alias("w_prev"),
        ),
    )
    return d.select(
        F.col(id_col).cast("long").alias("id"), F.explode(toks).alias("t")
    ).select("id", "t.pos", "t.w", "t.w_prev")


def lm_score(
    train: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring (Wenzek et al.
    2020, arXiv:1911.00359 -- there a KenLM 5-gram; here an add-one bigram
    model, the engine-friendly member of the same family): train token
    statistics on ``train``, score every ``docs`` row by mean token
    log-probability. Low ``avg_logp`` (high perplexity) flags gibberish,
    boilerplate, and OOV-dense text; training pipelines bucket or drop on
    it alongside :func:`blurrily_spark.operators.textstats.quality_score`'s
    surface heuristics.

    Model: ``p(w_0) = (c1(w_0)+1) / (N+V)`` and
    ``p(w_i | w_{i-1}) = (c2(w_{i-1},w_i)+1) / (c1(w_{i-1})+V)`` with
    unigram counts ``c1``, bigram counts ``c2``, corpus token count ``N``
    and vocabulary size ``V`` from ``train``; add-one smoothing keeps
    every probability finite for OOV tokens.

    Returns one row per ``docs`` row -- ``(id, n_tokens, n_oov,
    avg_logp, perplexity)`` -- where ``n_oov`` counts tokens whose
    numerator count is zero (unseen unigram at pos 0 / unseen bigram
    after it) and empty documents surface with ``n_tokens = 0`` and NULL
    scores rather than vanishing.

    Scale shape: both corpora reduce to token-level explodes (cost linear
    in token count, the same class as every textstats pass), each read
    once; the model is one bigram hash aggregation (``c2``), its per-word
    sum (``c1``) and a one-row stats aggregate that joins in via
    broadcast; scoring is three equi-joins of the doc tokens against those
    count tables -- no windows, no pairwise work, nothing driver-side, and
    no job before the action. Zipf-hot words skew the count-table join keys;
    at cluster scale AQE skew-join splitting covers it (the count side is
    one row per key, so replication is free).
    """
    t_toks = _token_rows(train, id_col, text_col)
    # One train-side pass: c2 is one (w_prev, w) aggregate and c1 its
    # per-word sum, so every count table derives from one explode and
    # Spark reuses its exchanges across the four consumers. pos 0 keys
    # w_prev as '' (never a word, so never joined): with both keys
    # non-nullable, no consumer infers its own IS NOT NULL filter, which
    # would give each a different subtree and defeat the reuse.
    big = t_toks.groupBy(
        F.coalesce("w_prev", F.lit("")).alias("w_prev"), "w"
    ).agg(F.count(F.lit(1)).alias("c2"))
    uni = big.groupBy("w").agg(F.sum("c2").alias("c1"))
    stats = uni.agg(
        F.sum("c1").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    d_toks = _token_rows(docs, id_col, text_col)
    kk = F.lit(1.0)
    scored = (
        d_toks.join(F.broadcast(stats))
        .join(uni.select(F.col("w"), F.col("c1").alias("_cw")), "w", "left")
        .join(
            uni.select(F.col("w").alias("w_prev"), F.col("c1").alias("_cprev")),
            "w_prev",
            "left",
        )
        .join(big, ["w_prev", "w"], "left")
        .select(
            "id",
            F.when(F.col("pos") == 0, F.coalesce("_cw", F.lit(0)))
            .otherwise(F.coalesce("c2", F.lit(0)))
            .alias("_cnum"),
            F.when(
                F.col("pos") == 0,
                F.log(
                    (F.coalesce("_cw", F.lit(0)) + kk)
                    / (F.col("_n") + kk * F.col("_v"))
                ),
            )
            .otherwise(
                F.log(
                    (F.coalesce("c2", F.lit(0)) + kk)
                    / (F.coalesce("_cprev", F.lit(0)) + kk * F.col("_v"))
                )
            )
            .alias("_logp"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("_cnum") == 0).cast("long")).alias("n_oov"),
        F.avg("_logp").alias("avg_logp"),
    )
    ids = docs.select(F.col(id_col).cast("long").alias("id")).distinct()
    return ids.join(agg, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        "avg_logp",
        F.exp(-F.col("avg_logp")).alias("perplexity"),
    )
