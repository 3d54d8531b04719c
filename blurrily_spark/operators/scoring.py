"""Pairwise scoring: blurrily's (matches, weight) order, edit distance,
token-sort ratio and the match edges clustering reads.

The reference ranks on (matches DESC, weight ASC) and leaves full ties in
*unspecified* order (unstable qsort, ext/blurrily/storage.c:566). Every
scorer here is a JVM expression over the pair rows; none runs a Python
worker.

Pair score components:
* ``matches``      -- shared unique trigram count (F4 semantics);
* ``jaccard``      -- matches / |T(a) ∪ T(b)| (size-normalized matchiness);
* ``weight_delta`` -- |weight_a - weight_b| (the length-difference weighting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blurrily_spark.operators.pairs import join_pair_ends

EDIT_MAX_DIST = 40  # edits above which with_edit_distance drops a pair


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach ``weight_delta`` = |weight_a - weight_b| to candidate pairs:
    the length-difference weighting of the reference's (matches DESC,
    weight ASC) order, one projection per pair row."""
    return pairs.withColumn("weight_delta", F.abs(F.col("weight_a") - F.col("weight_b")))


def with_edit_distance(
    pairs: DataFrame,
    records: DataFrame,
    text_col: str = "norm",
) -> DataFrame:
    """Attach the exact Levenshtein distance to the candidate pairs within
    ``k`` = 40 edits (:data:`EDIT_MAX_DIST`), dropping the others.

    The classic edit-distance similarity join, expressed the way every
    other scorer here is: blocking proposes candidates, this rescored them
    exactly. ``records`` is the ``(ref, <text_col>)`` side table, one row
    per record. Adds an ``edit_dist`` int column.

    Scale shape: two equi-joins to fetch the texts, then per-row JVM work
    -- no extra shuffle. The plan applies two sound prunes in cost order:
    the length-difference filter ``||a| - |b|| <= k`` is free (edit distance is bounded below by the
    length gap) and discards most non-matching pairs before any DP; the
    remaining pairs run the JVM's THRESHOLDED Levenshtein
    (``levenshtein(a, b, k)``, early exit, O(k * min-len) band instead of
    the full O(|a| * |b|) table) which returns -1 past k -- the final
    ``>= 0`` filter keeps exactly the within-k pairs. Both engines'
    ``levenshtein`` is the standard unit-cost edit distance, so the result
    is integer-exact across engines.
    """
    texts = records.select(F.col("ref"), F.col(text_col).alias("_t"))
    # Decide with small rows, move big rows once (guide §8): the length-gap
    # prune needs only LENGTHS, so a per-ref aggregated (ref, min_len,
    # max_len) table joins first -- exactly one row per ref, so join
    # multiplicity is untouched even when ``records`` carries duplicate
    # refs -- and a pair survives the conservative interval test iff SOME
    # text combination could pass ``|len gap| <= k``. Only survivors join
    # the full text payloads, where the EXACT per-row length filter (same
    # predicate as before this optimization) and the thresholded
    # levenshtein run unchanged: identical rows out, far fewer strings
    # shuffled in.
    lens = texts.groupBy("ref").agg(
        F.min(F.length("_t")).alias("_lmin"), F.max(F.length("_t")).alias("_lmax")
    )
    gap = F.greatest(
        F.col("_lmin_a") - F.col("_lmax_b"),
        F.col("_lmin_b") - F.col("_lmax_a"),
        F.lit(0),
    )
    pruned = (
        join_pair_ends(pairs, lens, "ref", ["_lmin", "_lmax"])
        .where(gap <= F.lit(EDIT_MAX_DIST))
        .drop("_lmin_a", "_lmax_a", "_lmin_b", "_lmax_b")
    )
    out = (
        join_pair_ends(pruned, texts, "ref", ["_t"])
        .where(F.abs(F.length("_t_a") - F.length("_t_b")) <= F.lit(EDIT_MAX_DIST))
        .withColumn("edit_dist", F.levenshtein(F.col("_t_a"), F.col("_t_b"), EDIT_MAX_DIST))
        .where(F.col("edit_dist") >= 0)
    )
    return out.drop("_t_a", "_t_b")


def match_edges(
    scored_pairs: DataFrame, jaccard_threshold: float | None = None
) -> DataFrame:
    """Thresholded match decisions -> edge list for clustering."""
    out = scored_pairs
    if jaccard_threshold is not None:
        out = out.where(F.col("jaccard") >= jaccard_threshold)
    return out.select(F.col("ref_a").alias("src"), F.col("ref_b").alias("dst"))


def token_sort_key(col):
    """Word-order-insensitive canonical form: whitespace tokens sorted and
    re-joined (fuzzywuzzy's token_sort transform). Input should already be
    normalized ([a-z ]); pure JVM array ops, no UDF."""
    return F.concat_ws(
        " ", F.sort_array(F.filter(F.split(col, " "), lambda w: w != F.lit("")))
    )


def token_sort_ratio(a, b):
    """Token-sort similarity ratio in [0, 1]:
    ``1 - levenshtein(sort(a), sort(b)) / max(len)`` -- fuzzywuzzy's
    token_sort_ratio re-expressed on the JVM (both engines' builtin
    ``levenshtein`` is the standard integer edit distance, so the score
    is exactly reproducible in SQL). Word-order swaps ("john smith" vs
    "smith john") score 1.0 where raw edit distance would not; two empty
    strings score 1.0. A refinement: at scale, compute it only on pairs
    that already passed the cheap set-similarity threshold, never on the
    raw candidate set."""
    sa, sb = token_sort_key(a), token_sort_key(b)
    mx = F.greatest(F.length(sa), F.length(sb))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(sa, sb) / mx
    )
