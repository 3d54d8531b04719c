"""Read-path operator: the FIND query (reference F1-F6).

``find(needle, limit)`` -- ext/blurrily/storage.c:477-580 -- re-expressed as
one declarative Spark plan per *batch* of queries:

    queries -> tokenize (F1) -> explode -> equi-join postings on trigram (F2)
            -> groupBy(query_id, ref) count (F3+F4)
            -> rank (matches DESC, weight ASC, ref ASC) (F5)
            -> per-query top-k (F6)

* F2 gather = the blocking join; the reference copies <= len+1 posting
  lists (storage.c:497-520) -- Spark touches only matching trigram keys.
* F4 matches(ref) = |T(query) ∩ T(doc)| (storage.c:527-563); both sides are
  deduped so ``count(*)`` is the intersection size.
* F5 rank: "first results share the most trigrams; amongst equals,
  lightest first" (storage.h:99-109, comparator storage.c:129-138). The
  reference's qsort leaves full (matches, weight) ties unordered; we add
  ``ref ASC`` as a deterministic third key (its own integration spec
  expects insertion order [123, 456], spec/integration_spec.rb:37-42).
* F6 limit: default 10 (lib/blurrily/defaults.rb:6); ``limit <= 0`` =>
  default (ext/blurrily/map_ext.c:142-146).

Scale notes: the query side is a needle batch and is always broadcast
(broadcast hash join, no shuffle of the postings). The per-query top-k
compiles to WindowGroupLimit (rank-limit pushdown), not a global sort.

The batch generalizations :func:`knn_join` (per-record top-k over the
whole corpus -- FIND with the corpus as queries) and
:func:`mutual_knn_pairs` (reciprocal-kNN pair refinement) turn the read
path into threshold-free ER candidate generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import LIMIT_DEFAULT
from blurrily_spark.functions.tokenizer import add_trigrams, normalize
from blurrily_spark.operators.pairs import _idf_weights, purge_blocks


def find(
    postings: DataFrame,
    queries: DataFrame,
    query_text_col: str = "needle",
    query_id_col: str = "query_id",
    limit: int | None = None,
) -> DataFrame:
    """Batch FIND: one ranked result set per query row.

    Returns ``(query_id, ref, matches, weight, rank)`` with at most
    ``limit`` rows per query (default LIMIT_DEFAULT=10), ordered by
    (matches DESC, weight ASC, ref ASC).
    """
    # normalize in its own projection: add_trigrams reads it twice (the
    # padded text and its length), and Catalyst does not de-duplicate
    # normalize's non-deterministic reflect (ICU NFKD), so F1 is a two-step
    # select that folds each needle once.
    q = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        normalize(F.col(query_text_col)).alias("_norm"),
    )
    q = add_trigrams(q, "_norm", "_tg").select("query_id", F.explode("_tg").alias("trigram"))
    joined = F.broadcast(q).join(postings, "trigram")

    scored = joined.groupBy("query_id", "ref").agg(
        F.count(F.lit(1)).alias("matches"),
        F.min("weight").alias("weight"),  # all postings of a ref share one weight
    )

    win = Window.partitionBy("query_id").orderBy(
        F.col("matches").desc(), F.col("weight").asc(), F.col("ref").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(win))

    k = LIMIT_DEFAULT if limit is None or limit <= 0 else int(limit)
    return ranked.where(F.col("rank") <= F.lit(k)).select(
        "query_id", "ref", "matches", "weight", "rank"
    )


def knn_join(
    postings: DataFrame,
    k: int = LIMIT_DEFAULT,
    max_df: int | None = None,
    query_postings: DataFrame | None = None,
) -> DataFrame:
    """Per-record top-k similarity join: batch FIND with the corpus as queries.

    For every stored record, its ``k`` nearest other records under the
    reference's own FIND ranking (matches DESC, weight ASC, ref ASC --
    storage.h:99-109): semantically ``find(needle=text(r), limit=k)`` for
    every stored ``r`` at once, minus the self-hit. This is the
    candidate-generation mode thresholded blocking cannot express -- every
    record gets candidates even when nothing clears a global threshold
    (kNN-join ER: sparse/short records keep their best-effort matches).

    Returns ``(query_ref, ref, matches, weight, rank)``, at most ``k`` rows
    per ``query_ref``, ``rank`` 1-based in F5 order.

    ``query_postings`` restricts the query side (cross-kNN: new batch vs
    stored corpus); default is the self-join with self-pairs excluded.

    Scale design: the directed trigram self-join shares
    :func:`~blurrily_spark.operators.pairs.candidate_pairs`' skew profile --
    a trigram with df=d contributes d^2 directed collisions -- so ``max_df``
    caps blocking exactly like pg_trgm's common-key guard (a trigram shared
    by more than max_df records carries no ranking information worth d^2
    work; unlike thresholded pairs the top-k CONTRACT survives capping,
    only the matches counts of very-common-trigram ties shift; the purge is
    :func:`~blurrily_spark.operators.pairs.purge_blocks`). The
    per-query top-k compiles to WindowGroupLimit (rank-limit pushdown:
    partial top-k map-side before the window shuffle), never a global sort,
    and the window key (query_ref) is uniform by construction.
    """
    p = postings.select("trigram", "ref", "weight")
    if max_df is not None:
        p = purge_blocks(p, "trigram", max_df, "max_df")
    # no query-side purge: the inner join against the already-purged
    # postings side p restricts to kept trigrams anyway
    q = (query_postings if query_postings is not None else postings).select(
        "trigram", F.col("ref").alias("query_ref")
    )

    joined = q.join(p, "trigram").where(F.col("query_ref") != F.col("ref"))
    scored = joined.groupBy("query_ref", "ref").agg(
        F.count(F.lit(1)).alias("matches"),
        F.min("weight").alias("weight"),  # all postings of a ref share one weight
    )
    win = Window.partitionBy("query_ref").orderBy(
        F.col("matches").desc(), F.col("weight").asc(), F.col("ref").asc()
    )
    eff = LIMIT_DEFAULT if k is None or k <= 0 else int(k)
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= F.lit(eff))
        .select("query_ref", "ref", "matches", "weight", "rank")
    )


def find_idf(
    postings: DataFrame,
    queries: DataFrame,
    query_text_col: str = "needle",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Rarity-weighted FIND: rank by summed trigram idf instead of raw count.

    F4's ``matches`` treats a shared stopword-grade trigram ('e**'-class,
    df in the thousands) and a shared rare one as equal evidence; the
    reference has no notion of corpus statistics at all (its only ranking
    inputs are the count and the stored weight, storage.h:99-109). This
    variant scores each candidate by ``idf_score = sum(w(t))`` over the
    shared trigrams with the RSJ-style rational idf ``w(t) = (N - df +
    0.5) / (df + 0.5)`` scaled to int64 -- the same engine-exact weighting
    as :func:`~blurrily_spark.operators.pairs.idf_weighted_pairs` (integer
    sums are order-independent, so the score is bit-identical across
    engines; see that docstring for the ``IDF_SCALE`` headroom rule). Ties
    break like F5: weight ASC, then ref ASC.

    Returns ``(query_id, ref, matches, idf_score, weight, rank)``, at most
    ``LIMIT_DEFAULT`` (10) rows per query, FIND's default limit.
    ``matches`` is still reported, so callers can threshold on raw
    evidence while ranking by rarity.

    Scale shape: identical to :func:`find` plus one broadcast of the
    <= 28^3-row weight table onto the postings side -- the df aggregation
    is map-side combined and driver-small, the gather join and the
    WindowGroupLimit top-k are unchanged.
    """
    p = postings.select("trigram", "ref", "weight")
    pw = p.join(F.broadcast(_idf_weights(p)), "trigram")

    q = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        normalize(F.col(query_text_col)).alias("_norm"),
    )
    q = add_trigrams(q, "_norm", "_tg").select(
        "query_id", F.explode("_tg").alias("trigram")
    )
    scored = (
        F.broadcast(q).join(pw, "trigram")
        .groupBy("query_id", "ref")
        .agg(
            F.count(F.lit(1)).alias("matches"),
            F.sum("_w").alias("idf_score"),
            F.min("weight").alias("weight"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("idf_score").desc(), F.col("weight").asc(), F.col("ref").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= F.lit(LIMIT_DEFAULT))
        .select("query_id", "ref", "matches", "idf_score", "weight", "rank")
    )


def mutual_knn_pairs(
    postings: DataFrame,
    k: int = LIMIT_DEFAULT,
    max_df: int | None = None,
) -> DataFrame:
    """Reciprocal-kNN candidate pairs: keep (a, b) only when each record is
    in the OTHER's top-k under the FIND ranking.

    The classic kNN-graph refinement for entity resolution: asymmetric
    neighbours (a hub record that is everyone's nearest match without
    reciprocating) are exactly the false-positive shape that thresholded
    blocking over-generates, and mutuality prunes them with no similarity
    re-computation. Returns ``(ref_a, ref_b, matches, rank_ab, rank_ba)``
    with ``ref_a < ref_b``, one row per unordered mutual pair; ``matches``
    is symmetric (|T(a) ∩ T(b)|).

    Scale design: ONE pass over the kNN graph -- each directed edge folds
    into its unordered (least, greatest) pair key and a single
    partial-aggregating groupBy keeps the pairs seen from both directions
    (each direction occurs at most once, so count == 2 IS mutuality). No
    self-join, no second window: a naive knn ⋈ knn formulation recomputes
    the whole graph twice (Spark does not reuse the window exchange across
    the two differently-filtered reads -- measured, not assumed).
    """
    knn = knn_join(postings, k=k, max_df=max_df)
    directed = knn.select(
        F.least("query_ref", "ref").alias("ref_a"),
        F.greatest("query_ref", "ref").alias("ref_b"),
        "matches",
        F.when(F.col("query_ref") < F.col("ref"), F.col("rank")).alias("_fwd"),
        F.when(F.col("query_ref") > F.col("ref"), F.col("rank")).alias("_rev"),
    )
    return (
        directed.groupBy("ref_a", "ref_b")
        .agg(
            F.min("matches").alias("matches"),  # symmetric: both copies equal
            F.min("_fwd").alias("rank_ab"),
            F.min("_rev").alias("rank_ba"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == 2)
        .select("ref_a", "ref_b", "matches", "rank_ab", "rank_ba")
    )


def find_one(postings: DataFrame, needle: str) -> DataFrame:
    """Single-needle FIND with the reference's default limit of 10.

    The batch :func:`find` plan over a one-row needle batch: WindowGroupLimit
    (partial and final), the ``row_number`` Window and a ``rank <= 10``
    Filter, then the ``orderBy("rank")`` as an ``Exchange
    rangepartitioning`` and a global Sort over those at most 10 rows.
    Returns ``(ref, matches, weight)`` ordered like F5.
    """
    spark = postings.sparkSession
    q = spark.createDataFrame([(0, needle)], "query_id long, needle string")
    res = find(postings, q)
    return res.orderBy("rank").select("ref", "matches", "weight")
