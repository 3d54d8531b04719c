"""Batch blocking: candidate-pair generation by trigram self-join.

The reference has no batch pair operator -- its only join-shaped op is FIND's
gather (needle ⋈ postings, ext/blurrily/storage.c:497-520). Generating all
candidate pairs is the batch generalization: semantically identical to
running ``find`` once per stored needle, i.e. a *self-join of postings on
trigram* (SURVEY.md §2.6). ``matches(a, b) = |T(a) ∩ T(b)|`` exactly as in
F4 (storage.c:527-563), because both sides are trigram-deduped.

Scale design (the part the single-node reference never had to solve):

* **Bounded key space.** There are at most 28^3 = 21952 trigram codes
  (ext/blurrily/storage.c:30), so per-trigram document frequencies always
  fit on the driver / in a broadcast -- heavy-key decisions are cheap.
* **Skew.** Trigram DF is Zipf-like; a trigram with df=d contributes
  d*(d-1)/2 pairs. Three levers, composable:
  - ``max_df``: drop trigrams with df > max_df from *blocking* (the
    pg_trgm-style cost guard; off by default because the reference has no
    cap and capping changes ``matches`` counts).
  - AQE skew-join (enabled in get_spark): splits oversized partitions at
    runtime.
  - ``salt_buckets``: explicit salted self-join over the HOT keys only --
    the bounded key space makes the heavy-key list driver-cheap (one
    map-side-combined agg to <= 21952 rows), so the split is exact: cold
    trigrams take the plain join, hot trigrams take a salted join (left
    side split into B salt buckets by ref hash, right side replicated B
    times), and the union is the same pair multiset. Salting every key
    (the naive form) replicates the whole right side B times -- at 100 TB
    the cold 99% of the corpus would pay B x shuffle volume to fix a
    straggler caused by a handful of keys.
* **Half-matrix.** ``ref_a < ref_b`` keeps each unordered pair once.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def trigram_df_counts(postings: DataFrame) -> DataFrame:
    """Per-trigram document frequency. At most 21952 rows -- always tiny."""
    return postings.groupBy("trigram").agg(F.count(F.lit(1)).alias("df"))


def hot_trigrams(
    postings: DataFrame, salt_buckets: int, hot_df: int | None = None
) -> tuple[list, int]:
    """(hot trigram keys, resolved df threshold) for skew salting.

    One aggregation over postings (map-side combined down to <= 28^3 rows,
    always driver-small -- ext/blurrily/storage.c:30's bounded code space
    is what makes exact skew planning cheap). ``hot_df=None`` auto-derives
    the threshold from the work model: a trigram with df = d contributes
    d*(d-1)/2 ~ d^2/2 pairs, so a key deserves salting only when its own
    pair output exceeds a task's fair share of the total --
    ``d > sqrt(sum(df^2) / shuffle_partitions)`` (floored at ``2 *
    salt_buckets``: below that, splitting d rows B ways buys nothing).
    ``hot_df=0`` marks every key hot (the naive salt-everything plan,
    kept measurable for the skew bench)."""
    rows = trigram_df_counts(postings.select("trigram")).collect()
    if hot_df is None:
        n_part = int(postings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        total_sq = sum(r["df"] * r["df"] for r in rows)
        hot_df = max(2 * int(salt_buckets), math.isqrt(total_sq // max(n_part, 1)))
    return [r["trigram"] for r in rows if r["df"] > hot_df], int(hot_df)


def candidate_pairs(
    postings: DataFrame,
    min_matches: int = 1,
    max_df: int | None = None,
    salt_buckets: int | None = None,
    keys_only: bool = False,
    hot_df: int | None = None,
    hot_keys: list | None = None,
) -> DataFrame:
    """All candidate pairs sharing >= min_matches trigrams.

    Returns ``(ref_a, ref_b, matches, weight_a, weight_b)`` with
    ``ref_a < ref_b``. ``matches`` is the shared-unique-trigram count --
    identical to what FIND would report for either record queried against
    the other (modulo the query side's own tokenization, which for stored
    records is the same tokenizer).

    ``keys_only=True`` returns just the DISTINCT ``(ref_a, ref_b)`` set --
    the two-phase blocking contract, where :func:`rescore_pairs_exact`
    recomputes matches/jaccard/weights exactly anyway: the pair-dedup
    shuffle (the dominant shuffle of the linkage pipeline) then carries two
    longs per collision instead of two longs plus a count and two weight
    aggregation buffers. Requires ``min_matches == 1`` (phase 1 cannot
    threshold a count it does not compute).

    ``salt_buckets`` salts ONLY the hot keys (see :func:`hot_trigrams`;
    ``hot_df`` overrides the auto threshold): cold trigrams -- the vast
    majority at any scale -- join plainly with zero replication, hot ones
    spread over B salted tasks, and the two branches union into the same
    pair multiset (each posting row lands in exactly one branch, so each
    (trigram, pair) match is produced exactly once). Note the hot-key scan
    runs an eager aggregation job at plan-build time when salting is
    requested; callers that already ran :func:`hot_trigrams` (e.g. the
    linkage pipeline, which records the decision in its metrics) pass the
    list through ``hot_keys`` to skip the recomputation -- an explicitly
    empty list means "nothing is hot, join plainly"."""
    if keys_only and min_matches > 1:
        raise ValueError("keys_only candidate generation cannot apply min_matches")
    cols = ["trigram", "ref"] if keys_only else ["trigram", "ref", "weight"]
    p = postings.select(*cols)
    if max_df is not None:
        keep = trigram_df_counts(p).where(F.col("df") <= max_df).select("trigram")
        # keep is bounded by the 28^3 key space -> broadcast, never a shuffle
        p = p.join(F.broadcast(keep), "trigram")

    left = p.select(
        "trigram",
        F.col("ref").alias("ref_a"),
        *([] if keys_only else [F.col("weight").alias("weight_a")]),
    )
    right = p.select(
        "trigram",
        F.col("ref").alias("ref_b"),
        *([] if keys_only else [F.col("weight").alias("weight_b")]),
    )

    if hot_keys is None:
        hot_keys = []
        if salt_buckets and salt_buckets > 1:
            hot_keys, _ = hot_trigrams(p, salt_buckets, hot_df)
    elif hot_keys and not (salt_buckets and salt_buckets > 1):
        raise ValueError("hot_keys requires salt_buckets > 1")

    if hot_keys:
        b = int(salt_buckets)
        is_hot = F.col("trigram").isin(hot_keys)  # InSet over <= 21952 codes
        hot_l = left.where(is_hot).withColumn(
            "salt", F.pmod(F.xxhash64("ref_a"), F.lit(b))
        )
        hot_r = right.where(is_hot).withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(b - 1).cast("long"))),
        )
        joined = (
            left.where(~is_hot)
            .join(right.where(~is_hot), ["trigram"])
            .unionByName(hot_l.join(hot_r, ["trigram", "salt"]).drop("salt"))
            .where(F.col("ref_a") < F.col("ref_b"))
        )
    else:
        joined = left.join(right, ["trigram"]).where(F.col("ref_a") < F.col("ref_b"))

    if keys_only:
        return joined.select("ref_a", "ref_b").dropDuplicates(["ref_a", "ref_b"])

    pairs = joined.groupBy("ref_a", "ref_b").agg(
        F.count(F.lit(1)).alias("matches"),
        F.min("weight_a").alias("weight_a"),
        F.min("weight_b").alias("weight_b"),
    )
    if min_matches > 1:
        pairs = pairs.where(F.col("matches") >= min_matches)
    return pairs


def rescore_pairs_exact(
    candidates: DataFrame,
    records_with_trigrams: DataFrame,
    ref_col: str = "ref",
    tg_col: str = "trigrams",
    weight_col: str = "weight",
) -> DataFrame:
    """Exact (matches, jaccard) for a candidate pair set, via array intersect.

    Two-phase blocking, phase 2: after a *capped* blocking join proposes
    candidates (phase 1 with ``max_df`` -- hot trigrams skipped, so its
    ``matches`` are partial), join each side's full trigram array and
    compute ``size(array_intersect(tg_a, tg_b))`` -- one JVM expression per
    pair, no explode, no second self-join. Cost is O(candidates), not
    O(sum df^2): the capped join bounds candidate generation while this
    pass restores exact reference semantics.

    Returns (ref_a, ref_b, matches, jaccard, weight_a, weight_b).
    """
    recs = records_with_trigrams.select(
        F.col(ref_col).alias("ref"),
        F.col(tg_col).alias("_tg"),
        F.col(weight_col).alias("_w"),
    )
    a = recs.select(
        F.col("ref").alias("ref_a"),
        F.col("_tg").alias("_tg_a"),
        F.col("_w").alias("weight_a"),
    )
    b = recs.select(
        F.col("ref").alias("ref_b"),
        F.col("_tg").alias("_tg_b"),
        F.col("_w").alias("weight_b"),
    )
    # ``matches`` comes out of a one-element explode: a filter on it (the
    # pipeline's min_matches) cannot be pushed below a generator, so the
    # optimizer never copies the intersection into the join condition and
    # each candidate pays for one array_intersect, not two.
    matches = F.explode(F.array(F.size(F.array_intersect("_tg_a", "_tg_b")).cast("long")))
    return (
        candidates.select("ref_a", "ref_b")
        .join(a, "ref_a")
        .join(b, "ref_b")
        .select("*", matches.alias("matches"))
        .withColumn(
            "jaccard",
            F.col("matches")
            / (F.size("_tg_a") + F.size("_tg_b") - F.col("matches")).cast("double"),
        )
        .select("ref_a", "ref_b", "matches", "jaccard", "weight_a", "weight_b")
    )


def ref_trigram_counts(postings: DataFrame) -> DataFrame:
    """Unique-trigram count per stored record (|T(ref)|)."""
    return postings.groupBy("ref").agg(F.count(F.lit(1)).alias("n_trigrams"))


def with_jaccard(pairs: DataFrame, postings: DataFrame) -> DataFrame:
    """Attach trigram-set Jaccard: matches / (|T(a)| + |T(b)| - matches).

    Two shuffle joins against the per-ref trigram counts; at scale both
    sides are pre-partitioned by ref, and the counts table is ~1 row per
    record (broadcastable for dimension-sized corpora).
    """
    counts = ref_trigram_counts(postings)
    return (
        pairs.join(counts.withColumnRenamed("ref", "ref_a"), "ref_a")
        .withColumnRenamed("n_trigrams", "tg_a")
        .join(
            counts.withColumnRenamed("ref", "ref_b").withColumnRenamed(
                "n_trigrams", "tg_b"
            ),
            "ref_b",
        )
        .withColumn(
            "jaccard",
            F.col("matches")
            / (F.col("tg_a") + F.col("tg_b") - F.col("matches")).cast("double"),
        )
    )


def with_set_similarity(pairs: DataFrame, postings: DataFrame) -> DataFrame:
    """Attach the full set-similarity coefficient family to candidate pairs.

    The four classic set measures over the shared-trigram evidence
    (``m = matches``, ``a = |T(a)|``, ``b = |T(b)|``), each with a
    different bias a practitioner picks deliberately:

    * ``jaccard``  = m / (a + b - m)      -- symmetric, the default;
    * ``dice``     = 2m / (a + b)         -- Sorensen-Dice, same ordering
      as jaccard (monotone transform) but gentler on small sets;
    * ``overlap``  = m / min(a, b)        -- containment: 1.0 when the
      shorter record is a subset of the longer (truncation-style dups);
    * ``cosine``   = m / sqrt(a * b)      -- Ochiai, length-normalized
      between the two.

    Same plan as :func:`with_jaccard` (it reuses its count joins): two
    equi-joins against the per-ref trigram counts, then four codegen'd
    divisions -- sqrt on a product of two ints is deterministic IEEE, so
    every column is bit-identical across engines (no order-dependent
    float summation anywhere).
    """
    j = with_jaccard(pairs, postings)
    m = F.col("matches").cast("double")
    a, b = F.col("tg_a"), F.col("tg_b")
    return (
        j.withColumn("dice", F.lit(2.0) * m / (a + b).cast("double"))
        .withColumn("overlap", m / F.least(a, b).cast("double"))
        .withColumn("cosine", m / F.sqrt((a * b).cast("double")))
    )


# -- token blocking ------------------------------------------------------------


def token_blocking_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    min_matches: int = 1,
) -> DataFrame:
    """Token blocking: candidate pairs sharing >= ``min_matches`` words.

    The schema-agnostic baseline blocker of the meta-blocking literature
    (Papadakis et al.: every record pair co-occurring in at least one
    token-keyed block is a candidate): records are normalized with the same
    S1 pipeline as trigram blocking, split on whitespace, and paired on
    shared DISTINCT tokens -- ``matches`` = shared-token count, directly
    comparable to trigram ``matches`` and usable as a CBS weight for
    :func:`meta_blocking_prune`. Higher per-block recall and far hotter
    blocks than trigram keys (a stopword's block is the whole corpus), so
    the ``max_df`` purge is load-bearing here, not optional hygiene.

    Scale shape: one token-keyed equi-self-join, same class as
    :func:`candidate_pairs`; the df purge rides one group-by of the keyed
    projection. Unlike trigram keys the token vocabulary is unbounded, so
    the purge list is NOT forced to broadcast -- Spark picks the join
    strategy from its actual size.
    """
    from blurrily_spark.functions.tokenizer import with_normalized

    toks = (
        with_normalized(docs, text_col, "_norm", adaptive="auto")
        .select(
            F.col(id_col).cast("long").alias("ref"),
            F.explode(F.split(F.col("_norm"), " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    if max_df is not None:
        if max_df < 2:
            raise ValueError(f"max_df must be >= 2, got {max_df}")
        keep = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("token")
        )
        toks = toks.join(keep, "token")
    a = toks.select("token", F.col("ref").alias("ref_a"))
    b = toks.select("token", F.col("ref").alias("ref_b"))
    pairs = (
        a.join(b, "token")
        .where(F.col("ref_a") < F.col("ref_b"))
        .groupBy("ref_a", "ref_b")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    if min_matches > 1:
        pairs = pairs.where(F.col("matches") >= min_matches)
    return pairs


# -- idf-weighted cosine scoring -----------------------------------------------


def idf_weighted_pairs(postings: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Candidate pairs scored by df-weighted (idf) cosine over shared keys.

    The TF-IDF-family linkage scorer (Cohen et al.'s soft-TFIDF lineage,
    binary tf since postings are per-record distinct): a shared RARE
    trigram is strong match evidence, a shared stopword-grade one is
    nearly none -- unweighted ``matches`` treats them the same. Weight
    per key: the rational RSJ-style idf ``w(t) = (N - df + 0.5) /
    (df + 0.5)`` (monotone in 1/df; chosen over log-idf because division
    is correctly-rounded IEEE in every engine, so the score is
    bit-identical to the SQL oracle -- a log-idf variant is a one-line
    swap where cross-engine bit-exactness is not required). Score:
    ``idf_cos = dot / sqrt(wa * wb)`` with ``dot = sum of w over shared
    keys`` and ``wa/wb = per-record weight sums`` -- the weighted Ochiai,
    reducing to plain set cosine at w == 1.

    Exactness machinery: weights are scaled to int64
    (``floor(w * scale + 0.5)``), so every sum is order-independent
    integer math -- no float-summation nondeterminism anywhere; floats
    appear only in the final division. ``scale`` trades precision for
    headroom: the per-record sum must fit int64, so with the default 1e6
    keep ``N * scale * keys_per_record < 2^63`` (corpora beyond ~10^8
    records: drop to 1e3).

    Scale shape: the same trigram self-join as :func:`candidate_pairs`
    (the dot product rides the existing pair aggregation -- ``sum(w)``
    instead of ``count(*)``), the <= 28^3-row weight table broadcast onto
    both sides, and two per-ref weight-sum joins exactly like
    :func:`with_jaccard`'s count joins.
    """
    p = postings.select("trigram", "ref")
    nn = p.agg(F.count_distinct("ref").alias("_n"))
    w = (
        trigram_df_counts(p)
        .crossJoin(F.broadcast(nn))
        .select(
            "trigram",
            F.floor(
                (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                * F.lit(float(scale))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_w"),
        )
    )
    pw = p.join(F.broadcast(w), "trigram")
    wsums = pw.groupBy("ref").agg(F.sum("_w").alias("_wsum"))
    left = pw.select("trigram", F.col("ref").alias("ref_a"), F.col("_w"))
    right = pw.select("trigram", F.col("ref").alias("ref_b"))
    dots = (
        left.join(right, "trigram")
        .where(F.col("ref_a") < F.col("ref_b"))
        .groupBy("ref_a", "ref_b")
        .agg(F.count(F.lit(1)).alias("matches"), F.sum("_w").alias("_dot"))
    )
    return (
        dots.join(
            wsums.select(F.col("ref").alias("ref_a"), F.col("_wsum").alias("_wa")),
            "ref_a",
        )
        .join(
            wsums.select(F.col("ref").alias("ref_b"), F.col("_wsum").alias("_wb")),
            "ref_b",
        )
        .select(
            "ref_a",
            "ref_b",
            "matches",
            (
                F.col("_dot")
                / F.sqrt(F.col("_wa").cast("double") * F.col("_wb").cast("double"))
            ).alias("idf_cos"),
        )
    )


# -- multi-pass blocking -------------------------------------------------------


def multipass_candidates(schemes: dict[str, DataFrame]) -> DataFrame:
    """Union candidate pairs from several blocking passes, with provenance.

    Multi-pass blocking (Hernandez & Stolfo 1995 §4: run several cheap,
    differently-biased blocking passes and union their candidates --
    recall compounds while each pass stays narrow). ``schemes`` maps a
    pass name to its ``(ref_a, ref_b, ...)`` candidate set (trigram,
    token, phonetic, sorted-neighborhood -- anything in this module).
    Returns one row per distinct unordered pair:
    ``(ref_a, ref_b, schemes, n_schemes)`` where ``schemes`` is the
    sorted comma-joined list of passes that proposed the pair --
    provenance a scorer can weight (a pair proposed by 3 independent
    passes is stronger evidence than 1) and the knob-tuner can audit
    (which pass contributes which recall, via :func:`blocking_metrics`
    per scheme).

    Scale shape: per-pass canonicalize + tag is a projection; the union
    feeds ONE pair-keyed aggregation (map-side combined) -- the same
    dedup shuffle a single pass already pays, now shared by all of them.
    ``sort_array(collect_set(...))`` makes provenance deterministic under
    any partitioning.
    """
    if not schemes:
        raise ValueError("schemes must be non-empty")
    tagged = None
    for name, df in schemes.items():
        t = df.select(
            F.least("ref_a", "ref_b").alias("ref_a"),
            F.greatest("ref_a", "ref_b").alias("ref_b"),
            F.lit(name).alias("_scheme"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    return (
        tagged.groupBy("ref_a", "ref_b")
        .agg(F.sort_array(F.collect_set("_scheme")).alias("_s"))
        .select(
            "ref_a",
            "ref_b",
            F.array_join("_s", ",").alias("schemes"),
            F.size("_s").cast("int").alias("n_schemes"),
        )
    )


# -- block filtering (per-record block cleaning) -------------------------------


def block_filtering(postings: DataFrame, ratio: float = 0.8) -> DataFrame:
    """Keep each record's smallest ``ceil(ratio * |blocks|)`` blocks.

    Block filtering (Papadakis, Papastefanatos, Palpanas & Koubarakis,
    "Scaling Entity Resolution to Large, Heterogeneous Data with Enhanced
    Meta-blocking", EDBT 2016 §3): before any pairing, each record retains
    only the fraction ``ratio`` of its blocking keys with the SMALLEST
    document frequency -- its most discriminative blocks. This is the
    per-record complement to the global ``max_df`` cap (block purging):
    purging drops a stopword-like block for everyone, filtering lets a
    record with many keys shed its crowded ones while a short record keeps
    all it has. Output is a filtered postings DataFrame (same columns), fed
    straight into :func:`candidate_pairs` / :func:`meta_blocking_prune`.

    Distributed shape: block sizes are the bounded <= 28^3-row
    :func:`trigram_df_counts` aggregate, broadcast back onto postings; the
    per-record rank is a window PARTITIONED BY ref (a plain equi-key
    shuffle -- no single-task window), ordered by ``(df, trigram)`` which
    is a total order because postings are per-record deduped, so the kept
    set is deterministic and bit-identical to the SQL oracle.
    """
    if not (0.0 < float(ratio) <= 1.0):
        raise ValueError(f"ratio must be in (0, 1], got {ratio!r}")
    from pyspark.sql.window import Window

    sizes = trigram_df_counts(postings.select("trigram"))
    p = postings.join(F.broadcast(sizes), "trigram")
    by_ref = Window.partitionBy("ref")
    ordered = by_ref.orderBy(F.col("df").asc(), F.col("trigram").asc())
    return (
        p.withColumn("_rn", F.row_number().over(ordered))
        .withColumn("_cnt", F.count(F.lit(1)).over(by_ref))
        .where(F.col("_rn") <= F.ceil(F.lit(float(ratio)) * F.col("_cnt")))
        .select(*postings.columns)
    )


# -- meta-blocking (candidate-graph pruning) -----------------------------------
#
# Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the Next
# Level" (TKDE 2014): treat the blocker's candidate pairs as a weighted
# graph and prune low-evidence edges BEFORE pairwise scoring. The classic
# weight is CBS (common-blocks scheme) = number of shared blocking keys --
# exactly the ``matches`` column candidate_pairs already computes, so
# meta-blocking composes with the existing blocker for free. Pruning
# schemes:
#
# * WEP (weighted-edge pruning): keep edges whose weight >= the global mean
#   edge weight.
# * WNP (weighted-node pruning): per-node mean of incident-edge weights;
#   an edge survives if its weight clears the mean of EITHER endpoint
#   (the paper's redefined/union WNP -- guarantees every non-isolated node
#   retains its max-weight edge, so no record is orphaned by pruning).
#
# Distributed shape: node statistics are one groupBy over the 2|E|-row
# directed view (one row per node out), then two equi-joins back on node id
# -- the same class as with_jaccard's count joins. Nothing is ever
# re-paired; pruning is a filter. Mean comparisons are evaluated as
# ``w * cnt >= sum_w`` so integer weights (CBS/matches) stay exact integer
# math end-to-end -- bit-identical to the DuckDB oracle.


def _node_weight_stats(edges: DataFrame, weight_col: str) -> DataFrame:
    """Per-node (sum of incident edge weights, incident edge count)."""
    directed = edges.select(
        F.col("ref_a").alias("node"), F.col(weight_col).alias("_w")
    ).unionByName(
        edges.select(F.col("ref_b").alias("node"), F.col(weight_col).alias("_w"))
    )
    return directed.groupBy("node").agg(
        F.sum("_w").alias("sum_w"), F.count(F.lit(1)).alias("cnt")
    )


def meta_blocking_prune(
    edges: DataFrame, weight_col: str = "matches", scheme: str = "wnp"
) -> DataFrame:
    """Prune the candidate-pair graph by edge-weight evidence (meta-blocking).

    ``edges`` is any (ref_a, ref_b, <weight_col>, ...) candidate set --
    typically :func:`candidate_pairs` output with CBS weights in
    ``matches``. Returns the surviving edges with all input columns.

    ``scheme='wnp'``: weighted-node pruning, union semantics -- keep an
    edge iff ``w >= mean(incident weights of ref_a)`` OR the same for
    ``ref_b``. ``scheme='wep'``: keep iff ``w >= global mean edge weight``.
    Ties keep (>=), so WNP provably retains each node's max-weight edge.
    """
    if scheme not in ("wnp", "wep"):
        raise ValueError(f"unknown meta-blocking scheme: {scheme!r}")
    # Materialize the candidate graph ONCE (eager, like connected_components'
    # per-round checkpoint): every pruning scheme consumes ``edges`` at least
    # three times (the surviving stream + per-node/global stats built from a
    # union of two directed views), and Spark re-derives the full blocking
    # self-join per consumer -- measured 3x the dominant stage on the bench
    # graph, with the copies racing to fill the same cache. At scale this is
    # the same decision as staging the candidate table before pruning.
    # EAGER: the checkpoint runs the upstream job at operator-construction
    # time (streaming inputs are unsupported here), and its blocks live
    # until the JVM's periodic ContextCleaner GC -- the documented
    # localCheckpoint trade (see cluster._checkpoint_rdd). Appropriate for
    # batch analytics; a service looping these per-request should recycle
    # its session periodically.
    edges = edges.localCheckpoint()
    w = F.col(weight_col)
    if scheme == "wep":
        # one-row global stats; crossJoin broadcasts it to every partition
        totals = edges.agg(
            F.sum(weight_col).alias("_tw"), F.count(F.lit(1)).alias("_tc")
        )
        return (
            edges.crossJoin(F.broadcast(totals))
            .where(w * F.col("_tc") >= F.col("_tw"))
            .drop("_tw", "_tc")
        )
    stats = _node_weight_stats(edges, weight_col)
    sa = stats.select(
        F.col("node").alias("ref_a"),
        F.col("sum_w").alias("_sa"),
        F.col("cnt").alias("_ca"),
    )
    sb = stats.select(
        F.col("node").alias("ref_b"),
        F.col("sum_w").alias("_sb"),
        F.col("cnt").alias("_cb"),
    )
    return (
        edges.join(sa, "ref_a")
        .join(sb, "ref_b")
        .where((w * F.col("_ca") >= F.col("_sa")) | (w * F.col("_cb") >= F.col("_sb")))
        .drop("_sa", "_ca", "_sb", "_cb")
        .select(*edges.columns)
    )


# -- sorted-neighborhood blocking ---------------------------------------------
#
# The second classic ER blocking family (Hernandez & Stolfo 1995, SNM):
# sort the corpus by a blocking key and pair every record with its w-1
# successors in sort order. Complements trigram blocking: SNM catches
# near-ties the token join misses when errors hit exactly the shared
# trigrams, costs O(n * w) pairs regardless of key-frequency skew, and its
# window bound makes the candidate count a hard budget.
#
# The distributed obstacle is the GLOBAL sort rank. `row_number` over an
# unpartitioned window collapses to one task -- the classic Spark scaling
# trap -- so ranks are computed scalably in two steps over ONE range
# shuffle of a keys-only projection: (1) `repartitionByRange` on the full
# (key, id) total order (unique composite -> no boundary ties, so
# partition-local order concatenates to the exact global order),
# (2) partition row counts (<= num_partitions rows, driver-tiny) turn into
# broadcast cumulative offsets, and rank = local row_number + offset.
# Identical output to single-task `row_number`, verified against exactly
# that SQL by the DuckDB oracle.


def global_sort_ranks(
    df: DataFrame,
    key_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank of every row under ``ORDER BY key, id``,
    without a single-task window. Returns ``(id_col, key_col, rank)``.

    One range shuffle of the keys-only projection (persisted: the count
    job and the rank job share it instead of re-shuffling), a <=P-row
    count collect, and a partition-local window whose pid grouping hashes
    whole already-sorted runs -- never a global sort on one task."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = (
        df.select(id_col, key_col)
        .repartitionByRange(num_partitions, F.col(key_col), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["n"] for r in keys.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("_pid"),
    ) if offsets else F.lit(0)
    local = Window.partitionBy("_pid").orderBy(key_col, id_col)
    return keys.select(
        id_col,
        key_col,
        (F.row_number().over(local) + off).cast("long").alias("rank"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "ref",
    window: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Candidate pairs whose global sort ranks differ by < ``window``.

    Returns ``(ref_a, ref_b, rank_gap)`` with ``rank_a < rank_b`` (so
    ``ref_a``/``ref_b`` follow sort order, not id order). Pairing is an
    equi-join on rank: each row fans out to its w-1 successor ranks via
    ``explode(sequence(...))``, so the join carries O(n * (w-1)) rows with
    no skew by construction (every rank is unique). ``window`` must be
    >= 2; w=2 degenerates to adjacent-pairs."""
    if window < 2:
        raise ValueError("window must be >= 2 (w-1 successors per record)")
    ranked = global_sort_ranks(df, key_col, id_col, num_partitions)
    left = ranked.select(
        F.col(id_col).alias("ref_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (window - 1))
        ).alias("rank"),
    )
    right = ranked.select(F.col(id_col).alias("ref_b"), "rank")
    return left.join(right, "rank").select(
        "ref_a",
        "ref_b",
        (F.col("rank") - F.col("rank_a")).cast("int").alias("rank_gap"),
    )


def phonetic_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str = "ref",
    max_block: int | None = None,
) -> DataFrame:
    """Phonetic blocking: candidate pairs of records whose ``name_col``
    shares a Soundex-class key (functions/phonetic.py) -- the classic
    record-linkage first block, catching spelling variants ("Smith" /
    "Smyth" -> S530) that trigram blocking also finds but at higher pair
    cost. Returns ``(ref_a, ref_b, pkey)`` with ``ref_a < ref_b``;
    letter-free / NULL names produce no key and join nothing.

    Scale shape: one equi-self-join on the key, same class as
    :func:`candidate_pairs`. Phonetic keys are FEW (max 26 * 7^3 distinct)
    and Zipf-hot (S530-class names), so a raw self-join is quadratic in
    the hottest block; ``max_block`` is the same guardrail as
    candidate_pairs' ``max_df`` -- blocks with more than ``max_block``
    members are dropped from pair generation entirely (a block that large
    carries no discriminating signal; recover its true matches from the
    other blocking passes, exactly the two-phase argument in
    plans/pipeline.py). The count rides one group-by of the keyed
    projection -- no second scan of ``df``.
    """
    from blurrily_spark.functions.phonetic import phonetic_key

    keyed = df.select(
        F.col(id_col).cast("long").alias("_ref"),
        phonetic_key(F.col(name_col)).alias("pkey"),
    ).where(F.col("pkey").isNotNull())
    if max_block is not None:
        if max_block < 2:
            raise ValueError(f"max_block must be >= 2, got {max_block}")
        sizes = keyed.groupBy("pkey").agg(F.count(F.lit(1)).alias("_n"))
        keyed = keyed.join(
            sizes.where(F.col("_n") <= max_block).select("pkey"), "pkey"
        )
    a = keyed.select(F.col("_ref").alias("ref_a"), "pkey")
    b = keyed.select(F.col("_ref").alias("ref_b"), "pkey")
    return a.join(b, "pkey").where(F.col("ref_a") < F.col("ref_b")).select(
        "ref_a", "ref_b", "pkey"
    )
