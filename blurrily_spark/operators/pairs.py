"""Batch blocking: candidate-pair generation by trigram self-join.

The reference has no batch pair operator -- its only join-shaped op is FIND's
gather (needle ⋈ postings, ext/blurrily/storage.c:497-520). Generating all
candidate pairs is the batch generalization: semantically identical to
running ``find`` once per stored needle, i.e. a *self-join of postings on
trigram* (SURVEY.md §2.6). ``matches(a, b) = |T(a) ∩ T(b)|`` exactly as in
F4 (storage.c:527-563), because both sides are trigram-deduped.

Scale design (the part the single-node reference never had to solve):

* **Bounded key space.** There are at most 28^3 = 21952 trigram codes
  (ext/blurrily/storage.c:30), so the per-trigram document frequencies
  always fit in a broadcast -- heavy-key decisions are cheap, and they
  stay in the plan instead of passing through the driver.
* **Skew.** Trigram DF is Zipf-like; a trigram with df=d contributes
  d*(d-1)/2 pairs. Two levers, composable:
  - ``max_df``: drop trigrams with df > max_df from *blocking* (the
    pg_trgm-style cost guard; off by default because the reference has no
    cap and capping changes ``matches`` counts).
  - AQE skew-join (enabled in get_spark): splits oversized partitions at
    runtime.
* **Pair convention.** A pair set names its two records ``<id>_a`` and
  ``<id>_b`` with ``<id>_a < <id>_b``: each unordered pair appears once,
  no record pairs with itself, and a NULL id pairs with nothing. A
  per-record column ``c`` carried onto a pair is ``c_a`` / ``c_b``.
  :func:`self_join_pairs` builds such a set from the rows that share a key
  and :func:`join_pair_ends` attaches a per-record table to both ends;
  every blocker and scorer in the package goes through the two.
* **Block purge.** Every key cap (``max_df``, ``TOKEN_BLOCK_MAX_DF``,
  ``PHONETIC_MAX_BLOCK``) goes
  through :func:`purge_blocks`: an anti-join against the broadcast list of
  the keys whose block exceeds the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import shuffle_partitions


def self_join_pairs(
    rows: DataFrame, keys: str | list[str], id_col: str, carry: list[str]
) -> DataFrame:
    """Every pair of ``rows`` that share ``keys``, once per shared key, in
    the pair convention: ``(keys..., <id>_a, <c>_a..., <id>_b, <c>_b...)``
    for each carried column ``c`` of ``carry``. An empty ``keys`` pairs
    every two rows (a cross join); a NULL key joins nothing."""
    keys = [keys] if isinstance(keys, str) else list(keys)

    def end(s: str) -> DataFrame:
        return rows.select(
            *keys,
            F.col(id_col).alias(f"{id_col}_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    a, b = end("a"), end("b")
    joined = a.join(b, keys) if keys else a.crossJoin(b)
    return joined.where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))


def join_pair_ends(
    pairs: DataFrame, table: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """``pairs`` with each column ``c`` of ``cols`` of ``table`` attached to
    both ends as ``c_a`` / ``c_b``: two inner joins, ``table.<key>`` on
    ``<key>_a`` and then on ``<key>_b``. A pair whose end is missing from
    ``table`` drops out and duplicate pairs stay duplicates; ``table`` is
    meant to hold one row per record (k rows of a record repeat each of its
    pairs k times)."""

    def end(s: str) -> DataFrame:
        return table.select(
            F.col(key).alias(f"{key}_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in cols]
        )

    return pairs.join(end("a"), f"{key}_a").join(end("b"), f"{key}_b")


def purge_blocks(rows: DataFrame, key: str, cap: int, cap_name: str) -> DataFrame:
    """``rows`` without the rows whose ``key`` occurs more than ``cap``
    times: block purging, the pg_trgm-style cost guard of a key-blocked
    self-join. ``cap_name`` names the cap (the caller's keyword or
    constant) in the error for a cap below 2 (a cap of 1 leaves no block
    that pairs anything).

    The hot list is broadcast, whatever the key space: at most
    ``rows / (cap + 1)`` keys can exceed the cap, so it is the small side of
    a left-anti join that adds no exchange below the self-join. A NULL key
    survives the purge and still joins nothing after it."""
    if cap < 2:
        raise ValueError(f"{cap_name} must be >= 2, got {cap}")
    hot = (
        rows.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select(key)
    )
    return rows.join(F.broadcast(hot), key, "left_anti")


def trigram_df_counts(postings: DataFrame) -> DataFrame:
    """Per-trigram document frequency. At most 21952 rows -- always tiny."""
    return postings.groupBy("trigram").agg(F.count(F.lit(1)).alias("df"))


def candidate_pairs(
    postings: DataFrame,
    min_matches: int = 1,
    max_df: int | None = None,
    keys_only: bool = False,
) -> DataFrame:
    """All candidate pairs sharing >= min_matches trigrams.

    Returns ``(ref_a, ref_b, matches, weight_a, weight_b)``. ``matches`` is
    the shared-unique-trigram count -- identical to what FIND would report
    for either record queried against the other (modulo the query side's
    own tokenization, which for stored records is the same tokenizer).

    ``keys_only=True`` returns just the DISTINCT ``(ref_a, ref_b)`` set --
    the two-phase blocking contract, where :func:`rescore_pairs_exact`
    recomputes matches/jaccard/weights exactly anyway: the pair-dedup
    shuffle (the dominant shuffle of the linkage pipeline) then carries two
    longs per collision instead of two longs plus a count and two weight
    aggregation buffers. Requires ``min_matches == 1`` (phase 1 cannot
    threshold a count it does not compute)."""
    if keys_only and min_matches > 1:
        raise ValueError("keys_only candidate generation cannot apply min_matches")
    carry = [] if keys_only else ["weight"]
    p = postings.select("trigram", "ref", *carry)
    if max_df is not None:
        p = purge_blocks(p, "trigram", max_df, "max_df")

    joined = self_join_pairs(p, "trigram", "ref", carry)
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
        F.col(weight_col).alias("weight"),
    )
    # ``matches`` comes out of a one-element explode: a filter on it (the
    # pipeline's min_matches) cannot be pushed below a generator, so the
    # optimizer never copies the intersection into the join condition and
    # each candidate pays for one array_intersect, not two.
    matches = F.explode(F.array(F.size(F.array_intersect("_tg_a", "_tg_b")).cast("long")))
    return (
        join_pair_ends(candidates.select("ref_a", "ref_b"), recs, "ref", ["_tg", "weight"])
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
    counts = ref_trigram_counts(postings).select("ref", F.col("n_trigrams").alias("tg"))
    return join_pair_ends(pairs, counts, "ref", ["tg"]).withColumn(
        "jaccard",
        F.col("matches") / (F.col("tg_a") + F.col("tg_b") - F.col("matches")).cast("double"),
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


# shared distinct words a token-blocking pair needs
TOKEN_BLOCK_MIN_MATCHES = 3
TOKEN_BLOCK_MAX_DF = 80  # documents above which a token's block is purged


def token_blocking_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token blocking: candidate pairs sharing at least
    :data:`TOKEN_BLOCK_MIN_MATCHES` (3) distinct words, on the tokens of
    at most :data:`TOKEN_BLOCK_MAX_DF` (80) documents.

    The schema-agnostic baseline blocker of the meta-blocking literature
    (Papadakis et al.: every record pair co-occurring in at least one
    token-keyed block is a candidate): records are normalized with the same
    S1 pipeline as trigram blocking, split on whitespace, and paired on
    shared DISTINCT tokens -- ``matches`` = shared-token count, directly
    comparable to trigram ``matches`` and usable as a CBS weight for
    :func:`meta_blocking_prune`. Higher per-block recall and far hotter
    blocks than trigram keys (a stopword's block is the whole corpus), so
    the df purge is load-bearing here, not optional hygiene.

    Scale shape: one token-keyed equi-self-join, same class as
    :func:`candidate_pairs`; the df purge (:func:`purge_blocks`) rides one
    group-by of the keyed projection. The token vocabulary is unbounded,
    but the purge broadcasts only the hot tokens, of which there are at
    most ``rows / 81``.
    """
    from blurrily_spark.functions.tokenizer import with_normalized

    toks = (
        with_normalized(docs, text_col, "_norm")
        .select(
            F.col(id_col).cast("long").alias("ref"),
            F.explode(F.split(F.col("_norm"), " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    toks = purge_blocks(toks, "token", TOKEN_BLOCK_MAX_DF, "TOKEN_BLOCK_MAX_DF")
    return (
        self_join_pairs(toks, "token", "ref", [])
        .groupBy("ref_a", "ref_b")
        .agg(F.count(F.lit(1)).alias("matches"))
        .where(F.col("matches") >= TOKEN_BLOCK_MIN_MATCHES)
    )


# -- idf-weighted cosine scoring -----------------------------------------------


# idf weights are scaled to int64 by this factor; see idf_weighted_pairs
IDF_SCALE = 1_000_000


def _idf_weights(p: DataFrame) -> DataFrame:
    """``(trigram, _w)``: the RSJ-style rational idf of each trigram of the
    postings ``p``, scaled by :data:`IDF_SCALE` and rounded to int64."""
    nn = p.agg(F.count_distinct("ref").alias("_n"))
    return (
        trigram_df_counts(p)
        .crossJoin(F.broadcast(nn))
        .select(
            "trigram",
            F.floor(
                (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                * F.lit(float(IDF_SCALE))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_w"),
        )
    )


def idf_weighted_pairs(postings: DataFrame) -> DataFrame:
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
    (``floor(w * IDF_SCALE + 0.5)``), so every sum is order-independent
    integer math -- no float-summation nondeterminism anywhere; floats
    appear only in the final division. The scale trades precision for
    headroom: the per-record sum must fit int64, so with 1e6 keep
    ``N * IDF_SCALE * keys_per_record < 2^63`` (corpora beyond ~10^8
    records need a smaller scale).

    Scale shape: the same trigram self-join as :func:`candidate_pairs`
    (the dot product rides the existing pair aggregation -- ``sum(w)``
    instead of ``count(*)``), the <= 28^3-row weight table broadcast onto
    both sides, and two per-ref weight-sum joins exactly like
    :func:`with_jaccard`'s count joins.
    """
    p = postings.select("trigram", "ref")
    pw = p.join(F.broadcast(_idf_weights(p)), "trigram")
    wsums = pw.groupBy("ref").agg(F.sum("_w").alias("_wsum"))
    # the unread ``_w_b`` is pruned below the join
    dots = (
        self_join_pairs(pw, "trigram", "ref", ["_w"])
        .groupBy("ref_a", "ref_b")
        .agg(F.count(F.lit(1)).alias("matches"), F.sum("_w_a").alias("_dot"))
    )
    wa, wb = F.col("_wsum_a").cast("double"), F.col("_wsum_b").cast("double")
    return join_pair_ends(dots, wsums, "ref", ["_wsum"]).select(
        "ref_a",
        "ref_b",
        "matches",
        (F.col("_dot") / F.sqrt(wa * wb)).alias("idf_cos"),
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


# the share of its blocks a record keeps (the EDBT 2016 paper keeps 0.8)
BLOCK_FILTER_RATIO = 0.6


def block_filtering(postings: DataFrame) -> DataFrame:
    """Keep each record's smallest ``ceil(0.6 * |blocks|)`` blocks
    (:data:`BLOCK_FILTER_RATIO`).

    Block filtering (Papadakis, Papastefanatos, Palpanas & Koubarakis,
    "Scaling Entity Resolution to Large, Heterogeneous Data with Enhanced
    Meta-blocking", EDBT 2016 §3): before any pairing, each record retains
    only the fraction :data:`BLOCK_FILTER_RATIO` of its blocking keys with
    the SMALLEST document frequency -- its most discriminative blocks
    (0.6 here where the paper keeps 0.8). This is the per-record
    complement to the global ``max_df`` cap (block purging): purging drops
    a stopword-like block for everyone, filtering lets a record with many
    keys shed its crowded ones while a short record keeps all it has. Output is a filtered postings DataFrame (same columns), fed
    straight into :func:`candidate_pairs` / :func:`meta_blocking_prune`.

    Distributed shape: block sizes are the bounded <= 28^3-row
    :func:`trigram_df_counts` aggregate, broadcast back onto postings; the
    per-record rank is a window PARTITIONED BY ref (a plain equi-key
    shuffle -- no single-task window), ordered by ``(df, trigram)`` which
    is a total order because postings are per-record deduped, so the kept
    set is deterministic and bit-identical to the SQL oracle.
    """
    sizes = trigram_df_counts(postings.select("trigram"))
    p = postings.join(F.broadcast(sizes), "trigram")
    by_ref = Window.partitionBy("ref")
    ordered = by_ref.orderBy(F.col("df").asc(), F.col("trigram").asc())
    return (
        p.withColumn("_rn", F.row_number().over(ordered))
        .withColumn("_cnt", F.count(F.lit(1)).over(by_ref))
        .where(F.col("_rn") <= F.ceil(F.lit(BLOCK_FILTER_RATIO) * F.col("_cnt")))
        .select(*postings.columns)
    )


# -- meta-blocking (candidate-graph pruning) -----------------------------------
#
# Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the Next
# Level" (TKDE 2014): treat the blocker's candidate pairs as a weighted
# graph and prune low-evidence edges BEFORE pairwise scoring. The classic
# weight is CBS (common-blocks scheme) = number of shared blocking keys --
# exactly the ``matches`` column candidate_pairs already computes, so
# meta-blocking composes with the existing blocker for free. The pruning
# scheme is WNP (weighted-node pruning): per-node mean of incident-edge
# weights; an edge survives if its weight clears the mean of EITHER
# endpoint (the paper's redefined/union WNP -- guarantees every
# non-isolated node retains its max-weight edge, so no record is orphaned
# by pruning).
#
# Distributed shape: each edge explodes into its two endpoint rows and the
# node statistics come off a window partitioned by node; the edge-level OR
# is a second window over the edge's own key -- so the input is read once
# and nothing is joined back or re-paired (pruning is a filter). Mean
# comparisons are evaluated as ``w * cnt >= sum_w`` so integer weights
# (CBS/matches) stay exact integer math end-to-end -- bit-identical to the
# DuckDB oracle.


def meta_blocking_prune(edges: DataFrame, weight_col: str = "matches") -> DataFrame:
    """Prune the candidate-pair graph by edge-weight evidence (meta-blocking).

    ``edges`` is any (ref_a, ref_b, <weight_col>, ...) candidate set --
    typically :func:`candidate_pairs` output with CBS weights in
    ``matches``. Returns the surviving edges with all input columns.

    Weighted-node pruning, union semantics: keep an edge iff
    ``w >= mean(incident weights of ref_a)`` OR the same for ``ref_b``.
    Ties keep (>=), so WNP provably retains each node's max-weight edge.
    """
    w = F.col(weight_col)
    # one row per (edge, endpoint): _side 0 is ref_a's row, 1 is ref_b's
    ends = edges.select(
        "*", F.posexplode(F.array("ref_a", "ref_b")).alias("_side", "_node")
    )
    by_node = Window.partitionBy("_node")
    node_keep = w * F.count(F.lit(1)).over(by_node) >= F.sum(w).over(by_node)
    # duplicate edges share endpoints and weight, hence the same flags,
    # so the edge key needs no row id; side 0 then carries each input row
    # and a side-1 row matters only when it keeps the edge
    by_edge = Window.partitionBy("ref_a", "ref_b", weight_col)
    return (
        ends.withColumn("_keep", node_keep)
        .where((F.col("_side") == 0) | F.col("_keep"))
        .withColumn("_keep", F.max("_keep").over(by_edge))
        # a NULL endpoint names no record, so its edge is never kept
        .where(
            (F.col("_side") == 0)
            & F.col("_keep")
            & F.col("ref_a").isNotNull()
            & F.col("ref_b").isNotNull()
        )
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
# (2) partition row counts (<= P rows), read off the same exchange, turn
# into broadcast cumulative offsets, and rank = index in the sorted
# partition + offset.
# Nothing reaches the driver and no job runs before the action. Identical
# output to single-task `row_number`, verified against exactly that SQL by
# the DuckDB oracle.
SNM_WINDOW = 4  # a record pairs with its SNM_WINDOW - 1 sort successors


def global_sort_ranks(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Exact 1-based global rank of every row under ``ORDER BY key, id``,
    without a single-task window. Returns ``(id_col, key_col, rank)``.

    A plan, not a job: one range shuffle of the keys-only projection over
    P = the session's shuffle partitions. Its per-partition counts and its
    rows read that one exchange (executed as a ``ReusedExchange``), so both
    see the same sampled range bounds. Each pid's offset is the sum of the
    counts of the pids before it: every count row fans out to the later
    pids (at most P^2/2 rows), summed per pid and broadcast back. A row's
    rank is its index in its sorted partition plus its pid's offset, so
    the rows take no second shuffle. Exact only while Spark reuses the
    exchange, so a session with exchange reuse off is refused."""
    spark = df.sparkSession
    if spark.conf.get("spark.sql.exchange.reuse", "true").lower() == "false":
        raise ValueError("global_sort_ranks needs spark.sql.exchange.reuse=true")
    n = shuffle_partitions(spark) or spark.sparkContext.defaultParallelism
    keys = (
        df.select(id_col, key_col)
        .repartitionByRange(n, F.col(key_col), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    # a cumulative window over the counts would need one task (an Exchange
    # SinglePartition); the fan-out keeps even this P-row step keyed by pid
    before = F.when(F.col("_from") < F.col("_pid"), F.col("_n")).otherwise(0)
    offsets = (
        keys.groupBy(F.col("_pid").alias("_from"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("_from", "_n", F.explode(F.sequence("_from", F.lit(n - 1))).alias("_pid"))
        .groupBy("_pid")
        .agg(F.sum(before).alias("_off"))
    )
    # the row's index in its sorted partition: the low 33 bits of
    # monotonically_increasing_id (the partition id fills the high bits;
    # a partition holds far fewer than 2^33 rows)
    local = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    return (
        keys.sortWithinPartitions(key_col, id_col)
        .withColumn("_rn", local)
        .join(F.broadcast(offsets), "_pid")
        .select(id_col, key_col, (F.col("_rn") + F.col("_off") + 1).alias("rank"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "ref",
) -> DataFrame:
    """Candidate pairs whose global sort ranks differ by < 4 (:data:`SNM_WINDOW`).

    Returns ``(ref_a, ref_b, rank_gap)`` with ``rank_a < rank_b`` (so
    ``ref_a``/``ref_b`` follow sort order, not id order). Pairing is an
    equi-join on rank: each row fans out to its 3 successor ranks via
    ``explode(sequence(...))``, so the join carries O(3n) rows with no
    skew by construction (every rank is unique)."""
    ranked = global_sort_ranks(df, key_col, id_col)
    left = ranked.select(
        F.col(id_col).alias("ref_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (SNM_WINDOW - 1))
        ).alias("rank"),
    )
    right = ranked.select(F.col(id_col).alias("ref_b"), "rank")
    return left.join(right, "rank").select(
        "ref_a",
        "ref_b",
        (F.col("rank") - F.col("rank_a")).cast("int").alias("rank_gap"),
    )


# members above which a phonetic block is purged
PHONETIC_MAX_BLOCK = 50


def phonetic_pairs(df: DataFrame, name_col: str, id_col: str = "ref") -> DataFrame:
    """Phonetic blocking: candidate pairs of records whose ``name_col``
    shares a Soundex-class key (functions/phonetic.py) -- the classic
    record-linkage first block, catching spelling variants ("Smith" /
    "Smyth" -> S530) that trigram blocking also finds but at higher pair
    cost. Returns ``(ref_a, ref_b, pkey)``; letter-free / NULL names
    produce no key and join nothing.

    Scale shape: one equi-self-join on the key, same class as
    :func:`candidate_pairs`. Phonetic keys are FEW (max 26 * 7^3 distinct)
    and Zipf-hot (S530-class names), so a raw self-join is quadratic in
    the hottest block; :data:`PHONETIC_MAX_BLOCK` (50) is the same guardrail
    as candidate_pairs' ``max_df`` -- blocks with more than 50 members are
    dropped from pair generation entirely (a block that large
    carries no discriminating signal; recover its true matches from the
    other blocking passes, exactly the two-phase argument in
    plans/pipeline.py). The purge (:func:`purge_blocks`) rides one
    group-by of the keyed projection -- no second scan of ``df``.
    """
    from blurrily_spark.functions.phonetic import phonetic_key

    keyed = df.select(
        F.col(id_col).cast("long").alias("ref"),
        phonetic_key(F.col(name_col)).alias("pkey"),
    ).where(F.col("pkey").isNotNull())
    keyed = purge_blocks(keyed, "pkey", PHONETIC_MAX_BLOCK, "PHONETIC_MAX_BLOCK")
    return self_join_pairs(keyed, "pkey", "ref", []).select("ref_a", "ref_b", "pkey")
