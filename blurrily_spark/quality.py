"""Distributed blocking and clustering-quality metrics (the correctness-gate
math at scale), each a lazy DataFrame.

The pytest harness computes pairwise F1 with driver-side itertools -- fine
for spec corpora, O(n^2) death at 10^12 turns. Here same-cluster pair
counts are sums of c*(c-1)/2 over cluster sizes, and true positives come
from the (pred_label, true_label) contingency table, so no same-cluster
pair is ever materialized (:func:`cluster_metrics`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blurrily_spark.operators.pairs import join_pair_ends


def blocking_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    id_col: str = "ref",
    truth_col: str = "entity_true",
) -> DataFrame:
    """Blocking-scheme scorecard as a ONE-ROW DataFrame (no collect).

    The standard evaluation triple for ER blocking (Christen, *Data
    Matching* 2012, §7.3): given the candidate-pair set a blocker proposed
    and ground-truth entity labels, report

    * ``reduction_ratio``   = 1 - |C| / (n·(n-1)/2) — how much of the
      quadratic comparison space the blocker pruned;
    * ``pairs_completeness`` = |C ∩ M| / |M| — recall: the fraction of true
      matching pairs the blocker kept;
    * ``pairs_quality``      = |C ∩ M| / |C| — precision: the fraction of
      proposed pairs that are true matches;

    plus their harmonic mean ``pq_pc_f1`` and the raw counts. Together with
    :func:`cluster_metrics` (which scores the *clustering*), this closes the
    evaluation loop: blocking_metrics says whether candidate generation is
    the bottleneck, cluster_metrics whether scoring/clustering is.

    ``candidates`` is (ref_a, ref_b) — extra columns ignored, each unordered
    pair expected once (the pair convention of ``operators/pairs.py``;
    enforced here by a canonical reorder + distinct so double-counted
    input can't inflate PQ).
    ``truth`` is (id_col, truth_col), one row per record in the *blocked
    universe* (n comes from it).

    Scale shape: |M| and n reduce over truth cluster sizes (two groupBys of
    the label table — no pair materialization); |C ∩ M| is two equi-joins of
    the candidate set against the label table then a count. Every aggregate
    is integer arithmetic; the only floats are three final divisions, so the
    result is bit-identical across engines (DuckDB oracle `blocking_metrics`
    in the driver contract).
    """
    t = truth.select(F.col(id_col).alias("ref"), F.col(truth_col).alias("_t"))
    sizes = t.groupBy("_t").agg(F.count(F.lit(1)).alias("c"))
    totals = sizes.agg(
        F.sum("c").alias("n_items"),
        F.expr("sum((c * (c - 1)) DIV 2)").alias("true_matches"),
    )

    cand = (
        candidates.select(
            F.least("ref_a", "ref_b").alias("ref_a"),
            F.greatest("ref_a", "ref_b").alias("ref_b"),
        )
        .where(F.col("ref_a") < F.col("ref_b"))
        .dropDuplicates(["ref_a", "ref_b"])
    )
    cstats = join_pair_ends(cand, t, "ref", ["_t"]).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(
            F.sum((F.col("_t_a") == F.col("_t_b")).cast("long")), F.lit(0)
        ).alias("tp_candidates"),
    )

    one = totals.crossJoin(cstats)
    # integer DIV keeps n(n-1)/2 exact past 2^53 (n ~ 1.3e8), matching the
    # true_matches expression above; identical values at any smaller n
    total_pairs = F.expr("(n_items * (n_items - 1)) DIV 2")
    rr = F.when(
        total_pairs > 0, F.lit(1.0) - F.col("n_candidates") / total_pairs
    ).otherwise(F.lit(0.0))
    pc = F.when(
        F.col("true_matches") > 0, F.col("tp_candidates") / F.col("true_matches")
    ).otherwise(F.lit(0.0))
    pq = F.when(
        F.col("n_candidates") > 0, F.col("tp_candidates") / F.col("n_candidates")
    ).otherwise(F.lit(0.0))
    f1 = F.when(pc + pq > 0, F.lit(2.0) * pc * pq / (pc + pq)).otherwise(F.lit(0.0))
    return one.select(
        F.col("n_items").cast("long").alias("n_items"),
        total_pairs.alias("total_pairs"),
        F.col("true_matches").cast("long").alias("true_matches"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("tp_candidates").cast("long").alias("tp_candidates"),
        F.round(rr, 6).alias("reduction_ratio"),
        F.round(pc, 6).alias("pairs_completeness"),
        F.round(pq, 6).alias("pairs_quality"),
        F.round(f1, 6).alias("pq_pc_f1"),
    )


def threshold_sweep(
    scored: DataFrame,
    truth: DataFrame,
    thresholds: list[float],
    score_col: str = "jaccard",
    id_col: str = "ref",
    truth_col: str = "entity_true",
) -> DataFrame:
    """Match-decision P/R/F1 at each threshold -- ONE row per threshold.

    The calibration tool for the ``jaccard_threshold`` knob every linkage
    pipeline exposes: given the blocker's scored candidate pairs and
    ground-truth entity labels, report per threshold t the retained-pair
    count, TP / FP / FN, and pairwise precision / recall / F1 of the
    decision ``score >= t``. FN counts ALL true matching pairs the decision
    misses -- including those the blocker never proposed -- so recall here
    is end-to-end (blocking loss included), consistent with
    :func:`blocking_metrics`' pairs-completeness.

    ``scored`` must carry each unordered candidate pair once (the contract
    every blocker in this package already meets); ``truth`` is one row per
    record with its true entity label.

    Scale shape: ONE pass over the scored pairs -- per threshold a pair of
    conditional integer sums in a single map-side-combined aggregation to
    one row (no explode: a T-threshold sweep does NOT replicate the pair
    set T times) -- then a driver-tiny ``stack`` unpivot to T rows. |M|
    reduces over truth cluster sizes exactly as in :func:`blocking_metrics`.
    All counts are integer-exact; floats appear only in the final
    divisions, so the result is bit-identical across engines.
    """
    ts = sorted({float(t) for t in thresholds})
    if not ts:
        raise ValueError("thresholds must be non-empty")
    t = truth.select(F.col(id_col).alias("ref"), F.col(truth_col).alias("_t"))
    totals = (
        t.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.expr("sum((c * (c - 1)) DIV 2)").alias("true_matches"))
    )

    lab = join_pair_ends(
        scored.select("ref_a", "ref_b", F.col(score_col).alias("_s")), t, "ref", ["_t"]
    ).select("_s", (F.col("_t_a") == F.col("_t_b")).cast("long").alias("_m"))
    aggs = []
    for i, th in enumerate(ts):
        keep = (F.col("_s") >= F.lit(th)).cast("long")
        aggs.append(F.coalesce(F.sum(keep), F.lit(0)).alias(f"_k{i}"))
        aggs.append(F.coalesce(F.sum(keep * F.col("_m")), F.lit(0)).alias(f"_tp{i}"))
    wide = lab.agg(*aggs).crossJoin(F.broadcast(totals))

    stack = ", ".join(
        f"CAST({th!r} AS DOUBLE), _k{i}, _tp{i}" for i, th in enumerate(ts)
    )
    long = wide.selectExpr(
        "true_matches",
        f"stack({len(ts)}, {stack}) AS (threshold, kept_pairs, tp)",
    )
    prec = F.when(
        F.col("kept_pairs") > 0, F.col("tp") / F.col("kept_pairs")
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("true_matches") > 0, F.col("tp") / F.col("true_matches")
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return long.select(
        F.col("threshold"),
        F.col("kept_pairs").cast("long").alias("kept_pairs"),
        F.col("tp").cast("long").alias("tp"),
        (F.col("kept_pairs") - F.col("tp")).cast("long").alias("fp"),
        (F.col("true_matches") - F.col("tp")).cast("long").alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def cluster_stats(
    assign: DataFrame,
    edges: DataFrame,
    id_col: str = "ref",
    entity_col: str = "entity_id",
) -> DataFrame:
    """Per-cluster size / internal-edge count / density diagnostics.

    The over-merge detector for transitive closure: connected components
    happily chain A-B-C-...-Z into one entity through weak links, and at
    web scale one such "black hole" cluster can swallow millions of
    records. Density = internal edges / complete-graph edges exposes it --
    a genuine duplicate group is near-complete (density ~ 1.0) because
    every member matches every other, while a transitive chain over k
    records has only ~k edges out of k*(k-1)/2 (density -> 0). Returns one
    row per cluster: ``(entity_id, size, n_edges, density)``.

    Scale shape: sizes are one groupBy of the assignment; internal-edge
    counts are two equi-joins of the edge list against the assignment (the
    same class as the CC iteration itself) plus one groupBy; the final
    left join fills edge-less clusters with 0. Nothing is materialized per
    pair beyond the edge list the caller already has. Singleton clusters
    report density 0.0.
    """
    a = assign.select(
        F.col(id_col).alias("_id"), F.col(entity_col).alias("entity_id")
    )
    sizes = a.groupBy("entity_id").agg(F.count(F.lit(1)).alias("size"))
    ec = (
        edges.select("src", "dst")
        .join(a.select(F.col("_id").alias("src"), F.col("entity_id").alias("_ea")), "src")
        .join(a.select(F.col("_id").alias("dst"), F.col("entity_id").alias("_eb")), "dst")
        .where(F.col("_ea") == F.col("_eb"))
        .groupBy(F.col("_ea").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    out = sizes.join(ec, "entity_id", "left").withColumn(
        "n_edges", F.coalesce(F.col("n_edges"), F.lit(0))
    )
    density = F.when(
        F.col("size") > 1,
        F.col("n_edges") / (F.col("size") * (F.col("size") - 1) / F.lit(2.0)),
    ).otherwise(F.lit(0.0))
    return out.select(
        "entity_id",
        F.col("size").cast("long").alias("size"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(density, 6).alias("density"),
    )


def cluster_metrics(
    assign: DataFrame,
    id_col: str = "ref",
    pred_col: str = "entity_id",
    truth_col: str = "entity_true",
    exact_scale: int = 10**9,
) -> DataFrame:
    """Full clustering-quality scorecard as a ONE-ROW DataFrame (no collect).

    Input: one row per item with predicted and true cluster labels. Output
    columns: ``n_items``, pairwise ``tp_pairs / pred_pairs / true_pairs /
    pairwise_precision / pairwise_recall / pairwise_f1``, and B-cubed
    ``bcubed_precision / bcubed_recall / bcubed_f1`` (Bagga & Baldwin 1998;
    the standard pair of ER evaluation metrics -- pairwise is the north
    rule's F1 gate itself, B-cubed weights every *item* equally so giant
    clusters can't drown the tail).

    Everything reduces over the (pred, true) CONTINGENCY TABLE -- at most
    one row per non-empty label intersection -- so no pair is ever
    materialized: tp = sum n_ij*(n_ij-1)/2, pairwise totals come from the
    marginal sizes, and B-cubed precision/recall are
    sum(n_ij^2 / n_i.) / N and sum(n_ij^2 / n_.j) / N.

    Cross-engine determinism: double SUMS are partition-order dependent, so
    the B-cubed numerators aggregate as *scaled integers* instead --
    floor(n^2 * exact_scale / size) per cell, computed overflow-safely as
    ``(n*n DIV size)*S + ((n*n MOD size)*S) DIV size`` -- making every
    aggregate exact integer math (bit-identical in any engine; truncation
    error <= 1/exact_scale total). The only floats are final single
    divisions. ANSI mode turns any overflow into a loud error; if a single
    cluster exceeds ~9.2e18/exact_scale members, lower ``exact_scale``.
    """
    s = int(exact_scale)
    if s <= 10**6:
        raise ValueError("exact_scale must exceed 1e6 to survive round-6 output")
    a = assign.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("_p"), F.col(truth_col).alias("_t")
    )
    cells = a.groupBy("_p", "_t").agg(F.count(F.lit(1)).alias("n"))
    pred_sizes = cells.groupBy("_p").agg(F.sum("n").alias("np"))
    true_sizes = cells.groupBy("_t").agg(F.sum("n").alias("nt"))

    def _scaled_div(num: str, den: str):
        # floor(num * s / den) without forming num * s
        return F.expr(f"({num} DIV {den}) * {s} + (({num} % {den}) * {s}) DIV {den}")

    core = (
        cells.join(pred_sizes, "_p")
        .join(true_sizes, "_t")
        .agg(
            F.sum("n").alias("n_items"),
            F.expr("sum((n * (n - 1)) DIV 2)").alias("tp_pairs"),
            F.sum(_scaled_div("n * n", "np")).alias("_bp"),
            F.sum(_scaled_div("n * n", "nt")).alias("_br"),
        )
    )
    pp = pred_sizes.agg(F.expr("sum((np * (np - 1)) DIV 2)").alias("pred_pairs"))
    tp_ = true_sizes.agg(F.expr("sum((nt * (nt - 1)) DIV 2)").alias("true_pairs"))
    one = core.crossJoin(pp).crossJoin(tp_)

    prec = F.when(F.col("pred_pairs") > 0, F.col("tp_pairs") / F.col("pred_pairs")).otherwise(F.lit(0.0))
    rec = F.when(F.col("true_pairs") > 0, F.col("tp_pairs") / F.col("true_pairs")).otherwise(F.lit(0.0))
    bp = F.col("_bp") / F.lit(float(s)) / F.col("n_items")
    br = F.col("_br") / F.lit(float(s)) / F.col("n_items")

    def _f1(p, r):
        return F.when(p + r > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0))

    return one.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("tp_pairs").cast("long").alias("tp_pairs"),
        F.col("pred_pairs").cast("long").alias("pred_pairs"),
        F.col("true_pairs").cast("long").alias("true_pairs"),
        F.round(prec, 6).alias("pairwise_precision"),
        F.round(rec, 6).alias("pairwise_recall"),
        F.round(_f1(prec, rec), 6).alias("pairwise_f1"),
        F.round(bp, 6).alias("bcubed_precision"),
        F.round(br, 6).alias("bcubed_recall"),
        F.round(_f1(bp, br), 6).alias("bcubed_f1"),
    )
