"""Connected components vs a pure-Python union-find oracle."""

from __future__ import annotations

import random

from blurrily_spark.operators.cluster import assign_entities, connected_components


def union_find_components(edges: list[tuple[int, int]], nodes: set[int]) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component min
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


def _check(spark, edges, nodes=None):
    nodes = nodes or {n for e in edges for n in e}
    expected = union_find_components(edges, nodes)
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(n,) for n in sorted(nodes)], "ref long")
    got = {r["ref"]: r["entity_id"] for r in assign_entities(ndf, edf).collect()}
    assert got == expected


def test_simple_chain(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4)])


def test_two_components(spark):
    _check(spark, [(1, 2), (5, 6), (6, 7), (2, 1)])


def test_star_and_cycle(spark):
    _check(spark, [(10, 1), (10, 2), (10, 3), (20, 21), (21, 22), (22, 20)])


def test_self_loops_ignored(spark):
    _check(spark, [(1, 1), (1, 2), (3, 3)], nodes={1, 2, 3})


def test_random_graphs(spark):
    rng = random.Random(7)
    nodes = list(range(100))
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(120)
    ]
    _check(spark, edges, nodes=set(n for e in edges for n in e))


def test_assign_entities_includes_singletons(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "ref long")
    edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    got = {r["ref"]: r["entity_id"] for r in assign_entities(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5}


def test_iteration_checkpoints_are_freed(spark):
    """Superseded per-round localCheckpoints must be unpersisted as the loop
    advances -- leaked blocks sit in the unified memory pool until the next
    periodic JVM GC and measurably slow every subsequent job in the session
    (observed 3x on an unrelated aggregation). Only the final round's
    checkpoint may remain, and the labels must still be readable from it."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # a 64-node chain needs several large-star/small-star rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    # driver_max_edges=0: this test pins the DISTRIBUTED loop's checkpoint
    # hygiene, so the small-graph driver path must not short-circuit it
    labels = connected_components(edges, driver_max_edges=0)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, f"leaked {after - before} checkpoint RDDs"
    got = {r["ref"]: r["entity_id"] for r in labels.collect()}
    assert set(got.values()) == {0} and len(got) == 65


def test_one_job_per_iteration(spark):
    """Round-3 verdict #2: the convergence fingerprint rides on the
    checkpoint materialization via observe() -- each large-star/small-star
    round costs exactly ONE job (previously two: checkpoint + a separate
    count/bit_xor pass). Budget: 1 initial canonical checkpoint + 1 job per
    round; the final labels aggregation runs lazily on collect, outside the
    measured span."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    stats: dict = {}
    sc = spark.sparkContext
    # AQE splits one action into one job per shuffle stage, which would make
    # the job count measure plan depth, not action count -- switch it off so
    # jobs == actions for the pinned span
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-jobs-pin", "count jobs per CC round")
    try:
        # driver_max_edges=0 pins the distributed loop (the driver path
        # would make rounds == 0 and run no per-round jobs at all)
        labels = connected_components(edges, stats=stats, driver_max_edges=0)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    rounds = stats["rounds"]
    assert rounds >= 3  # a 64-chain takes several rounds; sanity
    jobs = len(sc.statusTracker().getJobIdsForGroup("cc-jobs-pin"))
    assert jobs <= rounds + 1, (
        f"{jobs} jobs for {rounds} rounds -- fingerprint is paying a "
        "separate pass again"
    )
    # and the labels are still correct
    got = {r["ref"]: r["entity_id"] for r in labels.collect()}
    assert set(got.values()) == {0} and len(got) == 65


def test_driver_path_equals_distributed(spark):
    """The small-graph driver union-find must produce EXACTLY the labels of
    the large-star/small-star loop (and of the Python oracle above)."""
    rng = random.Random(13)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(180)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    stats_d: dict = {}
    drv = {
        (r["ref"], r["entity_id"])
        for r in connected_components(edf, stats=stats_d).collect()
    }
    assert stats_d.get("driver_path") is True and stats_d["rounds"] == 0
    stats_x: dict = {}
    dist = {
        (r["ref"], r["entity_id"])
        for r in connected_components(edf, stats=stats_x, driver_max_edges=0).collect()
    }
    assert stats_x.get("driver_path") is None and stats_x["rounds"] >= 1
    assert drv == dist
    expected = union_find_components(edges, {n for e in edges for n in e})
    assert {r: e for r, e in drv} == expected


def test_golden_records_survivorship(spark):
    from blurrily_spark.operators.cluster import golden_records

    records = spark.createDataFrame(
        [
            (1, "aaaa"),       # entity 1: len 4
            (2, "bbbbbb"),     # entity 1: len 6 -> survivor
            (3, "cccccc"),     # entity 1: len 6, higher ref -> loses tie to 2
            (7, "dd"),         # singleton entity
            (9, "eee"),        # entity 9: len 3 -> survivor (10 shorter)
            (10, "ff"),
        ],
        "ref long, text string",
    )
    assignments = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "ref long, entity_id long",
    )
    got = {
        r["entity_id"]: (
            r["n_members"], r["canonical_ref"], r["canonical_len"], r["canonical_text"]
        )
        for r in golden_records(records, assignments).collect()
    }
    assert got == {
        1: (3, 2, 6, "bbbbbb"),
        7: (1, 7, 2, "dd"),
        9: (2, 9, 3, "eee"),
    }


def test_golden_records_no_window(spark):
    """Survivorship is one partial-aggregating min(struct) -- no Window
    operator (per-entity sort) anywhere in the plan."""
    from blurrily_spark.operators.cluster import golden_records

    records = spark.range(100).selectExpr(
        "id AS ref", "repeat('x', CAST(pmod(id, 7) AS INT) + 1) AS text"
    )
    assignments = spark.range(100).selectExpr("id AS ref", "pmod(id, 10) AS entity_id")
    plan = (
        golden_records(records, assignments)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_golden_records_null_text_loses(spark):
    """Null text must not win the min(struct) election (nulls sort first
    in Spark struct ordering): it ranks as the empty string, so any
    non-empty member survives instead."""
    from blurrily_spark.operators.cluster import golden_records

    recs = spark.createDataFrame(
        [(1, None), (2, "bb"), (5, None), (6, None)], "ref long, text string"
    )
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "ref long, entity_id long"
    )
    got = {
        r["entity_id"]: (r["canonical_ref"], r["canonical_len"], r["canonical_text"])
        for r in golden_records(recs, asg).collect()
    }
    assert got[1] == (2, 2, "bb")
    assert got[5] == (5, 0, "")  # all-null entity: lowest ref, empty survivor


# ---------------------------------------------------------------------------
# incremental_entities: delta folding == full recompute
# ---------------------------------------------------------------------------

def test_incremental_equals_full_recompute(spark):
    from blurrily_spark.operators.cluster import incremental_entities

    rng = random.Random(13)
    nodes = list(range(60))
    all_edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    for cut in (0, 20, 40, 80):
        old, delta = all_edges[:cut], all_edges[cut:]
        old_nodes = {n for e in old for n in e}
        prev = assign_entities(
            spark.createDataFrame([(n,) for n in sorted(old_nodes)] or [(0,)], "ref long"),
            spark.createDataFrame(old or [(0, 0)], "src long, dst long"),
        )
        got_df = incremental_entities(prev, spark.createDataFrame(delta or [(0, 0)], "src long, dst long"))
        got = {r["ref"]: r["entity_id"] for r in got_df.collect()}
        universe = old_nodes | {n for e in delta for n in e} or {0}
        expected = union_find_components([e for e in old + delta], universe)
        assert got == expected, f"cut={cut}"


def test_incremental_merges_two_prior_entities(spark):
    from blurrily_spark.operators.cluster import incremental_entities

    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50)], "ref long, entity_id long"
    )
    # delta bridges members (not minima) of the two entities + a fresh node
    delta = spark.createDataFrame([(2, 11), (99, 98)], "src long, dst long")
    got = {r["ref"]: r["entity_id"] for r in incremental_entities(prev, delta).collect()}
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 50: 50, 98: 98, 99: 98}


def test_incremental_noop_delta_preserves_assignment(spark):
    from blurrily_spark.operators.cluster import incremental_entities

    prev = spark.createDataFrame([(1, 1), (2, 1), (7, 7)], "ref long, entity_id long")
    delta = spark.createDataFrame([(1, 2)], "src long, dst long")  # already same entity
    got = {r["ref"]: r["entity_id"] for r in incremental_entities(prev, delta).collect()}
    assert got == {1: 1, 2: 1, 7: 7}


# ---------------------------------------------------------------------------
# cluster_metrics: hand-golden + python property model
# ---------------------------------------------------------------------------

def _py_metrics(pred: dict, truth: dict):
    import itertools

    ids = sorted(pred)
    tp = pp = tpr = 0
    for a, b in itertools.combinations(ids, 2):
        sp, st = pred[a] == pred[b], truth[a] == truth[b]
        tp += sp and st
        pp += sp
        tpr += st
    prec = tp / pp if pp else 0.0
    rec = tp / tpr if tpr else 0.0
    n = len(ids)
    bp = sum(
        sum(1 for j in ids if pred[j] == pred[i] and truth[j] == truth[i])
        / sum(1 for j in ids if pred[j] == pred[i])
        for i in ids
    ) / n
    br = sum(
        sum(1 for j in ids if pred[j] == pred[i] and truth[j] == truth[i])
        / sum(1 for j in ids if truth[j] == truth[i])
        for i in ids
    ) / n
    f1 = lambda p, r: 2 * p * r / (p + r) if p + r else 0.0
    return dict(tp_pairs=tp, pred_pairs=pp, true_pairs=tpr,
                pairwise_precision=prec, pairwise_recall=rec, pairwise_f1=f1(prec, rec),
                bcubed_precision=bp, bcubed_recall=br, bcubed_f1=f1(bp, br))


def _metrics_df(spark, pred, truth):
    from blurrily_spark.quality import cluster_metrics

    rows = [(i, pred[i], truth[i]) for i in sorted(pred)]
    df = spark.createDataFrame(rows, "ref long, entity_id long, entity_true long")
    return cluster_metrics(df).collect()[0].asDict()


def test_cluster_metrics_hand_golden(spark):
    pred = {1: 100, 2: 100, 3: 200, 4: 200, 5: 300}
    truth = {1: 1, 2: 1, 3: 1, 4: 2, 5: 2}
    got = _metrics_df(spark, pred, truth)
    assert got["n_items"] == 5
    assert got["tp_pairs"] == 1 and got["pred_pairs"] == 2 and got["true_pairs"] == 4
    assert got["pairwise_precision"] == 0.5
    assert got["pairwise_recall"] == 0.25
    assert got["bcubed_precision"] == 0.8
    assert got["bcubed_recall"] == round(8 / 15, 6)


def test_cluster_metrics_perfect_and_degenerate(spark):
    pred = {i: i // 3 for i in range(9)}
    got = _metrics_df(spark, pred, pred)
    for k in ("pairwise_precision", "pairwise_recall", "pairwise_f1",
              "bcubed_precision", "bcubed_recall", "bcubed_f1"):
        assert got[k] == 1.0
    # all-singleton prediction: zero predicted pairs -> precision 0, not NaN
    got = _metrics_df(spark, {i: i for i in range(4)}, {i: 0 for i in range(4)})
    assert got["pairwise_precision"] == 0.0 and got["pairwise_f1"] == 0.0
    assert got["bcubed_precision"] == 1.0  # each item alone is pure


def test_cluster_metrics_matches_python_model(spark):
    rng = random.Random(5)
    for trial in range(3):
        ids = range(40)
        pred = {i: rng.randrange(6) for i in ids}
        truth = {i: rng.randrange(5) for i in ids}
        got = _metrics_df(spark, pred, truth)
        exp = _py_metrics(pred, truth)
        for k, v in exp.items():
            if isinstance(v, float):
                assert abs(got[k] - v) < 2e-6, (trial, k, got[k], v)
            else:
                assert got[k] == v, (trial, k)


def test_cluster_metrics_exact_scale_guard(spark):
    import pytest as _pt
    from blurrily_spark.quality import cluster_metrics

    df = spark.createDataFrame([(1, 1, 1)], "ref long, entity_id long, entity_true long")
    with _pt.raises(ValueError, match="exact_scale"):
        cluster_metrics(df, exact_scale=10**6)


def test_driver_path_builds_labels_without_python_workers(spark):
    """The driver path collects the canonical edges once, cut one row past
    the bound, and returns its labels as a local relation: no Python-RDD
    scan, no checkpoint left behind, and reading the labels runs no job.
    One edge past the bound takes the distributed loop, with equal labels."""
    rng = random.Random(17)
    nodes = list(range(120))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    n_canonical = len({(max(a, b), min(a, b)) for a, b in edges})
    expected = union_find_components(edges, {n for e in edges for n in e})

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    stats: dict = {}
    labels = connected_components(edf, stats=stats, driver_max_edges=n_canonical)
    assert stats.get("driver_path") is True
    assert jsc.getPersistentRDDs().size() == before
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    sc.setJobGroup("cc-driver-labels", "read driver-path labels")
    try:
        got = {r["ref"]: r["entity_id"] for r in labels.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("cc-driver-labels") == []
    assert got == expected

    stats_x: dict = {}
    past = connected_components(edf, stats=stats_x, driver_max_edges=n_canonical - 1)
    assert stats_x.get("driver_path") is None and stats_x["rounds"] >= 1
    assert {r["ref"]: r["entity_id"] for r in past.collect()} == expected


def test_driver_path_empty_graph(spark):
    edf = spark.createDataFrame([(1, 1)], "src long, dst long")
    assert connected_components(edf).collect() == []
