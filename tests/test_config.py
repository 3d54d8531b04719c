"""Engine session defaults and input helpers."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql.conf import RuntimeConfig

from blurrily_spark.config import shuffle_partitions, spread_small_input


@pytest.fixture
def auto_partitions(monkeypatch):
    """Managed platforms accept ``spark.sql.shuffle.partitions=auto`` (open
    source Spark refuses it, so the conf read is stubbed)."""
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)


def test_spread_small_input_keeps_input_on_non_integer_partitions(spark, request):
    """The helper must return its input unchanged instead of raising
    ValueError."""
    df = spark.range(10)
    assert spread_small_input(df) is not df  # a tiny input is spread

    request.getfixturevalue("auto_partitions")
    assert shuffle_partitions(spark) is None
    assert spread_small_input(df) is df


def test_spread_small_input_logs_its_choice(spark, caplog):
    """Each call logs whether it spread the input, with the plan's byte
    estimate; reading the estimate launches no job."""
    caplog.set_level(logging.INFO, logger="blurrily_spark.config")
    sc = spark.sparkContext
    sc.setJobGroup("spread-log", "construction only")
    try:
        spread_small_input(spark.range(10))  # 8 bytes a row
        spread_small_input(spark.range(10**10))
        assert list(sc.statusTracker().getJobIdsForGroup("spread-log")) == []
    finally:
        sc.setJobGroup(None, None)
    msgs = [r.getMessage() for r in caplog.records if r.name == "blurrily_spark.config"]
    assert msgs == [
        f"spread_small_input: spread to {shuffle_partitions(spark)} partitions,"
        " estimate 80 bytes",
        "spread_small_input: left as is, estimate 80000000000 bytes",
    ]


def test_connected_components_loop_on_non_integer_partitions(spark, auto_partitions, monkeypatch):
    from blurrily_spark.operators import cluster
    from blurrily_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21)], "src long, dst long"
    )
    # CC_DRIVER_MAX_EDGES=0 forces the distributed loop, which sizes its
    # rounds from the partition count
    monkeypatch.setattr(cluster, "CC_DRIVER_MAX_EDGES", 0)
    labels = connected_components(edges)
    got = {r["ref"]: r["entity_id"] for r in labels.collect()}
    assert got == {**{i: 0 for i in range(9)}, 20: 20, 21: 20}


def test_global_sort_ranks_on_non_integer_partitions(spark, auto_partitions):
    from blurrily_spark.operators.pairs import global_sort_ranks

    df = spark.createDataFrame([(i, f"k{i % 3}") for i in range(9)], "id long, k string")
    ranks = {r["id"]: r["rank"] for r in global_sort_ranks(df, "k", "id").collect()}
    expected = sorted(range(9), key=lambda i: (f"k{i % 3}", i))
    assert ranks == {i: n + 1 for n, i in enumerate(expected)}
