"""Engine session defaults and input helpers."""

from __future__ import annotations

import math

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


def test_hot_trigrams_falls_back_to_default_parallelism(spark, auto_partitions):
    from blurrily_spark.operators.pairs import _hot_flags, trigram_df_counts

    rows = [(1, r) for r in range(40)] + [(t, 0) for t in range(2, 12)]
    postings = spark.createDataFrame(rows, "trigram int, ref long")
    # df 40 against sqrt((40^2 + 10) / 4) = 20 on local[4]: only key 1 is hot
    total_sq = 40 * 40 + 10
    assert 1 < math.isqrt(total_sq // spark.sparkContext.defaultParallelism) < 40
    flags = _hot_flags(trigram_df_counts(postings), 2, None)
    assert {r["trigram"]: r["_hot"] for r in flags.collect()} == {t: t == 1 for t in range(1, 12)}


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
