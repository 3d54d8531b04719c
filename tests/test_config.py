"""Engine session defaults and input helpers."""

from __future__ import annotations

from pyspark.sql.conf import RuntimeConfig

from blurrily_spark.config import spread_small_input


def test_spread_small_input_keeps_input_on_non_integer_partitions(spark, monkeypatch):
    """Managed platforms accept ``spark.sql.shuffle.partitions=auto`` (open
    source Spark refuses it, so the conf read is stubbed): the helper must
    return its input unchanged instead of raising ValueError."""
    df = spark.range(10)
    assert spread_small_input(df) is not df  # a tiny input is spread

    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert spread_small_input(df) is df
