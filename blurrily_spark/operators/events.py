"""Event sessionization: gap-based session assignment + per-session rollups.

The reference engine has no event model at all -- this is pipeline
infrastructure the Spark engine adds (SURVEY.md "beyond the reference"
scope): activity streams (clicks, tool calls, conversation turns) must be
cut into sessions before per-user behavioral features, abuse scoring, or
transcript segmentation can be computed. The semantics are the industry-
standard gap rule: a new session starts whenever the time since the SAME
user's previous event exceeds :data:`SESSION_GAP_S`.

Scale design:

* **One shuffle, reused.** ``sessionize`` is two window passes (``lag``
  then a running ``sum``) over the SAME ``(user, ts)`` partitioning and
  ordering, so Spark plans a single Exchange + single Sort and both
  windows ride it (pinned in tests/test_events.py). Per-user history never
  leaves its partition; the op scales with the number of users, and a
  single user's event count only has to fit a partition's sort spill --
  never driver memory.
* **Integer time.** The gap comparison is ``unix_micros`` int64 arithmetic
  -- no float drift, and the DuckDB oracle (``epoch_us``) reproduces it
  bit-for-bit.
* **Deterministic total order.** Events are ordered by ``(ts, id)`` within
  a user, so ties on timestamp cannot flip session boundaries between
  runs or engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_S = 28800  # 8 h, in seconds (the bench events' median gap is ~7.3 h)


def _micros(ts_col: str):
    """int64 epoch microseconds. Parquet event times arrive as
    TIMESTAMP_NTZ; the session timezone is pinned to UTC (config.py), so
    the cast is value-preserving and matches DuckDB's ``epoch_us``."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign each event a per-user ``session_seq`` (1-based, in time
    order): a new session opens when the gap since the user's previous
    event exceeds :data:`SESSION_GAP_S`. Adds ``session_seq``; all input
    columns pass through. First event per user always opens session 1."""
    gap_us = SESSION_GAP_S * 1_000_000
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    micros = _micros(ts_col)
    prev = F.lag(micros).over(w)
    is_new = F.when(prev.isNull() | (micros - prev > gap_us), 1).otherwise(0)
    # running sum over the identical window spec -> same Exchange+Sort
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """One row per (user, session): bounds, size, duration, value rollups.

    Built on :func:`sessionize`; the grouping key ``(user, session_seq)``
    is a refinement of the window partitioning, so the aggregate is a pure
    partial-agg + equi-shuffle -- no second sort, no driver state."""
    s = sessionize(events, user_col, ts_col, id_col)
    micros = _micros(ts_col)
    return s.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        ((F.max(micros) - F.min(micros)) / F.lit(1_000_000.0)).alias(
            "duration_s"
        ),
        F.round(F.sum(value_col), 6).alias("sum_value"),
        F.count_distinct("event_type").alias("n_event_types"),
    )
