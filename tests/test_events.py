"""Sessionization: gap-rule goldens, ordering determinism, plan shape."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from blurrily_spark.operators.events import SESSION_GAP_S, session_stats, sessionize

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
G = SESSION_GAP_S


def _events(spark, rows):
    """rows: (event_id, user_id, offset_seconds, event_type, value)"""
    data = [
        (eid, T0 + dt.timedelta(seconds=off), uid, et, v, "{}")
        for eid, uid, off, et, v in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )


def test_gap_rule_golden(spark):
    ev = _events(
        spark,
        [
            (0, 1, 0, "a", 1.0),
            (1, 1, 100, "a", 1.0),             # in-session (gap 100 <= G)
            (2, 1, 100 + G + 1, "b", 1.0),     # new session (gap G + 1 > G)
            (3, 1, 100 + 2 * G + 1, "a", 1.0), # in-session (gap G == G, NOT >)
            (4, 2, 50, "a", 1.0),              # other user: independent numbering
            (5, 2, 50 + 3 * G, "a", 1.0),
        ],
    )
    got = {r["event_id"]: r["session_seq"] for r in sessionize(ev).collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1, 5: 2}


def test_timestamp_ties_break_by_event_id(spark):
    # two events at the same instant: (ts, id) total order makes the
    # boundary deterministic whichever partition delivers first
    ev = _events(spark, [(7, 1, 0, "a", 1.0), (3, 1, 0, "a", 1.0)])
    got = {r["event_id"]: r["session_seq"] for r in sessionize(ev).collect()}
    assert got == {3: 1, 7: 1}


def test_session_stats_golden(spark):
    ev = _events(
        spark,
        [
            (0, 1, 0, "a", 1.5),
            (1, 1, 10, "b", 2.0),
            (2, 1, 10 + G + 1, "a", 3.0),
        ],
    )
    rows = {(r["user_id"], r["session_seq"]): r for r in session_stats(ev).collect()}
    s1 = rows[(1, 1)]
    assert s1["n_events"] == 2
    assert s1["duration_s"] == 10.0
    assert s1["sum_value"] == 3.5
    assert s1["n_event_types"] == 2
    s2 = rows[(1, 2)]
    assert (s2["n_events"], s2["duration_s"], s2["n_event_types"]) == (1, 0.0, 1)


def test_sessionize_single_exchange(spark):
    """Both window passes (lag + running sum) share one (user, ts, id)
    partitioning/ordering -> exactly one Exchange, no SinglePartition."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_fractional_microsecond_gaps(spark):
    # gap strictly-greater comparison happens in int64 micros: G s + 1 us
    # must open a new session, G s - 1 us must not
    base = T0
    data = [
        (0, base, 1, "a", 1.0, "{}"),
        (1, base + dt.timedelta(seconds=G, microseconds=1), 1, "a", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=2 * G, microseconds=0), 1, "a", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["event_id"]: r["session_seq"] for r in sessionize(ev).collect()}
    assert got == {0: 1, 1: 2, 2: 2}
