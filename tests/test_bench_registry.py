"""bench.py's query table is the only one: the profiler and the plan
capture read it, and the profiler attributes stages by job group."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from test_entry_oracle import SF_DIR  # noqa: E402


def _script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def table(spark):
    t = bench.queries(spark, SF_DIR, "4")
    yield t
    t.close()


def test_registry_names_match_frozen_bench(table):
    with open(os.path.join(ROOT, "BENCH_r06_frozen.json")) as fh:
        frozen = list(json.load(fh)["parsed"]["queries"])
    assert len(frozen) == 27
    assert [q.name for q in table.entries] == frozen


def test_every_plan_builds(table):
    """A plan that raises while it is built (a keyword its operator no
    longer takes, a moved constant) fails here, not first in
    scripts/capture_plans.py: every entry with a plan builds it once,
    without an action once ``q_index_build`` has stored the index the
    FIND plans read, as capture_plans does."""
    from pyspark.sql import DataFrame

    next(q for q in table.entries if q.name == "q_index_build").run()
    planned = [q for q in table.entries if q.plan is not None]
    assert len(planned) == 20
    for q in planned:
        assert isinstance(q.plan(), DataFrame), q.name


def test_scripts_keep_no_query_table_of_their_own():
    for name in ("profile_query", "capture_plans"):
        with open(os.path.join(ROOT, "scripts", f"{name}.py")) as fh:
            src = fh.read()
        assert "bench.queries(" in src, name
        for own in ("CAP_DF", "spark.eventLog", "__spark_entry__", "blurrily_spark.operators"):
            assert own not in src, (name, own)


def test_capture_plans_writes_one_plan_per_planned_entry(spark, tmp_path):
    capture = _script("capture_plans")
    entries = [
        bench.Query("q_lazy", act=lambda df: df.count(), plan=lambda: spark.range(3)),
        bench.Query("q_eager", act=lambda: None),
    ]
    paths = capture.write_plans(entries, str(tmp_path), "t")
    assert [os.path.basename(p) for p in paths] == ["q_lazy_t.txt"]
    assert "Range" in (tmp_path / "q_lazy_t.txt").read_text()


def test_profiler_reads_only_the_last_trial_of_its_group(spark, table):
    profile = _script("profile_query")
    sc = spark.sparkContext
    by_name = {q.name: q for q in table.entries}
    q = by_name["q_events_window"]
    _, first = bench.run_in_group(sc, q)
    bench.run_in_group(sc, by_name["q_session_stats"])  # another group's work
    _, last = bench.run_in_group(sc, q)
    assert first and last and not set(first) & set(last)

    rows = profile.stage_rows(sc, last)
    assert any(r["tasks"] > 0 for r in rows)

    tracker = sc.statusTracker()

    def group_stages(group, job_ids=None):
        ids = tracker.getJobIdsForGroup(group) if job_ids is None else job_ids
        return {s for j in ids for s in tracker.getJobInfo(j).stageIds}

    got = {r["stage"] for r in rows}
    assert got <= group_stages("q_events_window", last)
    assert not got & group_stages("q_session_stats")
    assert not got & group_stages("q_events_window", first)
