"""Validation envelope + wire-command goldens (C5/C7) and job-free facade.

Goldens mirror spec/blurrily/command_processor_spec.rb and the EPROTO /
ENOENT load behaviors of spec/blurrily/map_spec.rb:281-330.
"""

from __future__ import annotations

import pytest

from blurrily_spark.api import (
    CommandProcessor,
    Map,
    MapGroup,
    ProtocolError,
    validate_needle,
    validate_ref,
)


# -- Map.load guards (EPROTO / ENOENT analogues) --------------------------

def test_load_missing_path_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        Map.load(str(tmp_path / "nope.trigrams"))


def test_load_wrong_schema_raises_protocol_error(spark, tmp_path):
    path = str(tmp_path / "foreign.parquet")
    spark.range(5).selectExpr("id AS a", "id AS b").write.parquet(path)
    with pytest.raises(ProtocolError):
        Map.load(path)


def test_load_garbage_file_raises_protocol_error(tmp_path):
    path = tmp_path / "garbage"
    path.mkdir()
    (path / "part-0000.parquet").write_bytes(b"zoidberg" * 1024)
    with pytest.raises(ProtocolError):
        Map.load(str(path))


def test_map_runs_no_spark_job(spark, tmp_path):
    """load, put, find, delete and save answer in-process: none of them
    launches a Spark job, and the dup-ref no-op holds after a load."""
    path = str(tmp_path / "db.trigrams")
    m = Map()
    m.put("london", 123)
    m.save(path)

    sc = spark.sparkContext
    sc.setJobGroup("map-no-jobs", "Map must not launch jobs")
    try:
        m2 = Map.load(path)
        assert m2.put("paris", 123) == 0  # dup ref survives the load
        assert m2.put("paris", 456) == 6
        assert m2.find("london") == [(123, 7, 6)]
        m2.delete(123)
        assert m2.find("london") == []
        m2.save(path)
        assert sc.statusTracker().getJobIdsForGroup("map-no-jobs") == []
        spark.range(1).count()  # control: a job in this group is visible
        assert sc.statusTracker().getJobIdsForGroup("map-no-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert Map.load(path).find("paris") == [(456, 6, 5)]


# -- find limit envelope ----------------------------------------------------

def test_find_limit_above_range_rejected():
    m = Map()
    m.put("paris", 1)
    with pytest.raises(ValueError):
        m.find("paris", limit=1025)
    assert m.find("paris", limit=1024) == [(1, 6, 5)]
    assert m.find("paris", limit=0) == [(1, 6, 5)]  # <=0 -> default 10


# -- client-side checks (C7, lib/blurrily/client.rb) -----------------------

def test_validate_needle():
    for bad in ["", "a\tb", 42, None]:
        with pytest.raises(ValueError):
            validate_needle(bad)
    validate_needle("great london")


def test_validate_ref():
    for bad in [0, -1, (1 << 31) + 1, "12", 1.5]:
        with pytest.raises(ValueError):
            validate_ref(bad)
    validate_ref(1)
    validate_ref(1 << 31)


# -- CommandProcessor goldens (command_processor_spec.rb) -------------------

@pytest.fixture()
def proc(tmp_path):
    return CommandProcessor(MapGroup(str(tmp_path)))


def test_put_and_find_finds_something(proc):
    assert proc.process_command("PUT\tlocations_en\tgreat london\t12") == "OK"
    assert proc.process_command("PUT\tlocations_en\tgreater masovian\t13") == "OK"
    assert (
        proc.process_command("FIND\tlocations_en\tgreat")
        == "OK\t12\t6\t12\t13\t5\t16"
    )


def test_find_returns_bare_ok_when_nothing_found(proc):
    assert proc.process_command("FIND\tlocations_en\tgreat london") == "OK"


def test_error_envelopes(proc):
    assert proc.process_command("Some stuff").startswith("ERROR\tUnknown command")
    assert proc.process_command("FIND\tbad db name\tWhatever string").startswith(
        "ERROR\tInvalid database name"
    )
    assert proc.process_command("FIND\tdb\tWhatever string\tlimit").startswith(
        "ERROR\tLimit must be a number"
    )
    assert proc.process_command("PUT\tdb\tWhatever string\t12\tweight").startswith(
        "ERROR\tInvalid weight"
    )
    assert proc.process_command("PUT\tdb\tWhatever string\tref").startswith(
        "ERROR\tInvalid reference"
    )
    assert proc.process_command(
        "PUT\tdb\tWhatever string\tref\tweight\targument too much"
    ).startswith("ERROR\twrong number ")


def test_good_put_and_limited_find(proc):
    assert proc.process_command("PUT\tdb\tWhatever string\t12\t1") == "OK"
    assert proc.process_command("FIND\tdb\tWhatever string\t2").startswith("OK\t12")
    assert proc.process_command("DELETE\tdb\t12") == "OK"
    assert proc.process_command("FIND\tdb\tWhatever string\t2") == "OK"
    assert proc.process_command("CLEAR\tdb") == "OK"


def test_internal_typeerror_propagates_not_arity_error(proc, monkeypatch):
    """Round-2 ADVICE: arity is validated by signature bind BEFORE dispatch,
    so a genuine TypeError raised inside a command implementation surfaces
    as a bug instead of masquerading as 'wrong number of arguments'."""
    from blurrily_spark import api

    def boom(self, needle, ref, weight=None):
        raise TypeError("takes 2 positional arguments but impostor given")

    monkeypatch.setattr(api.Map, "put", boom)
    with pytest.raises(TypeError, match="impostor"):
        proc.process_command("PUT\tdb\tWhatever string\t12\t1")
