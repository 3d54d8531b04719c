"""Reference-API facade: integration-spec flows through Map/MapGroup."""

from __future__ import annotations

import os
import random

import pytest
from conftest import put_rows

from blurrily_spark.api import ClosedError, Map, MapGroup
from blurrily_spark.config import LIMIT_RANGE
from blurrily_spark.functions.tokenizer import normalize_py, tokenize_py
from blurrily_spark.operators.find import find
from blurrily_spark.operators.index import build_postings


def test_put_returns_trigram_count(spark):
    # spec/blurrily/map_spec.rb:32-41: 'foobar' -> 7; dup ref -> 0
    m = Map(spark)
    assert m.put("foobar", 1) == 7
    assert m.put("anything", 1) == 0
    assert m.put("", 2) == 1  # map_spec.rb:49-53
    assert m.put("@€%é", 3) == 2  # map_spec.rb:55-59


def test_find_golden_integration(spark):
    # spec/integration_spec.rb:31-42
    m = Map(spark)
    m.put("paris", 123)
    assert m.find("paris") == [(123, 6, 5)]
    assert m.find("pariis") == [(123, 5, 5)]
    m.put("paris", 456)
    assert [r[0] for r in m.find("paris")] == [123, 456]


def test_delete_and_readd(spark):
    # spec/integration_spec.rb:44-49 + map_spec.rb:109-114
    m = Map(spark)
    m.put("paris", 123)
    m.put("paris", 456)
    m.delete(456)
    assert [r[0] for r in m.find("paris")] == [123]
    m.delete(123)
    assert m.put("paris", 123) == 6  # re-add after delete works
    assert [r[0] for r in m.find("paris")] == [123]


def test_stats(spark):
    m = Map(spark)
    m.put("foobar", 1)
    m.put("paris", 2)
    assert m.stats() == {"references": 2, "trigrams": 13}


def test_save_load_roundtrip(spark, tmp_path):
    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("london", 123)
    m.save(path)
    m2 = Map.load(spark, path)
    assert m2.find("london") == [(123, 7, 6)]
    # dup-ref no-op survives save/load (map_spec.rb:61-67)
    assert m2.put("paris", 123) == 0
    assert m2.find("paris") == []


def test_save_memoized_clean_path(spark, tmp_path):
    import os

    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("london", 1)
    m.save(path)
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    m.save(path)  # clean -> no rewrite
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime
    m.put("paris", 2)  # dirty again
    m.save(path)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) >= mtime


def test_closed_map_raises(spark):
    # spec/blurrily/map_spec.rb:332-353
    m = Map(spark)
    m.put("x", 1)
    m.close()
    for op in [lambda: m.put("y", 2), lambda: m.find("x"), lambda: m.delete(1),
               lambda: m.stats(), lambda: m.save("/tmp/nope")]:
        with pytest.raises(ClosedError):
            op()


def test_map_group_isolation_and_persistence(spark, tmp_path):
    # spec/integration_spec.rb:51-60 (multi-db isolation) + map_group load
    g = MapGroup(spark, str(tmp_path))
    g.map("cities").put("paris", 1)
    g.map("foods").put("pizza", 2)
    assert [r[0] for r in g.map("cities").find("paris")] == [1]
    # isolation: cities' ref 1 never leaks into foods (pizza itself shares
    # the '**p' trigram with paris, so it legitimately matches with score 1)
    assert all(r[0] != 1 for r in g.map("foods").find("paris"))
    assert g.map("foods").find("pizza") == [(2, 6, 5)]
    g.save_all()

    g2 = MapGroup(spark, str(tmp_path))
    assert [r[0] for r in g2.map("cities").find("paris")] == [1]
    # CLEAR db (command_processor.rb:48-51)
    g2.clear("cities")
    assert g2.map("cities").find("paris") == []


def test_load_delete_save_same_path(spark, tmp_path):
    """Round-2 ADVICE: load(path) -> delete(ref) -> save(path) used to hit
    Spark's 'cannot overwrite a path that is also being read from' because
    the filtered postings lineage still read the target. save() must
    materialize first (the reference's write-then-rename atomic save)."""
    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("paris", 123)
    m.put("london", 456)
    m.save(path)

    m2 = Map.load(spark, path)
    m2.delete(123)
    m2.save(path)  # same path: must not raise

    m3 = Map.load(spark, path)
    assert m3.find("paris") == []  # deleted ref is gone from the snapshot
    assert [r[0] for r in m3.find("london")] == [456]


def test_load_above_bound_points_at_batch_find(spark, tmp_path, monkeypatch):
    """A snapshot whose in-memory size is above Map.MAX_LOAD_BYTES is not
    loaded into the driver: the error names the batch operators.find."""
    path = str(tmp_path / "big.trigrams")
    m = Map(spark)
    m.put("paris", 1)
    m.put("london", 2)
    m.save(path)  # 13 posting rows

    monkeypatch.setattr(Map, "MAX_LOAD_BYTES", 100)
    with pytest.raises(RuntimeError, match=r"operators\.find"):
        Map.load(spark, path)
    monkeypatch.undo()
    assert Map.load(spark, path).stats() == {"references": 2, "trigrams": 13}


def test_failed_save_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """save writes a sibling directory and renames it into place: a write
    that fails partway leaves the old snapshot loadable and no debris."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "db.trigrams")
    m = Map(spark)
    m.put("paris", 1)
    m.save(path)
    m.put("london", 2)

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 half a row group")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        m.save(path)
    monkeypatch.undo()

    assert os.listdir(tmp_path) == ["db.trigrams"]
    old = Map.load(spark, path)
    assert old.find("paris") == [(1, 6, 5)]
    assert old.find("london") == []
    m.save(path)  # the map stayed dirty: a retry writes the new state
    assert Map.load(spark, path).find("london") == [(2, 7, 6)]


# -- parity with the batch operators ------------------------------------------

# stored and searched strings: plain words, diacritics, the "fi" ligature
# and strings that normalize to empty
WORDS = [
    "paris", "pariis", "london", "lodnon", "great", "greater", "masovian",
    "new york", "york", "yorkshire", "café", "crème", "zürich", "naïve",
    "façade", "ﬁnance", "ﬁ", "@€%", "", "a", "ab",
]


def _needle(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))


def _batch_find(spark, path: str, queries: list[tuple[str, int]]):
    """operators.find.find over the parquet snapshot at ``path``: one
    [(ref, matches, weight), ...] list per (needle, limit) query."""
    postings = spark.read.parquet(path)
    q = spark.createDataFrame(
        [(i, needle, limit) for i, (needle, limit) in enumerate(queries)],
        "query_id long, needle string, lim int",
    )
    out = [[] for _ in queries]
    for r in find(postings, q, limit_col="lim").orderBy("query_id", "rank").collect():
        out[r["query_id"]].append((r["ref"], r["matches"], r["weight"]))
    return out


def test_randomized_parity_with_batch_find(spark, tmp_path):
    """A seeded run of put/delete/find steps: every Map.find equals the
    batch operators.find.find over the map's saved snapshot."""
    rng = random.Random(20261017)
    path = str(tmp_path / "parity.trigrams")
    m = Map(spark)
    live: set[int] = set()
    deleted: set[int] = set()
    seen: set[str] = set()
    for epoch in range(6):
        for _ in range(40):
            ref = rng.randint(1, 50)
            if live and rng.random() < (0.8 if epoch == 3 else 0.25):
                ref = rng.choice(sorted(live))
                m.delete(ref)
                live.discard(ref)
                deleted.add(ref)
                continue
            needle = _needle(rng)
            weight = rng.choice([0, 0, rng.randint(1, 40)])
            expected = 0 if ref in live else len(tokenize_py(needle))
            assert m.put(needle, ref, weight) == expected
            seen.add(
                "dup" if ref in live
                else "readd" if ref in deleted
                else "empty" if not normalize_py(needle)
                else "weight" if weight else "weight0"
            )
            live.add(ref)
        queries = [(_needle(rng), rng.choice([-2, 0, 1, 3, 10])) for _ in range(20)]
        queries += [("@€%", 0), ("ﬁnance", 10), ("cafe zurich", LIMIT_RANGE[1]),
                    ("paris", LIMIT_RANGE[1])]
        m.save(path)
        assert [m.find(n, limit) for n, limit in queries] == _batch_find(
            spark, path, queries
        ), f"epoch {epoch}"
    assert seen == {"dup", "readd", "empty", "weight", "weight0"}
    assert m.stats()["references"] == len(live)


def test_spark_written_snapshot_loads(spark, tmp_path):
    """A postings table written by Spark loads into a Map (here through a
    MapGroup's ``*.trigrams`` directory) and answers like the batch find."""
    rows = [("paris", 123), ("paris", 456, 3), ("pariis", 123), ("London", 7),
            ("ﬁnance", 8), ("@€%", 9), ("café crème", 10, 1)]
    path = str(tmp_path / "cities.trigrams")
    postings = build_postings(put_rows(spark, rows), order_col="seq")
    postings.write.parquet(path)

    m = MapGroup(spark, str(tmp_path)).map("cities")
    queries = [(n, 0) for n in ["paris", "pariis", "london", "finance", "@€%",
                                "cafe", "zzz"]]
    assert [m.find(n, limit) for n, limit in queries] == _batch_find(
        spark, path, queries
    )
    assert m.put("rome", 123) == 0  # dup ref from the Spark-built snapshot
    assert m.stats() == {"references": 6, "trigrams": postings.count()}
