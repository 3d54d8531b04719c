"""Fellegi-Sunter scoring + m/u estimation vs pure-Python models."""

from __future__ import annotations

import math

import pytest

from blurrily_spark.operators.linkage import FS_PRIOR, FieldModel, estimate_m_u, fs_score

JACC = FieldModel("jacc", "jacc_level", m=(0.05, 0.20, 0.75), u=(0.85, 0.12, 0.03))
LANG = FieldModel("lang", "lang_level", m=(0.10, 0.90), u=(0.60, 0.40))


def py_fs(levels: dict[str, int], fields):
    weight = sum(math.log2(f.m[levels[f.level_col]] / f.u[levels[f.level_col]]) for f in fields)
    bm = FS_PRIOR
    bu = 1.0 - FS_PRIOR
    for f in fields:
        bm *= f.m[levels[f.level_col]]
        bu *= f.u[levels[f.level_col]]
    return weight, bm / (bm + bu)


def test_field_model_validation():
    with pytest.raises(ValueError, match="same length"):
        FieldModel("x", "c", m=(0.5, 0.5), u=(1.0,))
    with pytest.raises(ValueError, match="sum to 1"):
        FieldModel("x", "c", m=(0.5, 0.4), u=(0.5, 0.5))
    with pytest.raises(ValueError, match="smooth"):
        FieldModel("x", "c", m=(0.0, 1.0), u=(0.5, 0.5))
    with pytest.raises(ValueError, match="at least one"):
        fs_score(None, [])


def test_fs_score_matches_python_model(spark):
    rows = [(a, b, ja, la) for a, b, ja, la in [
        (1, 2, 2, 1), (1, 3, 0, 0), (2, 3, 1, 1), (4, 5, 2, 0), (6, 7, 0, 1),
    ]]
    df = spark.createDataFrame(rows, "ref_a long, ref_b long, jacc_level int, lang_level int")
    got = {
        (r["ref_a"], r["ref_b"]): (r["match_weight"], r["match_probability"])
        for r in fs_score(df, [JACC, LANG]).collect()
    }
    for a, b, ja, la in rows:
        w, p = py_fs({"jacc_level": ja, "lang_level": la}, [JACC, LANG])
        gw, gp = got[(a, b)]
        assert gw == pytest.approx(w, abs=1e-12)
        assert gp == pytest.approx(p, abs=1e-12)
    # full agreement dominates full disagreement
    assert got[(1, 2)][0] > got[(2, 3)][0] > got[(1, 3)][0]


def test_fs_score_out_of_range_level_fails_loudly(spark):
    df = spark.createDataFrame([(1, 2, 9, 1)], "ref_a long, ref_b long, jacc_level int, lang_level int")
    with pytest.raises(Exception):
        fs_score(df, [JACC, LANG]).collect()


def test_estimate_m_u_matches_hand_counts(spark):
    # field f1 levels: matches [1,1,0], non-matches [0,0,1,1]; 2 levels.
    rows = [
        (1, 1, 0), (1, 1, 1), (0, 1, 1),   # label, f1, f2
        (0, 0, 2), (0, 0, 0), (1, 0, 2), (0, 1, 0),
    ]
    df = spark.createDataFrame(rows, "is_match int, f1 int, f2 int")
    s = 0.5  # M_U_SMOOTHING, over M_U_LEVELS = 3 levels per field
    got = {
        (r["field"], r["level"]): (r["m"], r["u"])
        for r in estimate_m_u(df, ["f1", "f2"]).collect()
    }
    # hand counts -- f1: matches {0:1, 1:2, 2:0} of 3, non {0:2, 1:2, 2:0} of 4
    assert got[("f1", 0)][0] == pytest.approx((1 + s) / (3 + s * 3))
    assert got[("f1", 1)][0] == pytest.approx((2 + s) / (3 + s * 3))
    assert got[("f1", 2)][0] == pytest.approx((0 + s) / (3 + s * 3))
    assert got[("f1", 0)][1] == pytest.approx((2 + s) / (4 + s * 3))
    # f2: matches {0:1, 1:1, 2:1}, non {0:2, 1:1, 2:1}
    assert got[("f2", 2)][0] == pytest.approx((1 + s) / (3 + s * 3))
    assert got[("f2", 1)][1] == pytest.approx((1 + s) / (4 + s * 3))
    # every probability column sums to ~1 per field
    for field in ("f1", "f2"):
        for idx in (0, 1):
            total = sum(v[idx] for (f, _), v in got.items() if f == field)
            assert total == pytest.approx(1.0)


def test_estimate_m_u_fills_unseen_levels(spark):
    # level 2 never observed for f1, but every field has 3 levels
    df = spark.createDataFrame([(1, 0), (0, 1)], "is_match int, f1 int")
    got = {r["level"]: (r["m"], r["u"]) for r in estimate_m_u(df, ["f1"]).collect()}
    assert set(got) == {0, 1, 2}
    assert got[2][0] > 0 and got[2][1] > 0  # smoothed floor, usable in FieldModel


def test_estimate_m_u_validation(spark):
    df = spark.createDataFrame([(1, 0)], "is_match int, f1 int")
    with pytest.raises(ValueError, match="at least one"):
        estimate_m_u(df, [])


def test_estimated_params_feed_scoring(spark):
    """The estimation output plugs straight back into FieldModel/fs_score."""
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 0), (0, 0), (0, 0), (0, 1)], "is_match int, f1 int"
    )
    rows = estimate_m_u(df, ["f1"]).collect()
    m = tuple(r["m"] for r in sorted(rows, key=lambda r: r["level"]))
    u = tuple(r["u"] for r in sorted(rows, key=lambda r: r["level"]))
    fm = FieldModel("f1", "f1", m=m, u=u)
    pairs = spark.createDataFrame([(1, 2, 1), (3, 4, 0)], "ref_a long, ref_b long, f1 int")
    scored = {r["ref_a"]: r["match_weight"] for r in fs_score(pairs, [fm]).collect()}
    assert scored[1] > 0 > scored[3]  # agreement raises, disagreement lowers
