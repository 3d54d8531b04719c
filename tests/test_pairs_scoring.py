"""Pair generation semantics + scoring (matches counts, jaccard, JW tie-break)."""

from __future__ import annotations

import itertools

import pytest

from conftest import put_rows

from blurrily_spark.functions.tokenizer import normalize_py, tokenize_py
from blurrily_spark.operators.index import build_postings, prepare_needles
from blurrily_spark.operators.pairs import candidate_pairs, with_jaccard
from blurrily_spark.operators.scoring import jaro_winkler_py, score_pairs

HAYSTACK = [
    ("london", 1),
    ("londom", 2),
    ("paris", 3),
    ("pariis", 4),
    ("New York", 5),
    ("york", 6),
    ("completely different", 7),
]


def expected_pairs(rows, min_matches=1):
    tg = {ref: set(tokenize_py(text)) for text, ref in rows}
    out = {}
    for (ra, ta), (rb, tb) in itertools.combinations(sorted(tg.items()), 2):
        m = len(ta & tb)
        if m >= min_matches:
            out[(ra, rb)] = (m, len(ta), len(tb))
    return out


def _spark_pairs(spark, **kwargs):
    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    return candidate_pairs(postings, **kwargs), postings


def test_pair_matches_equal_python_model(spark):
    pairs, _ = _spark_pairs(spark)
    got = {(r["ref_a"], r["ref_b"]): r["matches"] for r in pairs.collect()}
    exp = {k: v[0] for k, v in expected_pairs(HAYSTACK).items()}
    assert got == exp


def test_pair_matches_salted_identical(spark):
    # salting must not change results, only task layout. hot_df=1 splits
    # this corpus into BOTH branches (shared trigrams salted, unique ones
    # plain-joined); hot_df=0 forces the all-hot salted branch; the auto
    # threshold on a tiny skew-free corpus finds nothing hot and
    # degenerates to the plain join. All three must match.
    plain = sorted(map(tuple, _spark_pairs(spark)[0].collect()))
    for kw in (dict(hot_df=1), dict(hot_df=0), dict()):
        salted, _ = _spark_pairs(spark, salt_buckets=4, **kw)
        assert sorted(map(tuple, salted.collect())) == plain, kw


def test_salted_keys_only_identical(spark):
    plain = sorted(map(tuple, _spark_pairs(spark, keys_only=True)[0].collect()))
    for kw in (dict(hot_df=1), dict(hot_df=0), dict()):
        salted, _ = _spark_pairs(spark, keys_only=True, salt_buckets=4, **kw)
        assert sorted(map(tuple, salted.collect())) == plain, kw


def _hot_set(flags) -> set:
    return {r["trigram"] for r in flags.where("_hot").collect()}


def test_candidate_pairs_logs_its_layout(spark, caplog):
    """Each call logs its layout -- plain, or salted with its bucket count
    and threshold -- while building the plan, which launches no job."""
    import logging

    from blurrily_spark.operators import pairs

    caplog.set_level(logging.INFO, logger=pairs.__name__)
    postings = spark.createDataFrame(
        [(1, 1, 5), (1, 2, 5), (2, 2, 5)], "trigram int, ref long, weight int"
    )
    sc = spark.sparkContext
    sc.setJobGroup("pairs-log", "construction only")
    try:
        candidate_pairs(postings)
        candidate_pairs(postings, salt_buckets=8)
        candidate_pairs(postings, salt_buckets=4, hot_df=3)
        assert list(sc.statusTracker().getJobIdsForGroup("pairs-log")) == []
    finally:
        sc.setJobGroup(None, None)
    assert [r.getMessage() for r in caplog.records if r.name == pairs.__name__] == [
        "candidate_pairs: plain",
        "candidate_pairs: salted with 8 buckets, hot_df auto",
        "candidate_pairs: salted with 4 buckets, hot_df 3",
    ]


def test_hot_trigrams_threshold(spark):
    from blurrily_spark.operators.pairs import _hot_flags, trigram_df_counts

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    counts = trigram_df_counts(postings)
    df = {r["trigram"]: r["df"] for r in counts.collect()}
    # explicit threshold: exactly the trigrams with df > 1; every key flagged
    flags = _hot_flags(counts, salt_buckets=4, hot_df=1)
    assert {r["trigram"] for r in flags.collect()} == set(df)
    assert _hot_set(flags) == {t for t, d in df.items() if d > 1}
    assert _hot_set(_hot_flags(counts, salt_buckets=4, hot_df=0)) == set(df)
    # auto threshold never goes below 2 * salt_buckets (splitting tiny keys
    # buys nothing) -- on this corpus nothing clears it
    assert _hot_set(_hot_flags(counts, salt_buckets=4, hot_df=None)) == set()


def test_min_matches_filter(spark):
    pairs, _ = _spark_pairs(spark, min_matches=4)
    exp = {k for k, v in expected_pairs(HAYSTACK, min_matches=4).items()}
    got = {(r["ref_a"], r["ref_b"]) for r in pairs.collect()}
    assert got == exp


def test_max_df_drops_hot_trigrams(spark):
    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    capped = candidate_pairs(postings, max_df=2)
    # every pair's matches must be <= uncapped matches
    plain = {(r["ref_a"], r["ref_b"]): r["matches"] for r in candidate_pairs(postings).collect()}
    for r in capped.collect():
        assert r["matches"] <= plain[(r["ref_a"], r["ref_b"])]


def test_jaccard(spark):
    pairs, postings = _spark_pairs(spark)
    got = {
        (r["ref_a"], r["ref_b"]): (r["matches"], r["tg_a"], r["tg_b"], r["jaccard"])
        for r in with_jaccard(pairs, postings).collect()
    }
    for (ra, rb), (m, ta, tb) in expected_pairs(HAYSTACK).items():
        gm, gta, gtb, gj = got[(ra, rb)]
        assert (gm, gta, gtb) == (m, ta, tb)
        assert abs(gj - m / (ta + tb - m)) < 1e-12


def test_jaro_winkler_known_values():
    assert jaro_winkler_py("martha", "marhta") > 0.95
    assert jaro_winkler_py("london", "london") == 1.0
    assert jaro_winkler_py("abc", "xyz") == 0.0
    assert jaro_winkler_py("", "abc") == 0.0
    # winkler prefix boost: shared prefix scores higher
    assert jaro_winkler_py("london", "londom") > jaro_winkler_py("london", "mondon")


def test_score_pairs_jw_matches_python(spark):
    haystack_df = put_rows(spark, HAYSTACK)
    postings = build_postings(haystack_df, order_col="seq")
    records = prepare_needles(haystack_df, order_col="seq").select("ref", "norm")
    pairs = with_jaccard(candidate_pairs(postings), postings)
    scored = score_pairs(pairs, records).collect()
    norm = {ref: normalize_py(text) for text, ref in HAYSTACK}
    for r in scored:
        exp = jaro_winkler_py(norm[r["ref_a"]], norm[r["ref_b"]])
        assert abs(r["jw"] - exp) < 1e-12
        assert r["weight_delta"] == abs(len(norm[r["ref_a"]]) - len(norm[r["ref_b"]]))


def test_rescore_exact_equals_full_join(spark):
    """Two-phase blocking phase 2: exact rescoring over ALL candidate pairs
    must reproduce the exact self-join's (matches, jaccard)."""
    from blurrily_spark.functions.tokenizer import add_trigrams
    from blurrily_spark.operators.pairs import rescore_pairs_exact

    hay_df = put_rows(spark, HAYSTACK)
    postings = build_postings(hay_df, order_col="seq")
    exact = {
        (r["ref_a"], r["ref_b"]): (r["matches"], round(r["jaccard"], 9))
        for r in with_jaccard(candidate_pairs(postings), postings).collect()
    }
    recs = add_trigrams(
        prepare_needles(hay_df, order_col="seq"), "norm", "trigrams"
    )
    cand = candidate_pairs(postings).select("ref_a", "ref_b")
    got = {
        (r["ref_a"], r["ref_b"]): (r["matches"], round(r["jaccard"], 9))
        for r in rescore_pairs_exact(cand, recs).collect()
    }
    assert got == exact


def test_capped_blocking_recall_on_near_dups(spark):
    """With max_df capping, near-dup pairs must still be proposed (they share
    rare trigrams), and rescoring restores their exact matches."""
    from blurrily_spark.functions.tokenizer import add_trigrams
    from blurrily_spark.operators.pairs import rescore_pairs_exact

    rows = [("the quick brown fox jumped", 1), ("the quick brown fox jumps", 2),
            ("a completely unrelated sentence", 3), ("zzz yyy xxx", 4)]
    hay_df = put_rows(spark, rows)
    postings = build_postings(hay_df, order_col="seq")
    cand = candidate_pairs(postings, max_df=3, min_matches=1)
    recs = add_trigrams(prepare_needles(hay_df, order_col="seq"), "norm", "trigrams")
    rescored = {
        (r["ref_a"], r["ref_b"]): r["matches"]
        for r in rescore_pairs_exact(cand, recs).collect()
    }
    full = {(r["ref_a"], r["ref_b"]): r["matches"]
            for r in candidate_pairs(postings).collect()}
    assert (1, 2) in rescored
    assert rescored[(1, 2)] == full[(1, 2)]  # exact matches restored


def test_keys_only_candidates_match_full(spark):
    """keys_only candidate generation returns exactly the distinct pair set
    of the full path (what two-phase rescoring consumes)."""
    import pytest

    from blurrily_spark.operators.index import build_postings
    from blurrily_spark.operators.pairs import candidate_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = build_postings(docs, text_col="text", ref_col="doc_id", weight_col=None).cache()
    full = {(r["ref_a"], r["ref_b"])
            for r in candidate_pairs(p, max_df=16).collect()}
    keys = candidate_pairs(p, max_df=16, keys_only=True)
    assert keys.columns == ["ref_a", "ref_b"]
    got = {(r["ref_a"], r["ref_b"]) for r in keys.collect()}
    assert got == full
    with pytest.raises(ValueError):
        candidate_pairs(p, min_matches=2, keys_only=True)
    p.unpersist()


# -- sorted-neighborhood blocking ---------------------------------------------


def _snm_oracle(rows, window):
    """Single-process row_number oracle: rank by (key, id), pair within w."""
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    out = []
    for i, (id_a, _) in enumerate(ranked):
        for j in range(i + 1, min(i + window, len(ranked))):
            out.append((id_a, ranked[j][0], j - i))
    return sorted(out)


@pytest.fixture
def set_shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` for one test; restored after."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, prev)


def test_global_sort_ranks_exact_permutation(spark, set_shuffle_partitions):
    import random

    from blurrily_spark.operators.pairs import global_sort_ranks

    rng = random.Random(5)
    rows = [(i, f"k{rng.randrange(40):02d}") for i in rng.sample(range(10_000), 300)]
    df = spark.createDataFrame(rows, "ref long, key string")
    # more partitions than rows in some ranges -> exercises empty partitions
    set_shuffle_partitions(7)
    got = global_sort_ranks(df, "key", "ref").collect()
    expect = {
        ref: i + 1
        for i, (ref, _) in enumerate(sorted(rows, key=lambda r: (r[1], r[0])))
    }
    assert {r["ref"]: r["rank"] for r in got} == expect


def test_global_sort_ranks_leaves_no_cached_table(spark, set_shuffle_partitions):
    """The shared range shuffle is a reused exchange inside the plan, not a
    persist that stays in the session's cache after the ranks are dropped."""
    from blurrily_spark.operators.pairs import global_sort_ranks

    spark.catalog.clearCache()
    df = spark.createDataFrame([(i, f"k{i % 7}") for i in range(50)], "ref long, key string")
    set_shuffle_partitions(3)
    got = {r["ref"]: r["rank"] for r in global_sort_ranks(df, "key", "ref").collect()}
    expected = sorted(range(50), key=lambda i: (f"k{i % 7}", i))
    assert got == {ref: n + 1 for n, ref in enumerate(expected)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_global_sort_ranks_refuses_sessions_without_exchange_reuse(spark):
    """Both reads of the range exchange must see the same sampled bounds;
    without exchange reuse each would sample its own."""
    from blurrily_spark.operators.pairs import global_sort_ranks

    df = spark.createDataFrame([(1, "a")], "ref long, key string")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with pytest.raises(ValueError, match="exchange.reuse"):
            global_sort_ranks(df, "key", "ref")
    finally:
        spark.conf.unset("spark.sql.exchange.reuse")


def test_sorted_neighborhood_matches_oracle(spark):
    import random

    from blurrily_spark.operators.pairs import sorted_neighborhood_pairs

    rng = random.Random(11)
    rows = [(i, f"key{rng.randrange(25):02d}") for i in range(200)]
    df = spark.createDataFrame(rows, "ref long, key string")
    for w in (2, 5):
        got = sorted(
            (r["ref_a"], r["ref_b"], r["rank_gap"])
            for r in sorted_neighborhood_pairs(df, "key", window=w).collect()
        )
        assert got == _snm_oracle(rows, w)
    # n * (w-1) - sum(1..w-1) pairs exactly
    assert len(_snm_oracle(rows, 5)) == 200 * 4 - (1 + 2 + 3 + 4)


def test_sorted_neighborhood_no_single_task_window(spark):
    """The scaling point of the operator: the global rank must NOT plan an
    unpartitioned window (Exchange SinglePartition = one-task sort of the
    whole corpus). Range partitioning + offsets keeps every stage wide."""
    from blurrily_spark.operators.pairs import sorted_neighborhood_pairs

    df = spark.range(500).selectExpr("id AS ref", "format_string('k%03d', CAST(pmod(id, 50) AS INT)) AS key")
    plan = (
        sorted_neighborhood_pairs(df, "key", window=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_sorted_neighborhood_window_validation(spark):
    import pytest as _pytest

    from blurrily_spark.operators.pairs import sorted_neighborhood_pairs

    df = spark.range(3).selectExpr("id AS ref", "CAST(id AS STRING) AS key")
    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "key", window=1)


# --- phonetic blocking ------------------------------------------------------

SOUNDEX_GOLDENS = {
    # classic archival values our variant reproduces
    "Pfister": "P236",   # adjacent-equal first-letter code consumed
    "Robert": "R163",
    "Rupert": "R163",
    "Tymczak": "T522",
    "Smith": "S530",
    "Smyth": "S530",
    "Honeyman": "H555",
    "jackson": "J250",
    # documented divergence: h/w do not merge surrounding equal codes
    "Ashcraft": "A226",  # archival soundex says A261
    # edge shapes
    "a": "A000",
    "  O'Brien!! ": "O165",
    "42": None,
    "": None,
    None: None,
}


def test_phonetic_key_goldens_all_three_impls(spark):
    from blurrily_spark.functions.phonetic import (
        phonetic_key,
        phonetic_key_py,
        phonetic_key_sql,
    )

    import duckdb
    from pyspark.sql import functions as F

    rows = [(i, t) for i, t in enumerate(SOUNDEX_GOLDENS)]
    got_spark = {
        r["i"]: r["k"]
        for r in spark.createDataFrame(rows, "i int, t string")
        .select("i", phonetic_key(F.col("t")).alias("k"))
        .collect()
    }
    con = duckdb.connect()
    got_sql = {}
    for i, t in rows:
        (k,) = con.execute(
            f"SELECT {phonetic_key_sql('t')} FROM (SELECT ?::VARCHAR AS t)",
            [t],
        ).fetchone()
        got_sql[i] = k
    for i, t in rows:
        exp = SOUNDEX_GOLDENS[t]
        assert got_spark[i] == exp, f"spark {t!r}: {got_spark[i]} != {exp}"
        assert got_sql[i] == exp, f"sql {t!r}: {got_sql[i]} != {exp}"
        assert phonetic_key_py(t) == exp, f"py {t!r}"


def test_phonetic_pairs_blocks_and_guardrail(spark):
    from blurrily_spark.operators.pairs import phonetic_pairs

    import pytest as _pytest

    rows = [
        (1, "smith"), (2, "smyth"), (3, "smithe"),   # S530 block of 3
        (4, "robert"), (5, "rupert"),                # R163 block of 2
        (6, "unique"),                               # singleton -> no pair
        (7, "123"),                                  # keyless -> dropped
    ]
    df = spark.createDataFrame(rows, "ref long, name string")
    got = {
        (r["ref_a"], r["ref_b"]): r["pkey"]
        for r in phonetic_pairs(df, "name").collect()
    }
    assert got == {
        (1, 2): "S530", (1, 3): "S530", (2, 3): "S530", (4, 5): "R163",
    }
    # max_block=2 drops the 3-member S530 block entirely, keeps R163
    capped = {
        (r["ref_a"], r["ref_b"])
        for r in phonetic_pairs(df, "name", max_block=2).collect()
    }
    assert capped == {(4, 5)}
    with _pytest.raises(ValueError, match="max_block"):
        phonetic_pairs(df, "name", max_block=1)


# --- token-sort ratio -------------------------------------------------------

def _lev_py(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _tsr_py(a: str, b: str) -> float:
    sa = " ".join(sorted(w for w in a.split(" ") if w))
    sb = " ".join(sorted(w for w in b.split(" ") if w))
    mx = max(len(sa), len(sb))
    return 1.0 if mx == 0 else 1.0 - _lev_py(sa, sb) / mx


def test_token_sort_ratio_matches_python_model(spark):
    from pyspark.sql import functions as F

    from blurrily_spark.operators.scoring import token_sort_ratio

    cases = [
        ("john smith", "smith john"),        # pure word swap -> 1.0
        ("john smith", "jon smith"),
        ("the quick brown fox", "quick the brown fax"),
        ("", ""),                            # both empty -> 1.0
        ("abc", ""),
        ("a b a", "a a b"),
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(cases)]
    got = {
        r["i"]: r["ratio"]
        for r in spark.createDataFrame(rows, "i int, a string, b string")
        .select("i", token_sort_ratio(F.col("a"), F.col("b")).alias("ratio"))
        .collect()
    }
    for i, (a, b) in enumerate(cases):
        assert abs(got[i] - _tsr_py(a, b)) < 1e-12, (a, b)
    assert got[0] == 1.0 and got[3] == 1.0


# -- meta-blocking -------------------------------------------------------------


def _mb_edges(spark):
    # hand graph: node weights chosen so WNP keeps a known subset
    #   1-2 w=5, 1-3 w=1, 2-3 w=3, 3-4 w=1
    rows = [(1, 2, 5), (1, 3, 1), (2, 3, 3), (3, 4, 1)]
    return spark.createDataFrame(rows, "ref_a long, ref_b long, matches long")


def test_meta_blocking_wnp_hand_case(spark):
    from blurrily_spark.operators.pairs import meta_blocking_prune

    # node means: 1 -> (5+1)/2 = 3; 2 -> (5+3)/2 = 4; 3 -> (1+3+1)/3 = 5/3;
    # 4 -> 1. Union-WNP keeps: 1-2 (5 >= 3), 2-3 (3 >= 5/3 at node 3),
    # 3-4 (1 >= 1 at node 4); drops 1-3 (1 < 3 and 1 < 5/3).
    kept = meta_blocking_prune(_mb_edges(spark), scheme="wnp")
    got = sorted((r["ref_a"], r["ref_b"]) for r in kept.collect())
    assert got == [(1, 2), (2, 3), (3, 4)]
    assert kept.columns == ["ref_a", "ref_b", "matches"]


def test_meta_blocking_wep_hand_case(spark):
    from blurrily_spark.operators.pairs import meta_blocking_prune

    # global mean = 10/4 = 2.5 -> keep w in {5, 3}
    kept = meta_blocking_prune(_mb_edges(spark), scheme="wep")
    got = sorted((r["ref_a"], r["ref_b"]) for r in kept.collect())
    assert got == [(1, 2), (2, 3)]


def test_meta_blocking_wnp_keeps_every_nodes_max_edge(spark):
    # the union-WNP guarantee: no non-isolated node is orphaned, because
    # each node's max-weight incident edge clears its own mean (>= ties keep)
    from blurrily_spark.operators.pairs import meta_blocking_prune

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    edges = candidate_pairs(postings)
    kept = meta_blocking_prune(edges, scheme="wnp")
    nodes_before = {
        n for r in edges.collect() for n in (r["ref_a"], r["ref_b"])
    }
    nodes_after = {
        n for r in kept.collect() for n in (r["ref_a"], r["ref_b"])
    }
    assert nodes_after == nodes_before
    # and pruning is a subset of the input edge set
    before = {(r["ref_a"], r["ref_b"]) for r in edges.collect()}
    after = {(r["ref_a"], r["ref_b"]) for r in kept.collect()}
    assert after <= before


def _mb_model(rows, scheme):
    """Pure-Python meta-blocking over ``(tag, ref_b, ref_a, w)`` rows: every
    input row is judged on its own (duplicates stay), NULL weights never
    pass, and WNP drops an edge with a NULL endpoint while its weight
    still counts for the other endpoint's mean."""
    if scheme == "wep":
        tw = sum(r[3] for r in rows if r[3] is not None)
        return [r for r in rows if r[3] is not None and r[3] * len(rows) >= tw]
    sums, cnts = {}, {}
    for _, b, a, w in rows:
        for n in (a, b):
            cnts[n] = cnts.get(n, 0) + 1
            sums[n] = sums.get(n, 0) + (w or 0)
    return [
        r
        for r in rows
        if r[3] is not None
        and None not in (r[1], r[2])
        and any(r[3] * cnts[n] >= sums[n] for n in (r[1], r[2]))
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("scheme", ["wnp", "wep"])
def test_meta_blocking_matches_python_model(spark, scheme, seed):
    """Seeded graphs with weight ties, repeated (ref_a, ref_b) rows, NULL
    weights, a NULL endpoint and a payload column, in a column order the
    output must keep."""
    import random

    from blurrily_spark.operators.pairs import meta_blocking_prune

    rng = random.Random(seed)
    rows = []
    for i in range(60):
        a, b = rng.sample(range(12), 2)
        w = None if rng.random() < 0.1 else rng.randint(1, 4)
        rows.append((f"p{i}", max(a, b), min(a, b), w))
    rows += [(f"p{len(rows)}", *rows[0][1:]), ("p_null", None, 3, 2)]
    df = spark.createDataFrame(rows, "tag string, ref_b long, ref_a long, matches int")
    kept = meta_blocking_prune(df, scheme=scheme)
    assert kept.columns == df.columns
    assert sorted(r["tag"] for r in kept.collect()) == sorted(
        r[0] for r in _mb_model(rows, scheme)
    )


def test_meta_blocking_rejects_unknown_scheme(spark):
    import pytest as _pytest

    from blurrily_spark.operators.pairs import meta_blocking_prune

    with _pytest.raises(ValueError, match="scheme"):
        meta_blocking_prune(_mb_edges(spark), scheme="cnp")


# -- blocking metrics ----------------------------------------------------------


def test_blocking_metrics_hand_case(spark):
    from blurrily_spark.quality import blocking_metrics

    # 6 records in 3 true entities: {1,2,3}, {4,5}, {6}
    # true matches M = 3 + 1 = 4; total pairs = 15
    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)],
        "ref long, entity_true long",
    )
    # blocker proposes 5 pairs, 3 of them true ((1,2), (2,3), (4,5));
    # (2,1) duplicates (1,2) reversed and must not double-count
    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (4, 5), (1, 6), (3, 4)],
        "ref_a long, ref_b long",
    )
    row = blocking_metrics(cand, truth).collect()[0]
    assert row["n_items"] == 6
    assert row["total_pairs"] == 15
    assert row["true_matches"] == 4
    assert row["n_candidates"] == 5
    assert row["tp_candidates"] == 3
    assert row["reduction_ratio"] == round(1 - 5 / 15, 6)
    assert row["pairs_completeness"] == 0.75
    assert row["pairs_quality"] == 0.6
    pc, pq = 0.75, 0.6
    assert row["pq_pc_f1"] == round(2 * pc * pq / (pc + pq), 6)


def test_blocking_metrics_empty_candidates(spark):
    from blurrily_spark.quality import blocking_metrics

    truth = spark.createDataFrame([(1, 10), (2, 10)], "ref long, entity_true long")
    cand = spark.createDataFrame([], "ref_a long, ref_b long")
    row = blocking_metrics(cand, truth).collect()[0]
    assert row["n_candidates"] == 0
    assert row["pairs_quality"] == 0.0
    assert row["pairs_completeness"] == 0.0
    assert row["reduction_ratio"] == 1.0


# -- block filtering -----------------------------------------------------------


def test_block_filtering_hand_case(spark):
    # postings with known per-block dfs:
    #   block 10 df=3, block 20 df=2, block 30 df=1, block 40 df=1
    # record 1 has blocks {10, 20, 30, 40}; at ratio=0.5 it keeps
    # ceil(0.5*4)=2 smallest-(df, trigram): 30 (df=1), 40 (df=1)
    # record 2 has {10, 20}; keeps ceil(0.5*2)=1: 20 (df=2 < 10's df=3... no:
    # order is df asc -> 20 (df=2) before 10 (df=3)
    # record 3 has {10}; keeps ceil(0.5*1)=1: 10
    from blurrily_spark.operators.pairs import block_filtering

    rows = [
        (10, 1), (20, 1), (30, 1), (40, 1),
        (10, 2), (20, 2),
        (10, 3),
    ]
    p = spark.createDataFrame(rows, "trigram int, ref long")
    kept = {(r["ref"], r["trigram"]) for r in block_filtering(p, 0.5).collect()}
    assert kept == {(1, 30), (1, 40), (2, 20), (3, 10)}


def test_block_filtering_ratio_one_is_identity(spark):
    from blurrily_spark.operators.pairs import block_filtering

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    before = {(r["ref"], r["trigram"]) for r in postings.collect()}
    after = {
        (r["ref"], r["trigram"]) for r in block_filtering(postings, 1.0).collect()
    }
    assert after == before
    # and columns pass through untouched
    assert block_filtering(postings, 0.5).columns == postings.columns


def test_block_filtering_is_subset_and_deterministic(spark):
    from blurrily_spark.operators.pairs import block_filtering

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    a = {(r["ref"], r["trigram"]) for r in block_filtering(postings, 0.6).collect()}
    b = {(r["ref"], r["trigram"]) for r in block_filtering(postings, 0.6).collect()}
    full = {(r["ref"], r["trigram"]) for r in postings.collect()}
    assert a == b
    assert a < full


def test_block_filtering_rejects_bad_ratio(spark):
    import pytest as _pytest

    from blurrily_spark.operators.pairs import block_filtering

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError, match="ratio"):
            block_filtering(postings, bad)


# -- threshold sweep -----------------------------------------------------------


def test_threshold_sweep_hand_case(spark):
    from blurrily_spark.quality import threshold_sweep

    # truth: {1,2,3} one entity, {4,5} another -> M = 3 + 1 = 4
    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
        "ref long, entity_true long",
    )
    # scored candidates: (1,2)=0.9 T, (2,3)=0.5 T, (4,5)=0.3 T, (1,4)=0.6 F
    scored = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5), (4, 5, 0.3), (1, 4, 0.6)],
        "ref_a long, ref_b long, jaccard double",
    )
    rows = {
        r["threshold"]: r
        for r in threshold_sweep(scored, truth, [0.4, 0.7]).collect()
    }
    assert set(rows) == {0.4, 0.7}
    r4 = rows[0.4]  # keeps 0.9 T, 0.5 T, 0.6 F -> tp=2 fp=1 fn=2
    assert (r4["kept_pairs"], r4["tp"], r4["fp"], r4["fn"]) == (3, 2, 1, 2)
    assert r4["precision"] == round(2 / 3, 6)
    assert r4["recall"] == 0.5
    r7 = rows[0.7]  # keeps 0.9 T only -> tp=1 fp=0 fn=3
    assert (r7["kept_pairs"], r7["tp"], r7["fp"], r7["fn"]) == (1, 1, 0, 3)
    assert r7["precision"] == 1.0
    assert r7["recall"] == 0.25
    f1 = 2 * 1.0 * 0.25 / 1.25
    assert r7["f1"] == round(f1, 6)


def test_threshold_sweep_empty_thresholds_raises(spark):
    import pytest as _pytest

    from blurrily_spark.quality import threshold_sweep

    truth = spark.createDataFrame([(1, 10)], "ref long, entity_true long")
    scored = spark.createDataFrame([], "ref_a long, ref_b long, jaccard double")
    with _pytest.raises(ValueError, match="thresholds"):
        threshold_sweep(scored, truth, [])


def test_threshold_sweep_single_aggregation_no_explode(spark):
    # the sweep must be ONE pass over the pairs: the per-threshold counts
    # ride a single Aggregate (conditional sums), and the stack unpivot's
    # Generate sits ABOVE it -- unpivoting the one aggregated row, never
    # replicating the pair set T times
    from blurrily_spark.quality import threshold_sweep

    truth = spark.createDataFrame([(1, 10), (2, 10)], "ref long, entity_true long")
    scored = spark.createDataFrame(
        [(1, 2, 0.5)], "ref_a long, ref_b long, jaccard double"
    )
    plan = (
        threshold_sweep(scored, truth, [0.1 * i for i in range(1, 10)])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the tree prints top-down: the (only) Generate precedes every Aggregate
    assert plan.count("Generate") == 1
    assert plan.index("Generate") < plan.index("Aggregate")


# -- cluster stats -------------------------------------------------------------


def test_cluster_stats_hand_case(spark):
    from blurrily_spark.quality import cluster_stats

    # cluster 1 = {1,2,3} complete triangle (density 1.0)
    # cluster 4 = {4,5,6} chain 4-5-6 (2 edges of 3 -> density 2/3)
    # cluster 7 = {7} singleton (density 0.0)
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7)],
        "ref long, entity_id long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6)], "src long, dst long"
    )
    rows = {r["entity_id"]: r for r in cluster_stats(assign, edges).collect()}
    assert set(rows) == {1, 4, 7}
    assert (rows[1]["size"], rows[1]["n_edges"], rows[1]["density"]) == (3, 3, 1.0)
    assert (rows[4]["size"], rows[4]["n_edges"]) == (3, 2)
    assert rows[4]["density"] == round(2 / 3, 6)
    assert (rows[7]["size"], rows[7]["n_edges"], rows[7]["density"]) == (1, 0, 0.0)


def test_cluster_stats_ignores_cross_cluster_edges(spark):
    from blurrily_spark.quality import cluster_stats

    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "ref long, entity_id long"
    )
    # edge 2-3 crosses clusters and must not count anywhere
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rows = {r["entity_id"]: r for r in cluster_stats(assign, edges).collect()}
    assert rows[1]["n_edges"] == 1
    assert rows[3]["n_edges"] == 0


# -- token blocking ------------------------------------------------------------


def test_token_blocking_hand_case(spark):
    from blurrily_spark.operators.pairs import token_blocking_pairs

    docs = spark.createDataFrame(
        [
            (1, "red cat sat"),
            (2, "red cat ran"),
            (3, "blue dog sat"),
            (4, "green bird"),
        ],
        "doc_id long, text string",
    )
    # shared distinct tokens: (1,2) {red,cat}=2; (1,3) {sat}=1; others 0
    got = {
        (r["ref_a"], r["ref_b"]): r["matches"]
        for r in token_blocking_pairs(docs).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1}
    # min_matches thresholds the count
    got2 = {
        (r["ref_a"], r["ref_b"])
        for r in token_blocking_pairs(docs, min_matches=2).collect()
    }
    assert got2 == {(1, 2)}


def test_token_blocking_dedupes_repeated_tokens(spark):
    from blurrily_spark.operators.pairs import token_blocking_pairs

    # "cat cat cat" shares ONE distinct token with "cat", not three
    docs = spark.createDataFrame(
        [(1, "cat cat cat"), (2, "cat")], "doc_id long, text string"
    )
    rows = token_blocking_pairs(docs).collect()
    assert [(r["ref_a"], r["ref_b"], r["matches"]) for r in rows] == [(1, 2, 1)]


def test_token_blocking_max_df_purges_stopwords(spark):
    from blurrily_spark.operators.pairs import token_blocking_pairs

    # "the" appears in all 3 docs -> purged at max_df=2; only (1,2) share "cat"
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "the cat"), (3, "the dog")],
        "doc_id long, text string",
    )
    got = {
        (r["ref_a"], r["ref_b"]): r["matches"]
        for r in token_blocking_pairs(docs, max_df=2).collect()
    }
    assert got == {(1, 2): 1}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_df"):
        token_blocking_pairs(docs, max_df=1)


def test_token_blocking_normalizes_before_splitting(spark):
    from blurrily_spark.operators.pairs import token_blocking_pairs

    # punctuation/case fold through the S1 pipeline: "Red, CAT!" == "red cat"
    docs = spark.createDataFrame(
        [(1, "Red, CAT!"), (2, "red cat")], "doc_id long, text string"
    )
    rows = token_blocking_pairs(docs).collect()
    assert [(r["ref_a"], r["ref_b"], r["matches"]) for r in rows] == [(1, 2, 2)]


# -- edit-distance join --------------------------------------------------------


def test_with_edit_distance_exact_values(spark):
    from blurrily_spark.operators.scoring import with_edit_distance

    recs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "zzzzzzzzzzzz")],
        "ref long, norm string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "ref_a long, ref_b long"
    )
    got = {
        (r["ref_a"], r["ref_b"]): r["edit_dist"]
        for r in with_edit_distance(pairs, recs).collect()
    }
    assert got == {(1, 2): 3, (1, 3): 0, (1, 4): 12}


def test_with_edit_distance_threshold_and_length_prefilter(spark):
    from blurrily_spark.operators.scoring import with_edit_distance

    recs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "abcdefghijklmnop")],
        "ref long, norm string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "ref_a long, ref_b long"
    )
    # k=3 keeps (1,2) at exactly 3; (1,3) dies in the free length prefilter
    # (|6-16| = 10 > 3) before any DP
    rows = with_edit_distance(pairs, recs, max_dist=3).collect()
    assert [(r["ref_a"], r["ref_b"], r["edit_dist"]) for r in rows] == [(1, 2, 3)]
    # k=2 drops it in the thresholded levenshtein (-1 filter), not an error
    assert with_edit_distance(pairs, recs, max_dist=2).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_dist"):
        with_edit_distance(pairs, recs, max_dist=-1)


def test_with_edit_distance_duplicate_ref_multiplicity(spark):
    """The length-first prune must not change output multiplicity when
    ``records`` carries duplicate refs: the prune joins a per-ref
    AGGREGATED (min_len, max_len) table -- one row per ref -- and only the
    text joins (same as the unbounded path) multiply rows."""
    from blurrily_spark.operators.scoring import with_edit_distance

    recs = spark.createDataFrame(
        [(7, "kitten"), (7, "kitten"), (8, "sitting"), (9, "a" * 60)],
        "ref long, norm string",
    )
    pairs = spark.createDataFrame([(7, 8), (7, 9)], "ref_a long, ref_b long")
    unbounded = with_edit_distance(pairs, recs).where("edit_dist <= 3").collect()
    bounded = with_edit_distance(pairs, recs, max_dist=3).collect()
    key = lambda r: (r["ref_a"], r["ref_b"], r["edit_dist"])
    # (7,8) appears twice in both paths (two copies of ref 7); (7,9) dies
    # in the length prune / threshold in both
    assert sorted(map(key, bounded)) == sorted(map(key, unbounded)) == [
        (7, 8, 3),
        (7, 8, 3),
    ]


def test_with_edit_distance_bounded_equals_unbounded_within_k(spark):
    # the thresholded DP must agree with full levenshtein on every pair it
    # keeps, over real candidate pairs
    from blurrily_spark.operators.index import prepare_needles
    from blurrily_spark.operators.scoring import with_edit_distance

    hay_df = put_rows(spark, HAYSTACK)
    postings = build_postings(hay_df, order_col="seq")
    cand = candidate_pairs(postings).select("ref_a", "ref_b")
    recs = prepare_needles(hay_df, order_col="seq").select("ref", "norm")
    full = {
        (r["ref_a"], r["ref_b"]): r["edit_dist"]
        for r in with_edit_distance(cand, recs).collect()
    }
    k = 6
    bounded = {
        (r["ref_a"], r["ref_b"]): r["edit_dist"]
        for r in with_edit_distance(cand, recs, max_dist=k).collect()
    }
    assert bounded == {p: d for p, d in full.items() if d <= k}


# -- set-similarity family -----------------------------------------------------


def test_set_similarity_known_values(spark):
    import math

    from blurrily_spark.operators.pairs import with_set_similarity

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    got = {
        (r["ref_a"], r["ref_b"]): r
        for r in with_set_similarity(candidate_pairs(postings), postings).collect()
    }
    for (ra, rb), (m, a, b) in expected_pairs(HAYSTACK).items():
        r = got[(ra, rb)]
        assert abs(r["jaccard"] - m / (a + b - m)) < 1e-12
        assert abs(r["dice"] - 2 * m / (a + b)) < 1e-12
        assert abs(r["overlap"] - m / min(a, b)) < 1e-12
        assert abs(r["cosine"] - m / math.sqrt(a * b)) < 1e-12


def test_set_similarity_orderings(spark):
    # dice is a monotone transform of jaccard (same ranking); overlap hits
    # 1.0 exactly on containment
    from blurrily_spark.operators.pairs import with_set_similarity

    rows = [("abcdef", 1), ("abcdef extra tail", 2), ("xyz", 3)]
    postings = build_postings(put_rows(spark, rows), order_col="seq")
    s = {
        (r["ref_a"], r["ref_b"]): r
        for r in with_set_similarity(candidate_pairs(postings), postings).collect()
    }
    r = s[(1, 2)]
    assert r["overlap"] == 1.0  # T(1) subset of T(2)
    assert r["jaccard"] < r["dice"] <= 1.0


# -- multi-pass blocking -------------------------------------------------------


def test_multipass_candidates_provenance(spark):
    from blurrily_spark.operators.pairs import multipass_candidates

    a = spark.createDataFrame([(1, 2), (1, 3)], "ref_a long, ref_b long")
    # scheme b proposes (2,1) reversed -- must merge with a's (1,2)
    b = spark.createDataFrame([(2, 1), (3, 4)], "ref_a long, ref_b long")
    got = {
        (r["ref_a"], r["ref_b"]): (r["schemes"], r["n_schemes"])
        for r in multipass_candidates({"tri": a, "tok": b}).collect()
    }
    assert got == {
        (1, 2): ("tok,tri", 2),
        (1, 3): ("tri", 1),
        (3, 4): ("tok", 1),
    }


def test_multipass_candidates_empty_schemes_raises(spark):
    import pytest as _pytest

    from blurrily_spark.operators.pairs import multipass_candidates

    with _pytest.raises(ValueError, match="schemes"):
        multipass_candidates({})


def test_multipass_superset_of_each_pass(spark):
    from blurrily_spark.operators.pairs import (
        multipass_candidates,
        token_blocking_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "red cat sat"), (2, "red cat ran"), (3, "blue dog sat")],
        "doc_id long, text string",
    )
    postings = build_postings(docs, text_col="text", ref_col="doc_id", weight_col=None)
    tri = candidate_pairs(postings, keys_only=True)
    tok = token_blocking_pairs(docs)
    multi = multipass_candidates({"trigram": tri, "token": tok})
    mset = {(r["ref_a"], r["ref_b"]) for r in multi.collect()}
    for df in (tri, tok):
        assert {(r["ref_a"], r["ref_b"]) for r in df.collect()} <= mset


# -- idf-weighted cosine -------------------------------------------------------


def _idf_cos_py(rows):
    # python model of the scaled-int rational-idf cosine
    import math

    tg = {ref: set(tokenize_py(text)) for text, ref in rows}
    n = len(tg)
    df = {}
    for ts in tg.values():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    w = {t: math.floor((n - d + 0.5) / (d + 0.5) * 1e6 + 0.5) for t, d in df.items()}
    ws = {ref: sum(w[t] for t in ts) for ref, ts in tg.items()}
    out = {}
    for (ra, ta), (rb, tb) in itertools.combinations(sorted(tg.items()), 2):
        shared = ta & tb
        if shared:
            dot = sum(w[t] for t in shared)
            out[(ra, rb)] = (len(shared), dot / math.sqrt(ws[ra] * ws[rb]))
    return out


def test_idf_weighted_pairs_matches_python_model(spark):
    from blurrily_spark.operators.pairs import idf_weighted_pairs

    postings = build_postings(put_rows(spark, HAYSTACK), order_col="seq")
    got = {
        (r["ref_a"], r["ref_b"]): (r["matches"], r["idf_cos"])
        for r in idf_weighted_pairs(postings).collect()
    }
    exp = _idf_cos_py(HAYSTACK)
    assert set(got) == set(exp)
    for k, (m, s) in exp.items():
        assert got[k][0] == m
        assert abs(got[k][1] - s) < 1e-12, k


def test_idf_weights_rare_evidence_higher(spark):
    # two pairs with the SAME matches count: the one sharing rarer trigrams
    # must score strictly higher
    from blurrily_spark.operators.pairs import idf_weighted_pairs

    rows = [
        ("qzxv", 1), ("qzxv", 2),          # share rare trigrams (df=2)
        ("aaab", 3), ("aaab", 4),          # share trigrams also in 5..8
        ("aaab filler one", 5), ("aaab filler two", 6),
        ("aaab pad three", 7), ("aaab pad four", 8),
    ]
    postings = build_postings(put_rows(spark, rows), order_col="seq")
    s = {
        (r["ref_a"], r["ref_b"]): r["idf_cos"]
        for r in idf_weighted_pairs(postings).collect()
    }
    # identical strings -> cosine 1.0 regardless of rarity
    assert abs(s[(1, 2)] - 1.0) < 1e-12
    assert abs(s[(3, 4)] - 1.0) < 1e-12
    # (3,5): shared 'aaab' trigrams are common across 5..8 -> scores below
    # a pair sharing the same trigrams exclusively
    assert s[(3, 5)] < s[(3, 4)]
