"""Golden find/put/delete rankings from the reference spec suite.

Each case re-expresses a reference spec (FIXTURES.md §4) as a labeled
expectation over the Spark pipeline: build postings from put rows
(arrival-ordered), run find, assert exact (ref, matches, weight) triples
and rank order.
"""

from __future__ import annotations

import pytest
from conftest import put_rows

from blurrily_spark.operators.find import (
    find,
    find_idf,
    find_one,
    knn_join,
    mutual_knn_pairs,
)
from blurrily_spark.operators.index import (
    build_postings,
    delete_refs,
    stats,
)


def _postings(spark, rows):
    return build_postings(put_rows(spark, rows), order_col="seq")


def _needle(spark, needle):
    return spark.createDataFrame([(0, needle)], "query_id long, needle string")


def _triples(df):
    return [(r["ref"], r["matches"], r["weight"]) for r in df.collect()]


def test_perfect_match(spark):
    # spec/blurrily/map_spec.rb:158-161: find('london') -> [123, 7, 6]
    p = _postings(spark, [("london", 123)])
    assert _triples(find_one(p, "london")) == [(123, 7, 6)]


def test_single_find_paris(spark):
    # spec/integration_spec.rb:31-35: [[123, 6, 5]]
    p = _postings(spark, [("paris", 123)])
    assert _triples(find_one(p, "paris")) == [(123, 6, 5)]


def test_typo_insert_pariis(spark):
    # spec/integration_spec.rb:34: find('pariis') -> [[123, 5, 5]]
    p = _postings(spark, [("paris", 123)])
    assert _triples(find_one(p, "pariis")) == [(123, 5, 5)]


def test_typo_tolerance(spark):
    # spec/blurrily/map_spec.rb:176-193: insert/delete/swap all still found
    p = _postings(spark, [("london", 123)])
    for needle in ["lonXdon", "lodon", "lodnon"]:
        refs = [t[0] for t in _triples(find_one(p, needle))]
        assert refs == [123], needle


def test_exact_over_prefix(spark):
    # spec/blurrily/map_spec.rb:163-168: exact match ranks first
    p = _postings(
        spark, [("lon", 125), ("london city airport", 124), ("london", 123)]
    )
    triples = _triples(find_one(p, "london"))
    assert triples[0][0] == 123


def test_matchiness_ordering_york(spark):
    # spec/blurrily/map_spec.rb:195-202: [1003, 1001, 1002, 1004]
    p = _postings(
        spark,
        [
            ("New York", 1001),
            ("Yorkshire", 1002),
            ("York", 1003),
            ("Yorkisthan", 1004),
        ],
    )
    triples = _triples(find_one(p, "York"))
    assert [t[0] for t in triples] == [1003, 1001, 1002, 1004]
    assert [t[1] for t in triples] == [5, 4, 4, 4]  # matches
    assert [t[2] for t in triples] == [4, 8, 9, 10]  # weights ascending among ties


def test_weight_ascending_tiebreak(spark):
    # spec/blurrily/map_spec.rb:204-209: same text, explicit weights -> light first
    p = _postings(spark, [("london", 103, 103), ("london", 101, 101), ("london", 102, 102)])
    triples = _triples(find_one(p, "london"))
    assert [t[0] for t in triples] == [101, 102, 103]


def test_prefix_multi_token_great(spark):
    # spec/blurrily/command_processor_spec.rb:15-19:
    # find('great') -> [12, 6, 12], [13, 5, 16]
    p = _postings(spark, [("great london", 12), ("greater masovian", 13)])
    assert _triples(find_one(p, "great")) == [(12, 6, 12), (13, 5, 16)]


def test_not_found_empty_haystack(spark):
    # spec/blurrily/command_processor_spec.rb:21-23
    p = _postings(spark, [("something", 1)])
    empty = delete_refs(p, [1])
    assert find_one(empty, "great london").count() == 0


def test_limit(spark):
    # spec/blurrily/map_spec.rb:136-142: limit=2 -> exactly 2 rows
    p = _postings(spark, [("london", r) for r in range(5)])
    assert find(p, _needle(spark, "london"), limit=2).count() == 2


def test_limit_default_10(spark):
    p = _postings(spark, [("london", r) for r in range(15)])
    assert find_one(p, "london").count() == 10
    # limit <= 0 falls back to default (ext/blurrily/map_ext.c:142-146)
    assert find(p, _needle(spark, "london"), limit=0).count() == 10


def test_dup_ref_noop(spark):
    # spec/blurrily/map_spec.rb:61-67: second put with same ref is ignored
    p = _postings(spark, [("london", 123), ("paris", 123)])
    assert find_one(p, "paris").count() == 0
    assert [t[0] for t in _triples(find_one(p, "london"))] == [123]


def test_dup_ref_noop_incremental():
    # same semantics across an incremental put: api.Map carries W2
    from blurrily_spark.api import Map

    m = Map()
    m.put("london", 123)
    assert m.put("paris", 123) == 0
    m.put("rome", 7)
    assert m.find("paris") == []
    assert [t[0] for t in m.find("rome")] == [7]


def test_multi_ref_order(spark):
    # spec/integration_spec.rb:37-42: refs [123, 456] for both paris and pariis
    p = _postings(spark, [("paris", 123), ("paris", 456)])
    for needle in ["paris", "pariis"]:
        assert [t[0] for t in _triples(find_one(p, needle))] == [123, 456], needle


def test_delete(spark):
    # spec/integration_spec.rb:44-49
    p = _postings(spark, [("paris", 123), ("paris", 456)])
    p2 = delete_refs(p, [456])
    assert [t[0] for t in _triples(find_one(p2, "paris"))] == [123]


def test_readd_after_delete(spark):
    # spec/blurrily/map_spec.rb:109-114: delete then re-put same ref works
    p = _postings(spark, [("london", 1337)])
    p = delete_refs(p, [1337])
    p = p.unionByName(_postings(spark, [("paris", 1337)]))
    assert [t[0] for t in _triples(find_one(p, "paris"))] == [1337]


def test_stats(spark):
    # foobar -> 7 unique trigrams; stats counts references + posting rows
    p = _postings(spark, [("foobar", 1), ("paris", 2)])
    row = stats(p).collect()[0]
    assert row["references"] == 2
    assert row["trigrams"] == 7 + 6


def test_batch_find_multiple_queries(spark):
    p = _postings(spark, [("london", 1), ("paris", 2)])
    q = spark.createDataFrame(
        [(10, "london"), (20, "paris"), (30, "zzz")],
        "query_id long, needle string",
    )
    res = find(p, q).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["ref"], r["matches"], r["weight"]))
    assert by_q[10] == [(1, 7, 6)]
    assert by_q[20] == [(2, 6, 5)]
    assert 30 not in by_q


# ---------------------------------------------------------------------------
# knn_join: per-record top-k batch FIND (self-similarity join)
# ---------------------------------------------------------------------------


def _knn_rows(df):
    return [
        (r["query_ref"], r["ref"], r["matches"], r["weight"], r["rank"])
        for r in df.orderBy("query_ref", "rank").collect()
    ]


def test_knn_join_golden(spark):
    # two identical 'london' records match each other with the full 7-trigram
    # intersection (spec/blurrily/map_spec.rb:158-161 counts); 'paris' shares
    # no trigram with either, so it yields no row in either direction.
    p = _postings(spark, [("london", 1), ("london", 2), ("paris", 3)])
    assert _knn_rows(knn_join(p, k=2)) == [
        (1, 2, 7, 6, 1),
        (2, 1, 7, 6, 1),
    ]


def test_knn_join_tie_order_and_k(spark):
    # five identical records: every (matches, weight) ties, so ranking falls
    # to the deterministic ref ASC third key (F5's comparator leaves full
    # ties unordered; we pin insertion-id order like spec/integration_spec.rb)
    p = _postings(spark, [("london", r) for r in range(1, 6)])
    rows = _knn_rows(knn_join(p, k=2))
    assert rows[:2] == [(1, 2, 7, 6, 1), (1, 3, 7, 6, 2)]
    by_q = {}
    for q, ref, *_ in rows:
        by_q.setdefault(q, []).append(ref)
    # each query keeps exactly k=2 neighbours: the two smallest other refs
    assert by_q == {1: [2, 3], 2: [1, 3], 3: [1, 2], 4: [1, 2], 5: [1, 2]}


def test_knn_join_matches_per_record_find(spark):
    # contract: knn_join(r) == find(needle=text(r)) minus the self-hit,
    # ranks renumbered -- the batch generalization of F1-F6
    rows = [("london", 1), ("londons", 2), ("lyon", 3), ("paris", 4)]
    p = _postings(spark, rows)
    knn = {}
    for q, ref, m, w, rk in _knn_rows(knn_join(p, k=10)):
        knn.setdefault(q, []).append((ref, m, w))
    for text, ref in rows:
        expected = [t for t in _triples(find_one(p, text)) if t[0] != ref]
        assert knn.get(ref, []) == expected, text


def test_knn_join_cross_query_side(spark):
    # query_postings restricts the query side (new-batch-vs-corpus kNN);
    # self-exclusion still applies only by ref equality
    p = _postings(spark, [("london", 1), ("london", 2), ("paris", 3)])
    q = p.where("ref = 1")
    assert _knn_rows(knn_join(p, k=5, query_postings=q)) == [(1, 2, 7, 6, 1)]


def test_knn_join_max_df_caps_blocking(spark):
    # a trigram shared by every record is dropped from blocking under
    # max_df; identical records still match on their remaining trigrams
    p = _postings(spark, [("london", r) for r in range(1, 4)])
    capped = _knn_rows(knn_join(p, k=1, max_df=2))
    assert capped == []  # df=3 for every trigram -> all capped away
    uncapped = _knn_rows(knn_join(p, k=1))
    assert [(q, ref) for q, ref, *_ in uncapped] == [(1, 2), (2, 1), (3, 1)]


def test_knn_join_refuses_max_df_below_two(spark):
    # max_df=1 would purge every shared trigram and silently return nothing
    p = _postings(spark, [("london", 1), ("london", 2)])
    with pytest.raises(ValueError, match="max_df must be >= 2, got 1"):
        knn_join(p, k=1, max_df=1)


def test_knn_join_plan_rank_limit_pushdown(spark):
    # the per-query top-k must compile to WindowGroupLimit (partial top-k
    # map-side before the window shuffle), never a global sort
    p = _postings(spark, [("london", 1), ("paris", 2)])
    plan = knn_join(p, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_mutual_knn_prunes_asymmetric_neighbour(spark):
    # refs 1,2 are identical; ref 3's best match is 1 (tie on matches/weight
    # between 1 and 2, ref ASC wins) but 1's top-1 is 2 -- at k=1 the (1,3)
    # edge is asymmetric and must be pruned, (1,2) is mutual and survives
    p = _postings(spark, [("london", 1), ("london", 2), ("londons", 3)])
    rows = [
        (r["ref_a"], r["ref_b"], r["rank_ab"], r["rank_ba"])
        for r in mutual_knn_pairs(p, k=1).collect()
    ]
    assert rows == [(1, 2, 1, 1)]
    # at k=2 every record reciprocates: all three pairs are mutual
    pairs_k2 = sorted(
        (r["ref_a"], r["ref_b"]) for r in mutual_knn_pairs(p, k=2).collect()
    )
    assert pairs_k2 == [(1, 2), (1, 3), (2, 3)]


def test_mutual_knn_matches_python_composition(spark):
    rows = [("london", 1), ("londons", 2), ("lyon", 3), ("paris", 4), ("parish", 5)]
    p = _postings(spark, rows)
    knn = {(r["query_ref"], r["ref"]): (r["matches"], r["rank"])
           for r in knn_join(p, k=2).collect()}
    expected = sorted(
        (a, b, knn[(a, b)][0], knn[(a, b)][1], knn[(b, a)][1])
        for (a, b) in knn
        if a < b and (b, a) in knn
    )
    got = sorted(
        (r["ref_a"], r["ref_b"], r["matches"], r["rank_ab"], r["rank_ba"])
        for r in mutual_knn_pairs(p, k=2).collect()
    )
    assert got == expected


def test_find_idf_rare_evidence_outranks_common(spark):
    # corpus: 'london' appears many times (its trigrams are stopword-grade),
    # 'zyx' once (rare). The needle shares 3 common trigrams with doc 50 and
    # fewer-but-rarer ones with doc 99 -- plain find ranks by count, idf
    # ranks the rare evidence first.
    rows = [("london road", r) for r in range(1, 9)]
    rows += [("london", 50), ("zyxw", 99)]
    p = _postings(spark, rows)
    q = spark.createDataFrame([(0, "zyxw london")], "query_id long, needle string")
    plain = {r["ref"]: r["rank"] for r in find(p, q, limit=20).collect()}
    idf = {r["ref"]: r["rank"] for r in find_idf(p, q).collect()}
    # plain count ranking: doc 50 ('london', 7 shared trigrams incl. edges)
    # beats doc 99 ('zyxw', fewer shared trigrams)
    assert plain[50] < plain[99]
    # idf ranking: doc 99's rare trigrams outweigh doc 50's common ones
    assert idf[99] < idf[50]


def test_find_idf_tie_break_matches_f5(spark):
    # identical docs tie on idf_score; F5's weight ASC then ref ASC applies
    p = _postings(spark, [("paris", 3), ("paris", 1), ("paris", 2)])
    q = spark.createDataFrame([(0, "paris")], "query_id long, needle string")
    got = [(r["ref"], r["rank"]) for r in
           find_idf(p, q).orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_find_idf_reports_raw_matches(spark):
    # matches stays the raw intersection count (thresholdable) even though
    # ranking uses idf_score
    p = _postings(spark, [("london", 1)])
    q = spark.createDataFrame([(0, "london")], "query_id long, needle string")
    r = find_idf(p, q).collect()[0]
    assert (r["ref"], r["matches"], r["weight"], r["rank"]) == (1, 7, 6, 1)
    assert r["idf_score"] > 0
