"""Bucketed postings layout: blocking joins must plan without a shuffle.

This is the 100 TB story for the write path: postings stored bucketed by
trigram make the FIND gather join and the pair-generation self-join
exchange-free (the reference's fixed 28^3 array layout, re-expressed as a
bucketed table).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blurrily_spark.operators.index import build_postings, save_postings_bucketed


def _postings(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return build_postings(docs, text_col="text", ref_col="doc_id", weight_col=None)


def test_bucketed_self_join_has_no_shuffle(spark, tmp_path):
    save_postings_bucketed(
        _postings(spark), "postings_bucketed_t1", str(tmp_path / "pb"), buckets=8
    )
    # force the merge-join path (tiny test data would otherwise broadcast,
    # which hides the bucketing: at real scale neither side is broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table("postings_bucketed_t1")
        a = t.select("trigram", F.col("ref").alias("ref_a"))
        b = t.select("trigram", F.col("ref").alias("ref_b"))
        joined = (
            a.join(b, "trigram")
            .where(F.col("ref_a") < F.col("ref_b"))
            .groupBy("ref_a", "ref_b")
            .agg(F.count(F.lit(1)).alias("matches"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both scan sides must report the bucketed layout...
        assert plan.count("Bucketed: true") == 2, plan[:2000]
        # ...and the join subtree must contain NO shuffle: the only
        # repartitioning exchange allowed anywhere is the one feeding the
        # final groupBy(ref_a, ref_b)
        assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, join_part[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_gather_join_has_no_postings_shuffle(spark, tmp_path):
    """FIND's gather: broadcast needle trigrams against bucketed postings --
    no exchange at all on the postings side."""
    save_postings_bucketed(
        _postings(spark), "postings_bucketed_t2", str(tmp_path / "pb2"), buckets=8
    )
    t = spark.table("postings_bucketed_t2")
    needles = spark.createDataFrame([(1, 100)], "query_id long, trigram int")
    joined = F.broadcast(needles).join(t, "trigram").groupBy("query_id", "ref").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # postings enter the broadcast join straight from the scan: the only
    # exchanges allowed are the broadcast itself and the agg shuffle
    import re

    non_broadcast_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(non_broadcast_exchanges) <= 1  # just the final groupBy


def test_find_against_bucketed_table_plan(spark, tmp_path):
    """The bench's FIND path: operators.find against the bucketed stored
    index must broadcast the needle side and read postings straight off the
    bucketed scan -- the only hash exchange anywhere is the aggregate's."""
    import re

    from blurrily_spark.operators.find import find

    save_postings_bucketed(
        _postings(spark), "postings_bucketed_t3", str(tmp_path / "pb3"), buckets=8
    )
    t = spark.table("postings_bucketed_t3")
    queries = spark.createDataFrame(
        [(1, "key agg row scan"), (2, "custmer order")],
        "query_id long, needle string",
    )
    out = find(t, queries, limit=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # every hash exchange must be post-join and keyed by query_id (the agg
    # and the ranking window, both result-sized); the postings themselves
    # are never shuffled
    for ln in plan.splitlines():
        if re.search(r"\bExchange hashpartitioning", ln):
            assert "query_id" in ln, ln
    assert out.count() > 0


def test_bucketed_knn_join_has_no_join_shuffle(spark, tmp_path):
    """knn_join over the bucketed stored layout (the bench's q_knn_join
    shape): the directed self-join must be exchange-free on both sides --
    the only shuffles allowed are the (query_ref, ref) collision agg and
    the per-query window. The max_df broadcast prefilter must not break
    the bucketed distribution (BroadcastHashJoin preserves the streamed
    side's partitioning)."""
    from blurrily_spark.operators.find import knn_join

    save_postings_bucketed(
        _postings(spark), "postings_bucketed_knn", str(tmp_path / "pbk"), buckets=8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table("postings_bucketed_knn")
        res = knn_join(t, k=3)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Bucketed: true") == 2, plan[:2000]
        # no exchange below the trigram join: everything AFTER the last
        # SortMergeJoin in the plan string is its input subtree
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, join_part[:2000]
        # whole plan: collision agg + window = at most 2 repartitionings
        assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]
        assert res.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
