"""Physical-plan regression gates.

Asserts the plan properties the engine's 100 TB design depends on, so a
refactor that silently reintroduces a Python eval node, loses a pushdown,
or degrades a join strategy fails CI instead of shipping:

* full-corpus scans carry NO Python/Arrow eval node (normalize is one JVM
  expression, ICU NFKD included);
* subset predicates reach the parquet scan (PushedFilters);
* FIND's per-query top-k compiles to WindowGroupLimit (rank-limit
  pushdown), its gather join broadcasts the needle side;
* brute-force cosine scoring broadcasts the query batch -- never a
  CartesianProduct;
* building the span, meta-blocking, LM-scoring, RP-LSH, salted-pairs and
  sorted-neighborhood operators launches no Spark job and keeps a
  streaming input streaming;
* ``global_sort_ranks`` reads its one range exchange twice, the second
  time as a ``ReusedExchange``;
* the linkage tail is survivor-sized: one rebalance exchange below the
  Jaro-Winkler eval node, and an entities stage without an aggregate.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


NO_PYTHON_QUERIES = [
    "index_build",       # postings build (JVM normalize, staged trigrams)
    "dedup_exact",       # full-corpus normalize scan
    "doc_fingerprint",   # normalize + rolling-hash fold
    "token_count",
    "quality_score",
    "lang_id",
    "minhash_signatures",  # portable hash family is pure SQL
    "minhash_lsh_pairs",
    "near_dedup",        # LSH pairs -> CC -> keeper join, end to end
    "duplicate_spans",   # rolling window fingerprints, pure HOF SQL
    "near_dedup_cross",  # new x ref banded join + max(struct) best match
    "simhash_fingerprints",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "blocking_pairs",
    "pairs_jaccard",
    "index_stats",
    "index_delete",
    "events_window_agg",
    "cosine_topk",
    "ann_ivf_fixed",
    "cosine_near_dups",
    "rp_lsh_near_dups",
    "duplicate_span_positions",
    "cut_duplicate_spans",
    "repetition_stats",
    "scrub_pii",
    "sample_stratified",
    "split_corpus",
    "sorted_neighborhood",
    "golden_records",
    "sessionize",
    "session_stats",
    "fs_match_weights",   # FS weights are literal arithmetic, pure codegen
    "fs_estimate_mu",     # tagged explode + groupBy, no Python
    "cluster_metrics",    # contingency-table aggregates, scaled-int math
    "incremental_entities",
    "meta_blocking",      # node and edge windows + filter, pure SQL
    "blocking_metrics",   # truth-table aggregates, integer math
    "block_filtering",    # broadcast df counts + per-ref window, pure SQL
    "threshold_sweep",    # one conditional-sum aggregate + stack unpivot
    "cluster_stats",      # CC assignment + edge-count joins, no Python
    "token_blocking",     # JVM normalize + token self-join, pure SQL
    "edit_distance_join", # JVM banded levenshtein after length prefilter
    "set_similarity",     # four codegen'd divisions over the count joins
    "idf_cosine_pairs",   # scaled-int idf sums, float only in the division
    "multipass_blocking", # tagged union + one pair-keyed aggregation
]


@pytest.mark.parametrize("name", NO_PYTHON_QUERIES)
def test_no_python_eval_node_on_ascii_corpora(spark, name):
    plan = _plan(em.queries()[name](spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        f"{name}: Python eval node in plan"
    )


def test_subset_predicate_pushed_to_scan(spark):
    plan = _plan(em.q_pairs(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "LessThan(doc_id,100)" in plan.replace(" ", ""), plan[:1500]


def test_find_plan_shape(spark):
    plan = _plan(em.q_find(spark, SF_DIR))
    # per-query top-k is a rank-limit pushdown, not a global sort
    assert "WindowGroupLimit" in plan
    # the needle batch is broadcast against postings
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(em.q_cosine_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scan_prunes_columns(spark):
    """The postings build must read only (doc_id, text), not every
    documents column."""
    plan = _plan(em.q_index_build(spark, SF_DIR))
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:1500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"doc_id", "text"}, cols


def test_scrub_pii_is_one_scan_no_shuffle(spark):
    """scrub_pii is a single codegen'd projection: one scan, zero
    exchanges (nothing to shuffle -- per-row regex work only)."""
    plan = _plan(em.queries()["scrub_pii"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


@pytest.mark.parametrize("name", ["sample_stratified", "split_corpus"])
def test_sampling_is_one_scan_no_shuffle(spark, name):
    """Deterministic sampling/splitting is a pure row-local decision:
    one scan, zero exchanges -- the property that makes it free at any
    corpus size (and independent of partitioning, which is also why the
    result is reproducible)."""
    plan = _plan(em.queries()[name](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


def test_repetition_stats_gram_side_is_single_scan(spark):
    """The three gram statistics ride ONE tagged explode: two corpus scans
    total (grams + the line-stats join side), never one per gram size."""
    plan = _plan(em.queries()["repetition_stats"](spark, SF_DIR))
    assert plan.count("Scan parquet") <= 2, "gram passes re-split per size"


def test_fs_score_adds_no_exchange(spark):
    """fs_score is a single codegen'd projection over its input: the
    per-level weights are literals in the plan (element_at on a literal
    array), so scoring adds zero exchanges beyond the pair source --
    the property that keeps it free over 10^12 candidate pairs."""
    from pyspark.sql import functions as F

    from blurrily_spark.operators.linkage import FieldModel, fs_score

    fm = FieldModel("j", "lvl", m=(0.2, 0.8), u=(0.9, 0.1))
    base = spark.range(100).select(
        (F.col("id") % 2).cast("int").alias("lvl")
    )
    before = base._jdf.queryExecution().executedPlan().toString()
    after = fs_score(base, [fm])._jdf.queryExecution().executedPlan().toString()
    assert after.count("Exchange") == before.count("Exchange") == 0
    assert "ArrowEvalPython" not in after and "BatchEvalPython" not in after


DOCS_SCHEMA = "doc_id long, text string"
EDGES_SCHEMA = "ref_a long, ref_b long, matches long"


def _lazy_operator_cases():
    from pyspark.sql import functions as F

    from blurrily_spark.operators import corpus, dedup, index, pairs, similarity

    def postings(d):
        return index.build_postings(d, text_col="text", ref_col="doc_id")

    def vectors(d):
        return d.select(
            F.col("doc_id").alias("vec_id"),
            F.array(F.length("text").cast("double"), F.lit(1.0)).alias("embedding"),
        )

    return {
        "duplicate_spans_exact": lambda d, e: dedup.duplicate_spans(d, w=3),
        "duplicate_spans_fast": lambda d, e: dedup.duplicate_spans(
            d, w=3, hash_fn="fast"
        ),
        "duplicate_span_positions": lambda d, e: dedup.duplicate_span_positions(
            d, w=3
        ),
        "cut_duplicate_spans": lambda d, e: dedup.cut_duplicate_spans(d, w=3),
        "lm_score": lambda d, e: corpus.lm_score(d, d),
        "meta_blocking_wnp": lambda d, e: pairs.meta_blocking_prune(e, scheme="wnp"),
        "meta_blocking_wep": lambda d, e: pairs.meta_blocking_prune(e, scheme="wep"),
        "rp_lsh_near_dup_pairs": lambda d, e: similarity.rp_lsh_near_dup_pairs(
            vectors(d), dim=2
        ),
        "candidate_pairs_salted_hot_df": lambda d, e: pairs.candidate_pairs(
            postings(d), salt_buckets=8, hot_df=1
        ),
        "candidate_pairs_salted_auto": lambda d, e: pairs.candidate_pairs(
            postings(d), salt_buckets=8
        ),
        "sorted_neighborhood_pairs": lambda d, e: pairs.sorted_neighborhood_pairs(
            d, "text", id_col="doc_id", window=3
        ),
    }


@pytest.mark.parametrize("kind", ["memory", "streaming"])
@pytest.mark.parametrize("name", sorted(_lazy_operator_cases()))
def test_operator_construction_launches_no_job(spark, tmp_path, name, kind):
    """Operators build plans, not jobs: no localCheckpoint (a LogicalRDD in
    the plan) and no job before the action, and a streaming input yields
    a streaming plan instead of failing inside an eager job."""
    # inline VALUES are a LocalRelation, so any LogicalRDD is the operator's
    docs = spark.sql(
        "SELECT * FROM VALUES (1L, 'a b c d e'), (2L, 'x a b c d'), (3L, 'q r s'),"
        " (4L, 'a b c q r') AS t(doc_id, text)"
    )
    edges = spark.sql(
        "SELECT * FROM VALUES (1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 4L, 1L)"
        " AS t(ref_a, ref_b, matches)"
    )
    if kind == "streaming":
        docs.write.parquet(str(tmp_path / "docs"))
        edges.write.parquet(str(tmp_path / "edges"))
        docs = spark.readStream.schema(DOCS_SCHEMA).parquet(str(tmp_path / "docs"))
        edges = spark.readStream.schema(EDGES_SCHEMA).parquet(str(tmp_path / "edges"))
    sc = spark.sparkContext
    group = f"lazy-{name}-{kind}"
    sc.setJobGroup(group, "construction only")
    try:
        out = _lazy_operator_cases()[name](docs, edges)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out.isStreaming == (kind == "streaming")
        if kind == "memory":
            assert "LogicalRDD" not in out._jdf.queryExecution().analyzed().toString()
            out.collect()
            # control: the group does see the action's jobs
            assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_global_sort_ranks_reuses_its_range_exchange(spark):
    """The per-partition counts and the ranked rows read ONE range shuffle:
    the second read is a ReusedExchange of the first, so both see the same
    sampled range bounds -- what keeps the offsets exact."""
    import re

    from blurrily_spark.operators.pairs import global_sort_ranks

    df = spark.range(500).selectExpr(
        "id AS ref", "format_string('k%03d', CAST(pmod(id, 50) AS INT)) AS key"
    )
    out = global_sort_ranks(df, "key", "ref")
    assert len(out.collect()) == 500
    plan = _plan(out)  # the final adaptive plan, after the action
    final = plan.split("== Initial Plan ==")[0].splitlines()
    by_key = re.compile(r"Exchange rangepartitioning\(key#\d+ ASC NULLS FIRST, ref#")
    reused = [line for line in final if "ReusedExchange" in line]
    fresh = [line for line in final if by_key.search(line) and line not in reused]
    assert len(fresh) == 1, plan
    assert len(reused) == 1 and by_key.search(reused[0]), plan


def test_linkage_tail_is_survivor_sized(spark, tmp_path, monkeypatch):
    """After the Jaccard cut the scores plan holds exactly one rebalance
    exchange, below the Jaro-Winkler eval node, so a toy run writes one
    scores file and one edges file. The entities stage is one left join of
    CC's labels onto the turns: no aggregate over refs, one row per turn."""
    from blurrily_spark.plans.pipeline import LinkagePipeline
    from blurrily_spark.sources.synth import generate_transcripts

    plans = {}
    write = LinkagePipeline._write

    def spy(self, stage, df):
        plans[stage] = df._jdf.queryExecution().executedPlan().toString()
        return write(self, stage, df)

    monkeypatch.setattr(LinkagePipeline, "_write", spy)
    t = generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11,
    )
    pipe = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=0.55, min_matches=2)
    pipe.run(t)

    rebalance = "REBALANCE_PARTITIONS_BY_NONE"
    assert plans["scores"].count(rebalance) == 1, plans["scores"]
    assert rebalance in plans["scores"].split("ArrowEvalPython", 1)[1], plans["scores"]
    m = pipe.metrics
    assert m["scores"]["rows"] > 0
    assert m["scores"]["partitions"]["n_files"] == 1
    assert m["edges"]["partitions"]["n_files"] == 1
    assert "Aggregate" not in plans["entities"], plans["entities"]
    assert m["entities"]["rows"] == m["turns"]["rows"]
