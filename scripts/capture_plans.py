"""Capture .explain("formatted") for the bench-relevant query plans.

Usage: python scripts/capture_plans.py <outdir> <suffix>
  e.g.  ENGINE_ROOT=<old checkout> python scripts/capture_plans.py plans/new before
        ENGINE_ROOT=<new checkout> python scripts/capture_plans.py plans/new after

The round-6 captures made this way are kept in git history only:
``git show 30e1a08:plans/r06/`` lists them.

ENGINE_ROOT (not PYTHONPATH -- the sys.path.insert below takes
precedence over it) selects which engine tree is imported; it defaults
to this script's repo. Each capturable query writes
<outdir>/<name>_<suffix>.txt. Queries whose operator is eager
(connected-components loops, checkpointing operators) capture the
dominant lazy subplan instead, noted inline.
"""

from __future__ import annotations

import os
import sys

OUT = sys.argv[1]
SUFFIX = sys.argv[2]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# PYTHONPATH decides which engine version is imported; keep cwd out of it
sys.path.insert(0, os.environ.get("ENGINE_ROOT", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from blurrily_spark import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("capture-plans", master="local[8]")
    import __spark_entry__ as em
    from blurrily_spark.operators import corpus as corpus_ops, dedup, similarity
    from blurrily_spark.operators.find import find as find_op, find_idf, knn_join, mutual_knn_pairs
    from blurrily_spark.operators.index import build_postings
    from blurrily_spark.operators.pairs import (
        candidate_pairs,
        meta_blocking_prune,
        with_jaccard,
    )

    docs_only = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    sketch = docs_only.unionByName(em._truncated_dups(docs_only, offset=10_000_000))
    new_batch = em._truncated_dups(docs_only, offset=10_000_000)
    holdout = em._truncated_dups(
        docs_only.where(F.col("doc_id") % 5 == 0), offset=20_000_000
    )
    docs_meta = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    CAP_DF = 312

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qv = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    emb_corpus = emb.where(F.col("vec_id") >= 8)
    emb_dup = em._emb_with_dups(spark, SF_DIR)

    plans = {}
    plans["q_index_build"] = em.q_index_build(spark, SF_DIR)
    plans["q_minhash_lsh"] = dedup.minhash_lsh_pairs(
        sketch, num_hashes=32, bands=8, hash_fn="fast"
    )
    plans["q_near_dedup_cross"] = dedup.near_dedup_against(
        new_batch, docs_only, threshold=0.5, hash_fn="fast"
    )
    plans["q_duplicate_spans"] = dedup.duplicate_spans(sketch, hash_fn="fast")
    plans["q_cut_spans"] = dedup.cut_duplicate_spans(sketch, hash_fn="fast")
    plans["q_simhash"] = dedup.simhash_near_dups(sketch, max_hamming=6, hash_fn="fast")
    plans["q_contamination"] = corpus_ops.ngram_contamination(
        docs_only, holdout, n=8, hash_fn="fast"
    )
    plans["q_lm_score"] = corpus_ops.lm_score(docs_only, docs_only)
    plans["q_cosine_topk"] = similarity.cosine_topk(emb_corpus, qv, k=5)
    plans["q_rp_lsh_near_dups"] = similarity.rp_lsh_near_dup_pairs(
        emb_dup, threshold=0.95, n_bits=32, max_hamming=6, seed=11, dim=64, vec_col="vec"
    )
    cents6 = similarity.take_centroids(emb_dup, 6, vec_col="vec")
    a = similarity.assign_buckets(emb_dup, cents6, "vec_id", "vec")
    plans["semantic_dedup_assign"] = a
    # the dominant stage of semantic_dedup is the within-cluster edge join;
    # connected_components is eager, so capture the edges subplan
    try:
        from blurrily_spark.operators.similarity import l2_norm, _cos_pre

        withn = a.select("vec_id", "_v", "bucket", l2_norm(F.col("_v")).alias("_n"))
        aa = withn.select(
            F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"),
            F.col("_n").alias("_na"), "bucket",
        )
        bb = withn.select(
            F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"), "bucket",
        )
        edges = (
            aa.join(bb, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .where(_cos_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")) >= 0.95)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
    except ImportError:
        from blurrily_spark.operators.similarity import cosine

        aa = a.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"), "bucket")
        bb = a.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"), "bucket")
        edges = (
            aa.join(bb, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .where(cosine(F.col("_va"), F.col("_vb")) >= 0.95)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
    plans["semantic_dedup_edges"] = edges

    p_meta = build_postings(docs_meta, text_col="text", ref_col="doc_id", weight_col=None)
    plans["q_meta_blocking_edges"] = candidate_pairs(p_meta, max_df=CAP_DF).select(
        "ref_a", "ref_b", "matches"
    )
    plans["q_fs_score_pairs"] = with_jaccard(
        candidate_pairs(p_meta, max_df=CAP_DF), p_meta
    )
    plans["q_knn_join"] = knn_join(p_meta, k=10, max_df=CAP_DF)
    plans["q_mutual_knn"] = mutual_knn_pairs(p_meta, k=10, max_df=CAP_DF)
    plans["q_find_batch"] = find_op(p_meta, em._queries_df(spark), limit=10)
    plans["q_find_idf"] = find_idf(p_meta, em._queries_df(spark), k=10)
    # meta-blocking WNP over a precomputed tiny edge set (keeps the prune
    # plan readable; the full-edges variant is q_meta_blocking_edges above).
    # NOTE: in the "after" engine meta_blocking_prune localCheckpoints its
    # input (eager), so the captured plan reads a materialized RDD -- that
    # is the point of the change.
    small_edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (1, 3, 2)], "ref_a long, ref_b long, matches long"
    )
    plans["meta_blocking_prune"] = meta_blocking_prune(small_edges, scheme="wnp")

    for name, df in plans.items():
        path = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(explain(df))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
