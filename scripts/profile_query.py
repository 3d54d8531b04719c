"""Per-query stage profiler (guide §1): runs ONE bench query with the
event log enabled, then prints per-stage wall/task times and shuffle bytes
so optimization targets the right stage. Usage:

    python scripts/profile_query.py <query> [trials]

where <query> is one of the bench query names (see QUERIES below).
Separate from bench.py (which is frozen for measurement).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_queries(spark):
    """(name -> zero-arg callable) mirroring bench.py's timed bodies."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from blurrily_spark.operators import corpus as corpus_ops, dedup, similarity

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

    q = {}
    q["q_minhash_lsh"] = lambda: dedup.minhash_lsh_pairs(
        sketch, num_hashes=32, bands=8, hash_fn="fast"
    ).count()
    q["q_near_dedup"] = (
        lambda: dedup.near_dedup(sketch, hash_fn="fast").where("is_dup = 1").count()
    )
    q["q_duplicate_spans"] = (
        lambda: dedup.duplicate_spans(sketch, hash_fn="fast")
        .where("n_dup_windows > 0")
        .count()
    )
    q["q_simhash"] = lambda: dedup.simhash_near_dups(
        sketch, max_hamming=6, hash_fn="fast"
    ).count()
    q["q_near_dedup_cross"] = (
        lambda: dedup.near_dedup_against(new_batch, docs_only, threshold=0.5, hash_fn="fast")
        .where("is_dup = 1")
        .count()
    )
    q["q_cut_spans"] = (
        lambda: dedup.cut_duplicate_spans(sketch, hash_fn="fast")
        .selectExpr("sum(length(kept_text))")
        .collect()
    )
    q["q_contamination"] = (
        lambda: corpus_ops.ngram_contamination(docs_only, holdout, n=8, hash_fn="fast")
        .where("is_contaminated = 1")
        .count()
    )
    q["q_lm_score"] = (
        lambda: corpus_ops.lm_score(docs_only, docs_only)
        .selectExpr("avg(avg_logp)")
        .collect()
    )
    q["q_connected_components"] = lambda: em.q_connected_components(spark, SF_DIR).count()

    def _sem():
        emb_all = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
        )
        shift = F.concat(
            F.slice(F.col("vec"), 2, F.size("vec") - 1), F.slice(F.col("vec"), 1, 1)
        )
        dup = F.zip_with(F.col("vec"), shift, lambda a, b: a + F.lit(0.05) * b)
        sem_corpus = emb_all.unionByName(
            emb_all.select((F.col("vec_id") + 1_000_000).alias("vec_id"), dup.alias("vec"))
        ).cache()
        sem_corpus.count()
        cents = similarity.kmeans_centroids(sem_corpus, k=16, iterations=2, vec_col="vec")
        return sem_corpus, cents

    _sem_state = {}

    def q_semantic_dedup():
        if "c" not in _sem_state:
            _sem_state["c"] = _sem()
        sem_corpus, cents = _sem_state["c"]
        return (
            similarity.semantic_dedup(sem_corpus, cents, threshold=0.95, vec_col="vec")
            .where("is_dup = 1")
            .count()
        )

    q["q_semantic_dedup"] = q_semantic_dedup

    from blurrily_spark.operators.index import build_postings
    from blurrily_spark.operators.pairs import (
        candidate_pairs as _cand,
        meta_blocking_prune as _mb,
        with_jaccard as _wj,
    )

    _n_docs = docs_meta.count()
    CAP_DF = max(64, _n_docs // 16)

    def q_meta_blocking():
        p = build_postings(docs_meta, text_col="text", ref_col="doc_id", weight_col=None).cache()
        try:
            edges = _cand(p, max_df=CAP_DF).select("ref_a", "ref_b", "matches")
            return _mb(edges, scheme="wnp").count()
        finally:
            p.unpersist()

    q["q_meta_blocking"] = q_meta_blocking

    def q_fs_score():
        from blurrily_spark.operators.linkage import fs_score as _fs

        p = build_postings(docs_meta, text_col="text", ref_col="doc_id", weight_col=None).cache()
        try:
            pairs = _wj(_cand(p, max_df=CAP_DF), p)
            a = docs_meta.select(
                F.col("doc_id").alias("ref_a"), F.col("lang").alias("_la"), F.col("source").alias("_sa")
            )
            b = docs_meta.select(
                F.col("doc_id").alias("ref_b"), F.col("lang").alias("_lb"), F.col("source").alias("_sb")
            )
            lev = (
                pairs.join(a, "ref_a").join(b, "ref_b").select(
                    F.when(F.col("jaccard") >= 0.8, 2).when(F.col("jaccard") >= 0.4, 1)
                    .otherwise(0).cast("int").alias("jacc_level"),
                    (F.col("_la") == F.col("_lb")).cast("int").alias("lang_level"),
                    (F.col("_sa") == F.col("_sb")).cast("int").alias("source_level"),
                )
            )
            import __spark_entry__ as em2

            return _fs(lev, [em2.FS_JACC, em2.FS_LANG, em2.FS_SOURCE], prior=em2.FS_PRIOR).selectExpr(
                "count(*)", "avg(match_weight)"
            ).collect()
        finally:
            p.unpersist()

    q["q_fs_score"] = q_fs_score

    def q_linkage():
        import shutil

        from blurrily_spark.plans.pipeline import LinkagePipeline
        import bench as bench_mod

        tpath = bench_mod._ensure_transcripts(spark)
        transcripts = spark.read.parquet(tpath)
        wd_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        workdir = tempfile.mkdtemp(prefix="blurrily_prof_wd_", dir=wd_base)
        try:
            pipe = LinkagePipeline(
                spark, workdir, jaccard_threshold=0.55, min_matches=3, max_df=64
            )
            pipe.run(transcripts).count()
            print("stage seconds:", {k: v.get("seconds") for k, v in pipe.metrics.items() if isinstance(v, dict)})
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    q["q_linkage_pipeline"] = q_linkage
    return q


def main():
    name = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    evdir = tempfile.mkdtemp(prefix="blurrily_evlog_")

    from blurrily_spark import get_spark

    spark = get_spark(
        f"profile-{name}",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{evdir}",
        },
    )
    # warm up the Arrow/pandas worker pool outside the timings
    warm = spark.range(256).selectExpr("concat('wärm', id) AS t")
    # an identity mapInPandas: unlike a projected UDF, count() cannot prune it
    warm.mapInPandas(lambda batches: batches, warm.schema).count()

    queries = build_queries(spark)
    fn = queries[name]
    walls = []
    marks = []
    for t in range(trials):
        spark.sparkContext.setJobDescription(f"{name} trial {t}")
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
        marks.append(time.time())
    print(f"{name}: walls={walls}")
    spark.stop()

    # parse the event log: per-stage metrics for the LAST trial only
    import glob

    logs = sorted(
        glob.glob(os.path.join(evdir, "**", "events_*"), recursive=True)
        + [f for f in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(f)]
    )
    stages = []
    t_last_start = marks[-2] if trials > 1 else None
    with open(logs[0]) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time", 0) / 1000.0
                if t_last_start and sub < t_last_start:
                    continue  # only the last (warm) trial
                comp = si.get("Completion Time", 0) / 1000.0
                accs = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}
                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "wall_s": round(comp - sub, 3),
                        "tasks": si["Number of Tasks"],
                        "name": si["Stage Name"].split("\n")[0][:60],
                        "exec_run_s": round(int(accs.get("internal.metrics.executorRunTime", 0)) / 1000.0, 2),
                        "cpu_s": round(int(accs.get("internal.metrics.executorCpuTime", 0)) / 1e9, 2),
                        "gc_s": round(int(accs.get("internal.metrics.jvmGCTime", 0)) / 1000.0, 2),
                        "shuf_read_mb": round(int(accs.get("internal.metrics.shuffle.read.remoteBytesRead", 0) or 0) / 1e6 + int(accs.get("internal.metrics.shuffle.read.localBytesRead", 0) or 0) / 1e6, 1),
                        "shuf_write_mb": round(int(accs.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0) / 1e6, 1),
                        "out_rows": accs.get("internal.metrics.shuffle.write.recordsWritten"),
                    }
                )
    stages.sort(key=lambda s: -s["wall_s"])
    tot = sum(s["wall_s"] for s in stages)
    print(f"last-trial stages (sum wall {tot:.2f}s):")
    for s in stages[:25]:
        print(
            f"  st{s['stage']:>4} wall={s['wall_s']:>6.2f} run={s['exec_run_s']:>7.2f} "
            f"cpu={s['cpu_s']:>7.2f} gc={s['gc_s']:>5.2f} tasks={s['tasks']:>3} "
            f"sr={s['shuf_read_mb']:>7.1f}M sw={s['shuf_write_mb']:>7.1f}M rows={s['out_rows']} {s['name']}"
        )


if __name__ == "__main__":
    main()
