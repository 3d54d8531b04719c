"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Queries:
  q_index_build    -- full postings build over documents (tokenize+explode)
                      persisted to a snapshot (build + save, like the
                      reference's put-loop + save)
  q_find_batch     -- 5-needle fuzzy FIND against the *stored bucketed*
                      index (pure read path; the gather join is
                      exchange-free on the postings side -- the cluster
                      storage layout, see operators/index.py:
                      save_postings_bucketed)
  q_find_idf       -- rarity-weighted FIND over the same stored index
                      (idf overlay cost vs q_find_batch)
  q_blocking_pairs -- candidate pairs + jaccard over the pair subset
  q_connected_components -- thresholded edges -> entity labels
  q_minhash_lsh    -- LSH near-dup pass over an SF-scaled dup-injected
                      corpus on the PRODUCTION hash family (xxhash64);
                      the oracle-portable polynomial hash stays in the
                      driver correctness queries only (round-2 verdict:
                      benching the portable family measured interpreted
                      HOF overhead, not the engine)
  q_near_dedup     -- end-to-end retained-corpus dedup (LSH -> CC -> keeper
                      flags) on the same fast-hash SF-scaled corpus
  q_duplicate_spans -- span-level dup stats (rolling window fingerprints),
                      fast-hash SF-scaled corpus
  q_simhash        -- SimHash near-dups, same fast-hash SF-scaled corpus
  q_near_dedup_cross -- cross-corpus dedup: the SF's truncated-dup batch
                        vs the original documents (oriented banded join)
  q_cut_spans      -- span cut-and-keep pass (duplicated windows removed,
                      text rebuilt), fast-hash SF-scaled corpus
  q_contamination  -- benchmark decontamination: 8-gram overlap of every
                      document against a leaked-subset holdout (fast hash
                      family)
  q_lm_score       -- CCNet-style LM quality scoring: add-one bigram model
                      trained on the corpus, per-doc mean log-prob + OOV
  q_semantic_dedup -- SemDeDup pass (cluster-assign -> within-cluster
                      cosine dup graph -> CC -> keeper) over the full
                      dup-injected embedding corpus; codebook untimed
  q_cosine_topk    -- brute-force embedding top-k
  q_ann_ivf        -- IVF ANN top-k (trained codebook; recall@5 vs brute
                      force reported as ann_recall_at5)
  q_events_window  -- hourly windowed aggregation over events
  q_session_stats  -- gap-rule sessionization + per-session rollups
  q_sorted_neighborhood -- SNM blocking pairs over documents (global
                      ranks without a one-task window)
  q_cluster_metrics -- pairwise + B-cubed P/R/F1 of the near-dedup
                      clustering vs the planted truth (contingency-table
                      reduction only; the F1s ship as extras)
  q_fs_score       -- Fellegi-Sunter probabilistic linkage over the SF
                      documents: postings -> capped blocking -> jaccard ->
                      agreement levels -> literal-weight scoring
  q_edit_distance  -- edit-distance similarity join: capped blocking ->
                      length-gap prefilter -> thresholded banded
                      levenshtein over the SF documents
  q_meta_blocking  -- WNP meta-blocking prune of the capped candidate
                      graph (per-node and per-edge windows + filter)
  q_knn_join       -- per-record top-10 similarity join (batch FIND with
                      the corpus as queries) over the stored BUCKETED
                      index: the directed trigram self-join is
                      exchange-free on both sides, the per-query top-k
                      is WindowGroupLimit; capped at CAP_DF like every
                      blocking query
  q_mutual_knn     -- reciprocal-kNN pair refinement: one extra groupBy
                      over the kNN graph (no second kNN computation)
  q_linkage_pipeline -- full transcripts->entities linkage run on a seeded
                        synthetic transcripts corpus sized to the SF
                        (materialized once to /tmp and reused)

The extra field ``pairs_per_sec`` reports the linkage pipeline's
candidate-pairs-scored throughput (the north-rule metric); scaling runs at
two parallelism levels live in scripts/bench_scaling.py -> BENCH.md.
The field ``jobs`` gives each query's Spark job count in its kept trial.

:func:`queries` is the only copy of this table: scripts/profile_query.py
profiles its entries and scripts/capture_plans.py explains their plans.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
TRANSCRIPT_SEED = 42
INDEX_TABLE = "bench_postings_bucketed"


def _sf(sf_dir: str) -> float:
    return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)


def _parts(cpus: str) -> int:
    return int(cpus) if cpus.isdigit() else 32


def _ensure_transcripts(spark, sf_dir: str, cpus: str) -> str:
    # transcripts corpus size scaled to SF (sf0.1 -> 40k turns)
    n_entities = max(20, int(20000 * _sf(sf_dir)))
    path = f"/tmp/blurrily_bench_transcripts_{TRANSCRIPT_SEED}_{n_entities}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from blurrily_spark.sources.synth import generate_transcripts

        df = generate_transcripts(
            spark,
            n_entities=n_entities,
            variants_per_entity=4,
            turns_per_conv=5,
            words_per_turn=10,
            n_perturbations=2,
            seed=TRANSCRIPT_SEED,
        )
        df.repartition(_parts(cpus)).write.mode("overwrite").parquet(path)
    return path


def _docs_with_dups_scaled(spark, sf_dir: str):
    """SF-scaled dedup bench corpus: every document plus one 90%-truncated
    near-duplicate (2x the SF's document count; the driver's oracle queries
    keep their fixed 200-doc subset -- this one is for throughput)."""
    import __spark_entry__ as em

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    return docs.unionByName(em._truncated_dups(docs, offset=10_000_000))


@dataclass
class Query:
    """One headline query. With a ``plan`` the timed body is
    ``act(plan())``, so the plan explained is the plan timed; without one
    (eager or iterative bodies) ``act()`` is the whole body. ``warm`` runs
    the body once, untimed, before every timed run."""

    name: str
    act: Callable
    plan: Callable | None = None
    warm: bool = False

    def run(self):
        return self.act(self.plan()) if self.plan else self.act()


@dataclass
class Queries:
    """The query table in run order, with the state its actions share."""

    entries: list[Query]
    extras: dict  # cap_df from setup, then what the actions record
    finish: Callable[[dict], None]  # after the trials, see queries()
    close: Callable[[], None]  # drop the stored index and the caches


def run_in_group(sc, q: Query) -> tuple[float, list[int]]:
    """Run ``q`` once under the Spark job group named after it; returns the
    wall seconds and the ids of the jobs this run launched."""
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(q.name))
    sc.setJobGroup(q.name, q.name)
    try:
        t0 = time.time()
        q.run()
        dt = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return dt, sorted(set(tracker.getJobIdsForGroup(q.name)) - before)


def session(app: str):
    """The bench's session on local[$SPARK_GRAFT_CPUS], warmed up."""
    from blurrily_spark import get_spark

    spark = get_spark(app, master=f"local[{CPUS}]")
    # warm up the JVM (job scheduling, codegen) outside the timings
    spark.range(256).selectExpr("concat('wärm', id) AS t").collect()
    return spark


def queries(spark, sf_dir: str = SF_DIR, cpus: str = CPUS) -> Queries:
    """Untimed setup (corpora, caches, codebooks, ``CAP_DF``, transcripts),
    then the 27 headline queries in run order.

    ``finish(walls)`` takes ``{name: [wall per trial]}`` after the trials,
    adds the extras derived from them, and replaces the pipeline's walls
    with its inner ``pipe.run`` walls."""
    import __spark_entry__ as em
    from pyspark.sql import DataFrame, functions as F

    from blurrily_spark.functions.tokenizer import with_normalized as _with_norm
    from blurrily_spark.operators import corpus as corpus_ops, dedup, similarity
    from blurrily_spark.operators.find import (
        find as find_op,
        find_idf as find_idf_op,
        knn_join,
        mutual_knn_pairs,
    )
    from blurrily_spark.operators.index import (
        build_postings as _build_postings,
        save_postings_bucketed,
    )
    from blurrily_spark.operators.linkage import fs_score as _fs_score
    from blurrily_spark.operators.pairs import (
        candidate_pairs as _cand_pairs,
        meta_blocking_prune as _mb_prune,
        with_jaccard as _with_jacc,
    )
    from blurrily_spark.operators.scoring import with_edit_distance as _with_edit
    from blurrily_spark.plans.pipeline import LinkagePipeline
    from blurrily_spark.quality import cluster_metrics as _cluster_metrics

    count, collect = DataFrame.count, DataFrame.collect
    extras: dict = {}

    def counted(key: str):
        def act(df) -> None:
            extras[key] = df.count()

        return act

    idx_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    idx_dir = tempfile.mkdtemp(prefix="blurrily_bench_idx_", dir=idx_base)
    idx_path = os.path.join(idx_dir, "postings.parquet")

    # sketch benches: xxhash64 family (the production path; dedup.py default
    # 'portable' exists for DuckDB-oracle reproducibility, not throughput)
    # over the SF-scaled corpus
    sketch_corpus = _docs_with_dups_scaled(spark, sf_dir)
    docs_only = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    new_batch = em._truncated_dups(docs_only, offset=10_000_000)
    holdout = em._truncated_dups(
        docs_only.where(F.col("doc_id") % 5 == 0), offset=20_000_000
    )

    # ANN: time the IVF query and report measured recall@5 vs brute force
    corpus, qv = em._emb_split(spark, sf_dir)
    corpus = corpus.cache()
    corpus.count()
    bf = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(corpus, qv).collect()
    }
    cents = similarity.kmeans_centroids(corpus, iterations=em.ANN_ITERS)
    got: set = set()

    def record_ivf(df) -> None:
        got.update((r["query_id"], r["vec_id"]) for r in df.collect())

    # round 5: SemDeDup pass over the full dup-injected embedding corpus.
    # Codebook training is untimed (in production it is amortized across
    # many corpus snapshots); the timed job is assign -> within-cluster
    # pairs -> CC -> keeper paint-back.
    emb_all = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec"))
    sem_shift = F.concat(
        F.slice(F.col("vec"), 2, F.size("vec") - 1), F.slice(F.col("vec"), 1, 1)
    )
    sem_dup = F.zip_with(F.col("vec"), sem_shift, lambda a, b: a + F.lit(0.05) * b)
    sem_corpus = emb_all.unionByName(
        emb_all.select((F.col("vec_id") + 1_000_000).alias("vec_id"), sem_dup.alias("vec"))
    ).cache()
    sem_corpus.count()
    sem_cents = similarity.kmeans_centroids(sem_corpus, iterations=2, vec_col="vec")

    # round 5: ER evaluation metrics at SF scale -- the near-dedup clustering
    # scored against the planted truth (pairwise + B-cubed, contingency-table
    # aggregates only). The assignment itself is q_near_dedup's work, so it
    # is materialized OUTSIDE the timing; q_cluster_metrics times the metric
    # reduction, and the resulting F1s ship as extras.
    nd_assign = (
        dedup.near_dedup(sketch_corpus, hash_fn="fast")
        .select(
            F.col("id").alias("ref"),
            F.col("keep_id").alias("entity_id"),
            (F.col("id") % 10_000_000).alias("entity_true"),
        )
        .cache()
    )
    nd_assign.count()
    metrics_row: dict = {}

    def record_metrics(df) -> None:
        metrics_row.update(df.collect()[0].asDict())

    docs_meta = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang", "source")

    # The blocking cap must SCALE with the corpus: per-trigram df grows
    # linearly with doc count (bounded 28^3 key space), so a fixed
    # max_df=64 that keeps most keys at 500 docs keeps ZERO keys at 5000
    # (measured: sf0.1 cap=64 -> 0 keys, 0 candidate pairs -- the capped
    # queries were timing an empty plan). n_docs//16 reproduces 64 at the
    # sf0.01 driver scale (round-comparable) and keeps the capped family
    # measuring real pair work at every SF; the pair counts ship as extras
    # so an empty candidate set can never hide in a fast wall time again.
    CAP_DF = max(64, docs_meta.count() // 16)
    extras["cap_df"] = CAP_DF

    # round 5: Fellegi-Sunter probabilistic linkage over the SF documents --
    # postings -> capped blocking join -> jaccard -> agreement levels ->
    # literal-weight scoring; the count+avg forces the whole path
    def _run_fs() -> None:
        p = _build_postings(
            docs_meta, text_col="text", ref_col="doc_id", weight_col=None
        ).cache()
        try:
            pairs = _with_jacc(_cand_pairs(p, max_df=CAP_DF), p)
            lev = em._fs_levels(pairs, docs_meta)
            row = (
                _fs_score(lev, [em.FS_JACC, em.FS_LANG, em.FS_SOURCE])
                .selectExpr("count(*) AS c", "avg(match_weight)")
                .collect()[0]
            )
            extras["fs_pairs"] = row["c"]
        finally:
            p.unpersist()

    # round 5: edit-distance similarity join at SF scale -- capped blocking
    # candidates, then the free length-gap prefilter + the JVM's THRESHOLDED
    # banded levenshtein (early exit past k); measures the exact-rescore
    # path the linkage docs recommend after any blocker
    def _run_edit_distance() -> None:
        p = _build_postings(
            docs_meta, text_col="text", ref_col="doc_id", weight_col=None
        ).cache()
        try:
            cand = _cand_pairs(p, max_df=CAP_DF, keys_only=True)
            recs = _with_norm(docs_meta, "text", "norm").select(
                F.col("doc_id").alias("ref"), "norm"
            )
            row = _with_edit(cand, recs).selectExpr(
                "count(*) AS c", "avg(edit_dist)"
            ).collect()[0]
            extras["edit_pairs"] = row["c"]
        finally:
            p.unpersist()

    # round 5: meta-blocking WNP pruning over the capped candidate graph --
    # one lazy plan: a per-node window, a per-edge window and a filter over
    # a single read of the pairs; the count forces the pruned set and
    # reports the survival rate as an extra
    def _run_meta_blocking() -> None:
        p = _build_postings(
            docs_meta, text_col="text", ref_col="doc_id", weight_col=None
        ).cache()
        try:
            edges = _cand_pairs(p, max_df=CAP_DF).select("ref_a", "ref_b", "matches")
            kept = _mb_prune(edges).count()
            extras["meta_blocking_kept"] = kept
        finally:
            p.unpersist()

    # full linkage pipeline over synthetic transcripts -- registered like
    # every other query so its trials interleave too (a fresh workdir per
    # invocation: a reused one would hit the pipeline's stage-resume cache
    # and time a no-op); the fastest trial's stage metrics are kept
    transcripts = spark.read.parquet(_ensure_transcripts(spark, sf_dir, cpus))
    wd_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    linkage_trials: list[tuple[float, dict]] = []

    def _run_linkage() -> None:
        workdir = tempfile.mkdtemp(prefix="blurrily_bench_wd_", dir=wd_base)
        try:
            pipe = LinkagePipeline(
                spark,
                workdir,
                jaccard_threshold=0.55,
                min_matches=3,
                max_df=64,  # two-phase blocking: capped generation + rescore
            )
            t0 = time.time()
            pipe.run(transcripts).count()
            linkage_trials.append((time.time() - t0, pipe.metrics))
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    entries = [
        # production build: persist in the cluster storage layout (bucketed +
        # sorted by trigram -- the reference's 28^3-slot array re-expressed),
        # so every downstream gather/blocking join is exchange-free on this
        # side
        Query(
            "q_index_build",
            plan=lambda: em.q_index_build(spark, sf_dir),
            act=lambda df: save_postings_bucketed(
                df, INDEX_TABLE, idx_path, buckets=_parts(cpus)
            ),
        ),
        # q_index_build rewrites the bucketed table every trial, which made
        # every q_find_batch trial a COLD first read (fresh file listing +
        # footer decode of a just-written table) -- a measurement artifact,
        # not engine cost: in production the index is built once and served
        # many times (round-4 verdict #2). The warm-up must be a real FIND,
        # not a count(): parquet count-star is answered from row-group
        # metadata and leaves the one-time-per-JVM serve-path costs unpaid
        # (codegen, broadcast machinery -- measured ~5s once, ~0 on every
        # later find even across index rebuilds). One untimed find restores
        # the steady-state serve path q_find_batch means to measure. The
        # table is created by q_index_build's first trial; resolve lazily.
        Query(
            "q_find_batch",
            plan=lambda: find_op(
                spark.table(INDEX_TABLE), em._queries_df(spark), limit=10
            ),
            act=count,
            warm=True,
        ),
        # rarity-weighted FIND over the same stored index: measures the idf
        # overlay (one <= 28^3-row weight broadcast + sum agg) vs plain FIND
        Query(
            "q_find_idf",
            plan=lambda: find_idf_op(spark.table(INDEX_TABLE), em._queries_df(spark)),
            act=count,
        ),
        Query(
            "q_blocking_pairs",
            plan=lambda: em.q_pairs_jaccard(spark, sf_dir),
            act=count,
        ),
        Query(
            "q_connected_components",
            act=lambda: em.q_connected_components(spark, sf_dir).count(),
        ),
        Query(
            "q_minhash_lsh",
            plan=lambda: dedup.minhash_lsh_pairs(sketch_corpus, hash_fn="fast"),
            act=count,
        ),
        Query(
            "q_near_dedup",
            act=lambda: dedup.near_dedup(sketch_corpus, hash_fn="fast")
            .where("is_dup = 1")
            .count(),
        ),
        Query(
            "q_duplicate_spans",
            plan=lambda: dedup.duplicate_spans(sketch_corpus, hash_fn="fast").where(
                "n_dup_windows > 0"
            ),
            act=count,
        ),
        Query(
            "q_simhash",
            plan=lambda: dedup.simhash_near_dups(sketch_corpus, hash_fn="fast"),
            act=count,
        ),
        # round 4: cross-corpus dedup (fresh batch vs retained corpus) and
        # the span cut-and-keep pass, both on the production hash family
        Query(
            "q_near_dedup_cross",
            plan=lambda: dedup.near_dedup_against(new_batch, docs_only, hash_fn="fast").where(
                "is_dup = 1"
            ),
            act=count,
        ),
        # sum of kept lengths forces the full rebuild, not just row counting
        Query(
            "q_cut_spans",
            plan=lambda: dedup.cut_duplicate_spans(
                sketch_corpus, hash_fn="fast"
            ).selectExpr("sum(length(kept_text))"),
            act=collect,
        ),
        # round 5: benchmark decontamination at SF scale -- every doc checked
        # for verbatim 8-gram overlap against a leaked-subset holdout, on the
        # production hash family (8-byte gram keys through the shuffles)
        Query(
            "q_contamination",
            plan=lambda: corpus_ops.ngram_contamination(
                docs_only, holdout, hash_fn="fast"
            ).where("is_contaminated = 1"),
            act=count,
        ),
        # round 5: CCNet-style LM quality scoring, corpus as its own bigram
        # model (one train-side token explode + a bigram agg and its per-word
        # sum + 3 equi-joins, no job before the action); the avg forces the
        # full scoring pass
        Query(
            "q_lm_score",
            plan=lambda: corpus_ops.lm_score(docs_only, docs_only).selectExpr(
                "avg(avg_logp)"
            ),
            act=collect,
        ),
        Query("q_cosine_topk", plan=lambda: em.q_cosine_topk(spark, sf_dir), act=count),
        Query(
            "q_rp_lsh_near_dups",
            plan=lambda: em.q_rp_lsh_near_dups(spark, sf_dir),
            act=count,
        ),
        Query(
            "q_events_window", plan=lambda: em.q_events_window(spark, sf_dir), act=count
        ),
        # round 5: gap-rule sessionization (lag + running sum over one shuffle)
        # and sorted-neighborhood blocking (global ranks via range partition +
        # offsets, no one-task window) at SF scale
        Query(
            "q_session_stats", plan=lambda: em.q_session_stats(spark, sf_dir), act=count
        ),
        Query(
            "q_sorted_neighborhood",
            plan=lambda: em.q_sorted_neighborhood(spark, sf_dir),
            act=count,
        ),
        Query(
            "q_ann_ivf",
            plan=lambda: similarity.ivf_topk(corpus, qv, cents, nprobe=em.ANN_NPROBE),
            act=record_ivf,
        ),
        Query(
            "q_semantic_dedup",
            act=lambda: similarity.semantic_dedup(sem_corpus, sem_cents, vec_col="vec")
            .where("is_dup = 1")
            .count(),
        ),
        Query(
            "q_cluster_metrics",
            plan=lambda: _cluster_metrics(nd_assign),
            act=record_metrics,
        ),
        Query("q_fs_score", act=_run_fs),
        Query("q_edit_distance", act=_run_edit_distance),
        Query("q_meta_blocking", act=_run_meta_blocking),
        # round 5: per-record top-k similarity join over the stored bucketed
        # index -- kNN-join candidate generation (threshold-free: every
        # record keeps its best matches). Both sides of the directed trigram
        # self-join read the SAME bucketed table, so the join is
        # exchange-free on both sides; the only shuffles are the
        # (query_ref, ref) collision agg and the WindowGroupLimit top-k.
        # Same CAP_DF as the other blocking queries.
        Query(
            "q_knn_join",
            plan=lambda: knn_join(spark.table(INDEX_TABLE), k=10, max_df=CAP_DF),
            act=counted("knn_rows"),
        ),
        # the reciprocal refinement costs ONE extra partial-aggregating
        # groupBy over the kNN graph (directed edges fold into unordered pair
        # keys); mutual_rows/knn_rows is the hub-edge prune rate at this
        # corpus
        Query(
            "q_mutual_knn",
            plan=lambda: mutual_knn_pairs(
                spark.table(INDEX_TABLE), k=10, max_df=CAP_DF
            ),
            act=counted("mutual_rows"),
        ),
        Query("q_linkage_pipeline", act=_run_linkage),
    ]

    def finish(walls: dict) -> None:
        extras["ann_recall_at5"] = round(len(got & bf) / len(bf), 3)
        if metrics_row:
            extras["near_dedup_pairwise_f1"] = metrics_row["pairwise_f1"]
            extras["near_dedup_bcubed_f1"] = metrics_row["bcubed_f1"]
        # report the INNER wall (pipe.run only, comparable with prior rounds
        # -- the run around _run_linkage also counts mkdtemp/rmtree) and take
        # metrics from the SAME trial so pairs_per_sec matches the wall
        walls["q_linkage_pipeline"] = [wall for wall, _ in linkage_trials]
        _, best_metrics = min(linkage_trials, key=lambda t: t[0])
        n_pairs = best_metrics.get("pairs", {}).get("rows") or 0
        pair_secs = (
            best_metrics["pairs"]["seconds"] + best_metrics["scores"]["seconds"]
        )
        if pair_secs > 0:
            extras["pairs_per_sec"] = round(n_pairs / pair_secs, 1)
        extras["n_candidate_pairs"] = n_pairs
        extras["n_turns"] = transcripts.count()

    def close() -> None:
        shutil.rmtree(idx_dir, ignore_errors=True)
        corpus.unpersist()
        sem_corpus.unpersist()
        nd_assign.unpersist()

    return Queries(entries, extras, finish, close)


def main() -> None:
    spark = session("blurrily-bench")
    sc = spark.sparkContext

    # Best-of-TRIALS per query: this host is multi-tenant and a co-tenant
    # CPU burst can inflate any single query 3-5x (observed q_minhash_lsh
    # 6s steady-state vs 50s during a burst, with every other query in the
    # same run normal). Min-of-TRIALS reports engine cost, not tenancy
    # luck; the JSON carries "trials" so rounds stay comparable. Trials
    # are INTERLEAVED (the whole query list runs once, then repeats):
    # bursts last minutes, so back-to-back trials of one query share the
    # same burst while passes minutes apart don't.
    TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    table = queries(spark)
    walls: dict[str, list[float]] = {}
    jobs: dict[str, list[int]] = {}
    try:
        for _ in range(TRIALS):
            for q in table.entries:
                if q.warm:
                    q.run()
                dt, ids = run_in_group(sc, q)
                walls.setdefault(q.name, []).append(dt)
                jobs.setdefault(q.name, []).append(len(ids))
    finally:
        table.close()
    table.finish(walls)

    timings: dict[str, float] = {}
    kept_jobs: dict[str, int] = {}
    for name, ws in walls.items():
        best = ws.index(min(ws))
        timings[name] = round(ws[best], 3)
        kept_jobs[name] = jobs[name][best]
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf(SF_DIR),
                "trials": TRIALS,
                **table.extras,
                "jobs": kept_jobs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
