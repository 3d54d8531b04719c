"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship FIND pipeline at sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 +
the training-data extensions); ``oracle_sql()`` gives the DuckDB-equivalent
SQL for every SQL-expressible query. Column names and types are aligned on
both sides (the driver hash-compares after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blurrily_spark.functions import oracle
from blurrily_spark.functions.tokenizer import normalize
from blurrily_spark.operators import corpus, dedup, similarity, textstats
from blurrily_spark.operators.cluster import (
    assign_entities,
    connected_components,
    golden_records,
)
from blurrily_spark.operators.events import session_stats, sessionize
from blurrily_spark.operators.find import find, find_idf, knn_join, mutual_knn_pairs
from blurrily_spark.operators.linkage import FieldModel, estimate_m_u, fs_score
from blurrily_spark.quality import (
    blocking_metrics,
    cluster_metrics,
    cluster_stats,
    threshold_sweep,
)
from blurrily_spark.operators.index import build_postings, delete_refs, stats
from blurrily_spark.operators.pairs import (
    block_filtering,
    candidate_pairs,
    idf_weighted_pairs,
    multipass_candidates,
    token_blocking_pairs,
    with_set_similarity,
    meta_blocking_prune,
    sorted_neighborhood_pairs,
    with_jaccard,
)
from blurrily_spark.operators.scoring import match_edges, with_edit_distance

# Fixed query workload for FIND (typos over the documents vocabulary).
NEEDLES = [
    (1, "key agg row scan"),
    (2, "custmer order lineitm"),
    (3, "spark window batch streaming"),
    (4, "hash join merge sort"),
    (5, "valu table part"),
]
PAIR_SUBSET = 100  # doc_id < 100 for quadratic pair oracles
CC_THRESHOLD = 0.6
SWEEP_THRESHOLDS = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
TOKEN_BLOCK_MAX_DF = 80
EDIT_MAX = 40
DUP_OFFSET = 1_000_000  # synthetic near-dup ids = doc_id + offset
NGRAM_THRESHOLD = 0.5
NEARDUP_EST_J = 0.5
SPAN_W = 8          # duplicate_spans rolling-window width (words)
SIMHASH_MAX_HAMMING = 6
MINHASH_PARAMS = dedup._permutation_params(32, seed=7)
IVF_FIXED_K = 8     # fixed-codebook IVF (take_centroids): full DuckDB oracle
IVF_FIXED_NPROBE = 3
ANN_K = 16          # trained-kmeans IVF: measured recall >= 0.9 (rows-only)
ANN_NPROBE = 11
ANN_ITERS = 4
EMB_SUBSET = 200    # embedding near-dup corpus: vec_id < 200 + injected dups
EMB_DUP_OFFSET = 10_000
EMB_DIM = 64
NEARDUP_COS = 0.95
SEM_K = 6           # semantic_dedup coarse codebook (take_centroids): exact oracle
RP_BITS = 32
RP_MAX_HAMMING = 6
RP_SEED = 11
LANGS = sorted(textstats.STOPWORDS)  # de, en, fr
SNM_WINDOW = 4      # sorted-neighborhood: pair with the 3 sort successors
# Fellegi-Sunter model over the pairs workload: per-(field, level) m/u
# probabilities; the log2 weights are derived ONCE in Python and embedded
# as identical double literals in the Spark plan and the DuckDB oracle.
FS_JACC = FieldModel("jacc", "jacc_level", m=(0.05, 0.20, 0.75), u=(0.85, 0.12, 0.03))
FS_LANG = FieldModel("lang", "lang_level", m=(0.10, 0.90), u=(0.60, 0.40))
FS_SOURCE = FieldModel("source", "source_level", m=(0.15, 0.85), u=(0.70, 0.30))
FS_PRIOR = 0.05
FS_MATCHES_MIN = 10   # matches_level threshold for m/u estimation
INCR_STRONG_J = 0.7   # incremental CC: history edges at >= 0.7, delta 0.6..0.7
METRIC_SCALE = 10**9  # cluster_metrics scaled-integer B-cubed arithmetic
SNM_KEYLEN = 12     # blocking key = first 12 chars of raw text
SESSION_GAP_S = 28800  # sessionization gap (8h; median inter-event gap ~7.3h)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _docs_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).where(F.col("doc_id") < PAIR_SUBSET)


def _truncated_dups(base: DataFrame, offset: int = DUP_OFFSET) -> DataFrame:
    """Deterministic near-duplicates of ``base``: ids shifted by
    ``offset``, each text truncated to 90%. Single source for the driver
    queries AND bench.py's SF-scaled corpus (the oracle SQL keeps its own
    necessarily-SQL twin in ``dup_corpus``/``new_corpus``)."""
    return base.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.col("text")
        .substr(F.lit(1), F.floor(F.length("text") * 0.9).cast("int"))
        .alias("text"),
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc subset unioned with deterministic near-duplicates, so dedup
    operators have true positives to find."""
    base = _docs_subset(spark, sf_dir).select("doc_id", "text")
    return base.unionByName(_truncated_dups(base))


def _postings(spark: SparkSession, sf_dir: str, subset: bool = False) -> DataFrame:
    src = _docs_subset(spark, sf_dir) if subset else _docs(spark, sf_dir)
    return build_postings(src, text_col="text", ref_col="doc_id", weight_col=None)


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(NEEDLES, "query_id long, needle string")


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_normalize(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", normalize(F.col("text")).alias("norm")
    )


def q_tokenize(spark, sf_dir):
    from blurrily_spark.functions.tokenizer import add_trigrams

    d = _docs(spark, sf_dir).withColumn("_norm", normalize(F.col("text")))
    return add_trigrams(d, "_norm", "_tg").select(
        "doc_id", F.explode("_tg").alias("trigram")
    )


def q_index_build(spark, sf_dir):
    return _postings(spark, sf_dir)


def q_index_stats(spark, sf_dir):
    return stats(_postings(spark, sf_dir))


def q_index_delete(spark, sf_dir):
    p = _postings(spark, sf_dir)
    doomed = _docs(spark, sf_dir).where(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("ref")
    )
    return stats(delete_refs(p, doomed))


def q_find(spark, sf_dir):
    return find(_postings(spark, sf_dir), _queries_df(spark), limit=10)


def q_find_idf(spark, sf_dir):
    # rarity-weighted FIND: same gather join, ranked by summed trigram idf
    # (engine-exact int64 RSJ weights) with F5's weight/ref tie-break
    return find_idf(_postings(spark, sf_dir), _queries_df(spark), k=10)


def q_knn_join(spark, sf_dir):
    # per-record top-5 FIND over the pair subset: the kNN-join candidate
    # generation mode (every record keeps its best matches, threshold-free)
    return knn_join(_postings(spark, sf_dir, subset=True), k=5)


def q_knn_cross(spark, sf_dir):
    # cross-corpus kNN: every NEW document (truncated dup) ranked against
    # the STORED subset -- the batch generalization of serving FIND for an
    # incoming batch (top-1 should be each dup's source document)
    base = _docs_subset(spark, sf_dir).select("doc_id", "text")
    stored = build_postings(base, text_col="text", ref_col="doc_id", weight_col=None)
    newp = build_postings(
        _truncated_dups(base), text_col="text", ref_col="doc_id", weight_col=None
    )
    return knn_join(stored, k=3, query_postings=newp)


def q_mutual_knn(spark, sf_dir):
    # reciprocal-kNN refinement of the top-5 graph: asymmetric hub edges
    # pruned with no similarity recomputation
    return mutual_knn_pairs(_postings(spark, sf_dir, subset=True), k=5)


def q_pairs(spark, sf_dir):
    return candidate_pairs(_postings(spark, sf_dir, subset=True)).select(
        "ref_a", "ref_b", "matches"
    )


def q_pairs_jaccard(spark, sf_dir):
    # cache: with_jaccard reads the postings three times (pairs + 2 count joins)
    p = _postings(spark, sf_dir, subset=True).cache()
    return with_jaccard(candidate_pairs(p), p).select(
        "ref_a", "ref_b", "matches", F.round("jaccard", 6).alias("jaccard")
    )


def q_match_edges(spark, sf_dir):
    p = _postings(spark, sf_dir, subset=True).cache()
    scored = with_jaccard(candidate_pairs(p), p).withColumn(
        "jaccard", F.round("jaccard", 6)
    )
    return match_edges(scored, jaccard_threshold=CC_THRESHOLD)


def q_connected_components(spark, sf_dir):
    return connected_components(q_match_edges(spark, sf_dir))


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def q_jaccard_join_exact(spark, sf_dir):
    # prefix-filtered EXACT threshold jaccard join (AllPairs/PPJoin
    # family): it equals the brute all-pairs relation, so it serves both
    # ngram_jaccard_pairs and jaccard_join_exact under one oracle SQL
    return dedup.jaccard_join_exact(
        _docs_with_dups(spark, sf_dir), w=3, threshold=NGRAM_THRESHOLD
    ).select("id_a", "id_b", "inter", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_sigs(spark, sf_dir):
    sigs = dedup.minhash_signatures(_docs_with_dups(spark, sf_dir), w=3, num_hashes=32)
    return sigs.select("id", F.posexplode("sig").alias("pos", "sig_v")).select(
        "id", (F.col("pos") + 1).cast("int").alias("j"), "sig_v"
    )


def q_minhash_lsh(spark, sf_dir):
    out = dedup.minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), num_hashes=32, bands=8)
    return out.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_near_dedup(spark, sf_dir):
    # LSH candidates -> CC over the dup graph -> canonical keeper per doc
    return dedup.near_dedup(_docs_with_dups(spark, sf_dir), threshold=NEARDUP_EST_J)


def q_near_dedup_cross(spark, sf_dir):
    # new corpus (the synthetic truncated dups) deduped AGAINST the
    # original subset: every new doc should match its source document
    base = _docs_subset(spark, sf_dir).select("doc_id", "text")
    out = dedup.near_dedup_against(
        _truncated_dups(base), base, threshold=NEARDUP_EST_J
    )
    # the API keeps NULLs for unmatched docs; the driver comparator sorts
    # row tuples, so coalesce to sentinels here (-1 / 0.0)
    return out.select(
        "id",
        F.coalesce("matched_ref_id", F.lit(-1)).alias("matched_ref_id"),
        F.round(F.coalesce("est_jaccard", F.lit(0.0)), 6).alias("est_jaccard"),
        "is_dup",
    )


def q_duplicate_spans(spark, sf_dir):
    # rolling 8-word window fingerprints; cross-doc spans flagged per doc
    return dedup.duplicate_spans(_docs_with_dups(spark, sf_dir), w=SPAN_W)


def q_duplicate_span_positions(spark, sf_dir):
    # per-occurrence cut points (id, start_word, win) of duplicated spans
    return dedup.duplicate_span_positions(_docs_with_dups(spark, sf_dir), w=SPAN_W)


def q_cut_duplicate_spans(spark, sf_dir):
    # the cut-and-keep pass: duplicated spans removed, remainder reassembled
    return dedup.cut_duplicate_spans(
        _docs_with_dups(spark, sf_dir), w=SPAN_W, hash_fn="exact"
    )


def q_simhash_fp(spark, sf_dir):
    return dedup.simhash62(_docs_with_dups(spark, sf_dir)).select("id", "simhash")


def q_simhash(spark, sf_dir):
    # chunk count derives from max_hamming (7 chunks for <=6): exact recall
    return dedup.simhash_near_dups(_docs_with_dups(spark, sf_dir), max_hamming=SIMHASH_MAX_HAMMING)


def q_token_count(spark, sf_dir):
    return textstats.token_count(_docs(spark, sf_dir))


def q_ngram_contamination(spark, sf_dir):
    # benchmark decontamination: the "eval set" is a truncated copy of
    # every 5th document (simulated leakage); any verbatim 8-gram overlap
    # flags the train doc
    train = _docs(spark, sf_dir).select("doc_id", "text")
    holdout = _truncated_dups(train.where(F.col("doc_id") % 5 == 0))
    return corpus.ngram_contamination(train, holdout, n=SPAN_W)


def q_frequent_ngrams(spark, sf_dir):
    return corpus.frequent_ngrams(_docs(spark, sf_dir), n=3, k=50, min_df=2)


def q_tfidf_top_terms(spark, sf_dir):
    return corpus.tfidf_top_terms(_docs(spark, sf_dir), k=3)


def q_phonetic_keys(spark, sf_dir):
    # Soundex-class key of each document's first word -- the classic
    # record-linkage name block, same key expression in both engines
    # (functions/phonetic.py is the single source of truth)
    from blurrily_spark.functions.phonetic import phonetic_key

    d = _docs(spark, sf_dir).withColumn("_norm", normalize(F.col("text")))
    name = F.element_at(F.split(F.col("_norm"), " "), 1)
    return d.select(
        F.col("doc_id").cast("long").alias("id"),
        name.alias("name"),
        phonetic_key(name).alias("pkey"),
    )


def q_phonetic_pairs(spark, sf_dir):
    # phonetic blocking with the oversized-block guardrail active (first
    # words of prose are Zipf-hot; blocks past max_block carry no signal)
    from blurrily_spark.operators.pairs import phonetic_pairs

    d = _docs(spark, sf_dir).withColumn("_norm", normalize(F.col("text")))
    named = d.select(
        "doc_id", F.element_at(F.split(F.col("_norm"), " "), 1).alias("name")
    )
    return phonetic_pairs(named, "name", id_col="doc_id", max_block=50)


def q_token_sort_score(spark, sf_dir):
    # fuzzywuzzy-style token_sort_ratio over each doc and its truncated
    # near-dup; texts clipped to 200 normalized chars so the O(n*m)
    # levenshtein stays bounded per pair in BOTH engines
    from blurrily_spark.operators.scoring import token_sort_ratio

    base = _docs(spark, sf_dir).select("doc_id", "text")
    a = base.select(
        F.col("doc_id").alias("id_a"),
        F.substring(normalize(F.col("text")), 1, 200).alias("_na"),
    )
    b = _truncated_dups(base).select(
        (F.col("doc_id") - DUP_OFFSET).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.substring(normalize(F.col("text")), 1, 200).alias("_nb"),
    )
    return a.join(b, "id_a").select(
        "id_a",
        "id_b",
        F.levenshtein("_na", "_nb").alias("lev"),
        F.round(token_sort_ratio(F.col("_na"), F.col("_nb")), 6).alias("ratio"),
    )


def q_lm_score(spark, sf_dir):
    # CCNet-style quality scoring with the corpus as its own LM (the
    # standard self-perplexity pass); perplexity = exp(-avg_logp) is a
    # monotone transform, so the compared projection carries avg_logp
    # only -- exp() would amplify the engines' last-ulp log/summation
    # differences past any fixed rounding.
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return corpus.lm_score(d, d).select(
        "id", "n_tokens", "n_oov", F.round("avg_logp", 6).alias("avg_logp")
    )


# corpus-mixture spec for q_sample_stratified: four sources at distinct
# rates, every other source dropped (the `by` map IS the mixture)
SAMPLE_MIX = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
SAMPLE_SEED = 7
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = 11


def q_sample_stratified(spark, sf_dir):
    # reproducible mixture downsampling: row fate is a pure function of
    # (doc_id, seed) -- stable across engines, runs, and repartitioning
    return corpus.sample_corpus(_docs(spark, sf_dir), by=SAMPLE_MIX, seed=SAMPLE_SEED)


def q_split_corpus(spark, sf_dir):
    return corpus.split_corpus(
        _docs(spark, sf_dir), SPLIT_WEIGHTS, seed=SPLIT_SEED
    ).select("doc_id", "source", "split")


def q_scrub_pii(spark, sf_dir):
    # PII scrub; every 5th doc gets a deterministic URL+email+IP payload so
    # each pattern has true positives
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via https://ex.example/p/"),
                F.col("doc_id").cast("string"),
                F.lit(" from 10.0.0."),
                (F.col("doc_id") % 255).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.scrub_pii(docs)


def q_repetition_stats(spark, sf_dir):
    # Gopher-style repetition filters; every 7th doc gets its text doubled
    # across a newline so dup-line/dup-trigram signals have true positives
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textstats.repetition_stats(docs)


def q_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def q_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.where(F.col("vec_id") >= 8)
    out = similarity.cosine_topk(corpus, q, k=5)
    return out.select("query_id", "vec_id", F.round("cos", 5).alias("cos"), "rank")


def _emb_split(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb.where(F.col("vec_id") >= 8), q


def q_ann_ivf(spark, sf_dir):
    # rows-only: the trained-kmeans codebook is approximate by construction;
    # measured recall@5 vs brute force is >= 0.9 at these settings on all
    # test SFs (tests/test_similarity.py) -- this corpus is near-isotropic,
    # so 0.9 recall costs probing ~11/16 of the buckets (clustered corpora
    # prune far deeper at equal recall).
    corpus, q = _emb_split(spark, sf_dir)
    corpus = corpus.cache()
    cents = similarity.kmeans_centroids(corpus, k=ANN_K, iterations=ANN_ITERS)
    out = similarity.ivf_topk(corpus, q, cents, k=5, nprobe=ANN_NPROBE)
    return out.select("query_id", "vec_id", F.round("cos", 5).alias("cos"), "rank")


def q_ann_ivf_fixed(spark, sf_dir):
    # Fully oracle-checked IVF: deterministic take_centroids codebook (the
    # IVF_FIXED_K lowest-id corpus vectors), so DuckDB re-derives bucket
    # assignment, probe selection, and scoring bit-for-bit -- this is the
    # exactness proof of the IVF machinery itself.
    corpus, q = _emb_split(spark, sf_dir)
    cents = similarity.take_centroids(corpus, IVF_FIXED_K)
    out = similarity.ivf_topk(corpus, q, cents, k=5, nprobe=IVF_FIXED_NPROBE)
    return out.select("query_id", "vec_id", F.round("cos", 5).alias("cos"), "rank")


def q_ann_ivf_invariant(spark, sf_dir):
    """Driver-checkable IVF invariant (closes the ann_ivf_topk no_oracle gap
    from round 2): the trained-codebook IVF top-k must EQUAL an independent
    recomputation of "exact top-k within the probed buckets" built from the
    engine's other codepath -- assign_buckets_df (broadcast-join codebook +
    window argmax) instead of assign_buckets (plan-literal codebook +
    array_position), and a window probe selection instead of the
    reverse(array_sort(...)) probe ranking. Returns the symmetric
    difference of the two result sets: EXPECTED EMPTY, and the DuckDB
    oracle is the empty relation -- any disagreement (bucket assignment,
    probe choice, scoring, or ranking drift) fails the row-count gate."""
    corpus, q = _emb_split(spark, sf_dir)
    corpus = corpus.cache()
    cents = similarity.kmeans_centroids(corpus, k=ANN_K, iterations=ANN_ITERS)
    ivf = similarity.ivf_topk(corpus, q, cents, k=5, nprobe=ANN_NPROBE).select(
        "query_id", "vec_id", F.round("cos", 5).alias("cos"), "rank"
    )

    from pyspark.sql import Window

    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "bucket int, cvec array<double>",
    )
    assigned = similarity.assign_buckets_df(corpus, cents_df)
    # probe rule re-derived: score DESC then bucket DESC mirrors ivf_topk's
    # reverse(array_sort(struct(s, i))) tie behavior
    qscored = q.crossJoin(F.broadcast(cents_df)).select(
        F.col("query_id"),
        F.col("query_vec").alias("_qv"),
        "bucket",
        similarity.cosine(F.col("query_vec"), F.col("cvec")).alias("_s"),
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("bucket").desc()
    )
    probes = (
        qscored.withColumn("_rn", F.row_number().over(pw))
        .where(F.col("_rn") <= ANN_NPROBE)
        .select("query_id", "_qv", "bucket")
    )
    scored = assigned.join(F.broadcast(probes), "bucket").select(
        "query_id", "vec_id", similarity.cosine(F.col("_v"), F.col("_qv")).alias("_cos")
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )
    expected = (
        scored.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", F.round("_cos", 5).alias("cos"), "rank")
    )
    return ivf.exceptAll(expected).unionByName(expected.exceptAll(ivf))


def _emb_with_dups(spark, sf_dir):
    """Embedding subset + one injected near-duplicate per vector:
    dup = v + 0.05 * rotate(v, 1), all in double -- cos(v, dup) ~ 0.9987,
    while natural pairs stay < 0.62. Deterministic arithmetic, so the
    DuckDB oracle reproduces the corpus (and every cosine) bit-for-bit."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base = emb.where(F.col("vec_id") < EMB_SUBSET).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    v = F.col("vec")
    shifted = F.concat(F.slice(v, 2, F.size(v) - 1), F.slice(v, 1, 1))
    dup = F.zip_with(v, shifted, lambda a, b: a + F.lit(0.05) * b)
    dups = base.select(
        (F.col("vec_id") + EMB_DUP_OFFSET).alias("vec_id"), dup.alias("vec")
    )
    return base.unionByName(dups)


def q_cosine_near_dups(spark, sf_dir):
    out = similarity.cosine_near_dup_pairs(
        _emb_with_dups(spark, sf_dir), threshold=NEARDUP_COS, vec_col="vec"
    )
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos"))


def q_rp_lsh_near_dups(spark, sf_dir):
    out = similarity.rp_lsh_near_dup_pairs(
        _emb_with_dups(spark, sf_dir),
        threshold=NEARDUP_COS,
        n_bits=RP_BITS,
        max_hamming=RP_MAX_HAMMING,
        seed=RP_SEED,
        dim=EMB_DIM,
        vec_col="vec",
    )
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos"))


def q_semantic_dedup(spark, sf_dir):
    # SemDeDup over the injected-dup embedding corpus with the deterministic
    # take_centroids codebook, so DuckDB re-derives cluster assignment, the
    # within-cluster dup graph, CC, and the min-id keeper bit-for-bit.
    corpus = _emb_with_dups(spark, sf_dir)
    cents = similarity.take_centroids(corpus, SEM_K, vec_col="vec")
    return similarity.semantic_dedup(
        corpus, cents, threshold=NEARDUP_COS, vec_col="vec"
    )


def q_sorted_neighborhood(spark, sf_dir):
    # second blocking family (SNM): global sort ranks computed WITHOUT a
    # single-task window (range shuffle + offset arithmetic), then pair
    # each record with its window-1 successors; oracle is the literal
    # one-task row_number form
    return sorted_neighborhood_pairs(
        _docs(spark, sf_dir).withColumn("snm_key", F.substring("text", 1, SNM_KEYLEN)),
        "snm_key",
        id_col="doc_id",
        window=SNM_WINDOW,
    ).select(
        F.col("ref_a").alias("id_a"), F.col("ref_b").alias("id_b"), "rank_gap"
    )


def q_golden_records(spark, sf_dir):
    # ER survivorship over the resolved entities: longest text wins, ties
    # to the lowest ref -- one join + one min(struct) aggregate, no window
    d = _docs_subset(spark, sf_dir)
    assign = assign_entities(d.select("doc_id"), q_match_edges(spark, sf_dir), node_col="doc_id")
    return golden_records(d, assign, ref_col="doc_id")


def _fs_levels(spark, sf_dir):
    """Candidate pairs with per-field agreement levels (shared input for
    the FS scoring query): trigram-jaccard band + lang/source equality."""
    docs = _docs_subset(spark, sf_dir).select("doc_id", "lang", "source")
    p = _postings(spark, sf_dir, subset=True).cache()
    pairs = with_jaccard(candidate_pairs(p), p)
    a = docs.select(
        F.col("doc_id").alias("ref_a"), F.col("lang").alias("_la"), F.col("source").alias("_sa")
    )
    b = docs.select(
        F.col("doc_id").alias("ref_b"), F.col("lang").alias("_lb"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(a, "ref_a")
        .join(b, "ref_b")
        .select(
            "ref_a",
            "ref_b",
            F.when(F.col("jaccard") >= 0.8, 2)
            .when(F.col("jaccard") >= 0.4, 1)
            .otherwise(0)
            .cast("int")
            .alias("jacc_level"),
            (F.col("_la") == F.col("_lb")).cast("int").alias("lang_level"),
            (F.col("_sa") == F.col("_sb")).cast("int").alias("source_level"),
        )
    )


def q_fs_match_weights(spark, sf_dir):
    # Fellegi-Sunter probabilistic linkage: per-field agreement levels ->
    # log2 Bayes-factor match weight + posterior, all literal arithmetic
    # (a single codegen'd projection over the candidate pairs)
    out = fs_score(_fs_levels(spark, sf_dir), [FS_JACC, FS_LANG, FS_SOURCE], prior=FS_PRIOR)
    return out.select(
        "ref_a",
        "ref_b",
        "jacc_level",
        "lang_level",
        "source_level",
        F.round("match_weight", 6).alias("match_weight"),
        F.round("match_probability", 6).alias("match_probability"),
    )


def q_fs_estimate_mu(spark, sf_dir):
    # supervised m/u estimation from labeled pairs (the dup corpus gives
    # ground truth: same base doc <=> match); one tagged explode + one
    # groupBy however many fields there are
    p = build_postings(
        _docs_with_dups(spark, sf_dir), text_col="text", ref_col="doc_id", weight_col=None
    ).cache()
    pairs = with_jaccard(candidate_pairs(p), p)
    lab = pairs.select(
        F.when(F.col("jaccard") >= 0.8, 2)
        .when(F.col("jaccard") >= 0.4, 1)
        .otherwise(0)
        .cast("int")
        .alias("jacc_level"),
        (F.col("matches") >= FS_MATCHES_MIN).cast("int").alias("matches_level"),
        ((F.col("ref_a") % DUP_OFFSET) == (F.col("ref_b") % DUP_OFFSET))
        .cast("int")
        .alias("is_match"),
    )
    out = estimate_m_u(lab, ["jacc_level", "matches_level"], smoothing=0.5, n_levels=3)
    return out.select(
        "field", "level", F.round("m", 6).alias("m"), F.round("u", 6).alias("u")
    )


def q_cluster_metrics(spark, sf_dir):
    # the evaluation half of ER: near-dedup clusters scored against the
    # planted truth (base doc id) -- pairwise P/R/F1 + B-cubed, one row,
    # everything reduced over the contingency table (no pair materialized)
    nd = dedup.near_dedup(_docs_with_dups(spark, sf_dir), threshold=NEARDUP_EST_J)
    assign = nd.select(
        F.col("id").alias("ref"),
        F.col("keep_id").alias("entity_id"),
        (F.col("id") % DUP_OFFSET).alias("entity_true"),
    )
    return cluster_metrics(assign, exact_scale=METRIC_SCALE)


def q_meta_blocking(spark, sf_dir):
    # meta-blocking (Papadakis TKDE 2014): prune the blocker's candidate
    # graph by CBS edge weight (= shared-trigram count, already computed by
    # candidate_pairs) under union-WNP -- node stats are one groupBy of the
    # directed edge view, pruning is a filter; nothing is re-paired
    edges = candidate_pairs(_postings(spark, sf_dir, subset=True)).select(
        "ref_a", "ref_b", "matches"
    )
    return meta_blocking_prune(edges, weight_col="matches", scheme="wnp")


def q_blocking_metrics(spark, sf_dir):
    # the blocking half of ER evaluation (Christen 2012 §7.3): reduction
    # ratio / pairs completeness / pairs quality of trigram blocking over
    # the planted-dup corpus; all counts integer-exact, reduced over the
    # truth-label table (no pair materialization beyond the blocker's own)
    docs = _docs_with_dups(spark, sf_dir)
    p = build_postings(docs, text_col="text", ref_col="doc_id", weight_col=None)
    cand = candidate_pairs(p, keys_only=True)
    truth = docs.select(
        F.col("doc_id").alias("ref"),
        (F.col("doc_id") % DUP_OFFSET).alias("entity_true"),
    )
    return blocking_metrics(cand, truth)


def q_block_filtering(spark, sf_dir):
    # block filtering (Papadakis EDBT 2016): each record sheds its most
    # crowded blocking keys (keeps the smallest 60% by df) before pairing;
    # returned as the candidate pairs the filtered postings generate so the
    # pruning is visible end-to-end
    p = block_filtering(_postings(spark, sf_dir, subset=True), ratio=0.6)
    return candidate_pairs(p).select("ref_a", "ref_b", "matches")


def q_threshold_sweep(spark, sf_dir):
    # the jaccard_threshold calibration curve: P/R/F1 of `jaccard >= t` per
    # threshold against the planted-dup truth -- one pass over the scored
    # pairs (conditional sums, no explode), one row per threshold
    docs = _docs_with_dups(spark, sf_dir)
    p = build_postings(
        docs, text_col="text", ref_col="doc_id", weight_col=None
    ).cache()
    scored = with_jaccard(candidate_pairs(p), p).withColumn(
        "jaccard", F.round("jaccard", 6)
    )
    truth = docs.select(
        F.col("doc_id").alias("ref"),
        (F.col("doc_id") % DUP_OFFSET).alias("entity_true"),
    )
    return threshold_sweep(scored, truth, SWEEP_THRESHOLDS)


def q_cluster_stats(spark, sf_dir):
    # over-merge diagnostics for transitive closure: per-entity size,
    # internal-edge count, and density (chain-shaped merges show density
    # far below 1.0; genuine duplicate groups are near-complete)
    edges = q_match_edges(spark, sf_dir).cache()
    assign = connected_components(edges)
    return cluster_stats(assign, edges)


def q_idf_cosine_pairs(spark, sf_dir):
    # df-weighted cosine scoring: shared rare trigrams count for more than
    # shared stopword-grade ones; scaled-int weight sums keep it
    # bit-identical to the oracle (rational RSJ idf, floats only in the
    # final division)
    s = idf_weighted_pairs(_postings(spark, sf_dir, subset=True))
    return s.select(
        "ref_a", "ref_b", "matches", F.round("idf_cos", 6).alias("idf_cos")
    )


def q_set_similarity(spark, sf_dir):
    # the four classic set-similarity coefficients over the shared-trigram
    # evidence -- same count joins as with_jaccard, four codegen'd
    # divisions, no order-dependent float summation anywhere
    p = _postings(spark, sf_dir, subset=True).cache()
    s = with_set_similarity(candidate_pairs(p), p)
    return s.select(
        "ref_a", "ref_b", "matches",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("dice", 6).alias("dice"),
        F.round("overlap", 6).alias("overlap"),
        F.round("cosine", 6).alias("cosine"),
    )


def q_multipass_blocking(spark, sf_dir):
    # multi-pass blocking (Hernandez-Stolfo): trigram + token passes
    # unioned with provenance; the dedup shuffle is shared by all passes
    docs = _docs_subset(spark, sf_dir)
    p = _postings(spark, sf_dir, subset=True)
    return multipass_candidates({
        "trigram": candidate_pairs(p, keys_only=True),
        "token": token_blocking_pairs(docs, max_df=TOKEN_BLOCK_MAX_DF, min_matches=3),
    })


def q_edit_distance_join(spark, sf_dir):
    # the classic edit-distance similarity join, blocking-first: trigram
    # candidates over the planted-dup corpus, then a length-gap prefilter
    # (free, sound: edit distance >= length difference) and the JVM's
    # THRESHOLDED levenshtein (banded DP, early exit past k) -- truncated
    # dups sit within k=EDIT_MAX of their base doc, random pairs do not
    from blurrily_spark.functions.tokenizer import with_normalized

    docs = _docs_with_dups(spark, sf_dir)
    p = build_postings(docs, text_col="text", ref_col="doc_id", weight_col=None)
    cand = candidate_pairs(p, keys_only=True)
    recs = with_normalized(docs, "text", "norm").select(
        F.col("doc_id").alias("ref"), "norm"
    )
    out = with_edit_distance(cand, recs, max_dist=EDIT_MAX)
    return out.select("ref_a", "ref_b", F.col("edit_dist").cast("int").alias("edit_dist"))


def q_token_blocking(spark, sf_dir):
    # token blocking (the meta-blocking literature's baseline): pairs
    # sharing >= 3 distinct normalized words, with the hottest blocks purged
    # (df > 80 of the 100-doc subset) -- the synthetic corpus has a tiny,
    # hot vocabulary, so the purge threshold sits above the median df to
    # keep the oracle check non-vacuous while still exercising the purge
    return token_blocking_pairs(
        _docs_subset(spark, sf_dir), max_df=TOKEN_BLOCK_MAX_DF, min_matches=3
    )


def q_incremental_entities(spark, sf_dir):
    # delta folding: entities from strong edges (j >= 0.7) updated with the
    # 0.6..0.7 band only -- result provably equals full CC at 0.6 (the
    # oracle IS the full-recompute SQL)
    from blurrily_spark.operators.cluster import incremental_entities

    p = _postings(spark, sf_dir, subset=True).cache()
    scored = with_jaccard(candidate_pairs(p), p).withColumn(
        "jaccard", F.round("jaccard", 6)
    )
    strong = match_edges(scored, jaccard_threshold=INCR_STRONG_J)
    weak = scored.where(
        (F.col("jaccard") >= CC_THRESHOLD) & (F.col("jaccard") < INCR_STRONG_J)
    ).select(F.col("ref_a").alias("src"), F.col("ref_b").alias("dst"))
    prev = connected_components(strong)
    return incremental_entities(prev, weak)


def q_sessionize(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize(ev, gap_seconds=SESSION_GAP_S).select(
        "event_id", "user_id", "session_seq"
    )


def q_session_stats(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return session_stats(ev, gap_seconds=SESSION_GAP_S).select(
        "user_id",
        "session_seq",
        "n_events",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "duration_s",
        "sum_value",
        "n_event_types",
    )


def q_events_window(spark, sf_dir):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return events.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: batch fuzzy FIND over the sf0.001 documents corpus."""
    return q_find(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize_text": q_normalize,
        "tokenize_trigrams": q_tokenize,
        "index_build": q_index_build,
        "index_stats": q_index_stats,
        "index_delete": q_index_delete,
        "find_ranked": q_find,
        "find_idf": q_find_idf,
        "knn_join": q_knn_join,
        "knn_join_cross": q_knn_cross,
        "mutual_knn": q_mutual_knn,
        "blocking_pairs": q_pairs,
        "pairs_jaccard": q_pairs_jaccard,
        "match_edges": q_match_edges,
        "connected_components": q_connected_components,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_pairs": q_jaccard_join_exact,
        "jaccard_join_exact": q_jaccard_join_exact,
        "minhash_signatures": q_minhash_sigs,
        "minhash_lsh_pairs": q_minhash_lsh,
        "near_dedup": q_near_dedup,
        "near_dedup_cross": q_near_dedup_cross,
        "duplicate_spans": q_duplicate_spans,
        "duplicate_span_positions": q_duplicate_span_positions,
        "cut_duplicate_spans": q_cut_duplicate_spans,
        "simhash_fingerprints": q_simhash_fp,
        "simhash_near_dups": q_simhash,
        "token_count": q_token_count,
        "ngram_contamination": q_ngram_contamination,
        "frequent_ngrams": q_frequent_ngrams,
        "sample_stratified": q_sample_stratified,
        "split_corpus": q_split_corpus,
        "tfidf_top_terms": q_tfidf_top_terms,
        "lm_score": q_lm_score,
        "phonetic_keys": q_phonetic_keys,
        "phonetic_pairs": q_phonetic_pairs,
        "token_sort_score": q_token_sort_score,
        "repetition_stats": q_repetition_stats,
        "scrub_pii": q_scrub_pii,
        "quality_score": q_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ann_ivf_topk": q_ann_ivf,
        "ann_ivf_fixed": q_ann_ivf_fixed,
        "ann_ivf_invariant": q_ann_ivf_invariant,
        "cosine_near_dups": q_cosine_near_dups,
        "rp_lsh_near_dups": q_rp_lsh_near_dups,
        "semantic_dedup": q_semantic_dedup,
        "sorted_neighborhood": q_sorted_neighborhood,
        "golden_records": q_golden_records,
        "fs_match_weights": q_fs_match_weights,
        "fs_estimate_mu": q_fs_estimate_mu,
        "cluster_metrics": q_cluster_metrics,
        "meta_blocking": q_meta_blocking,
        "blocking_metrics": q_blocking_metrics,
        "block_filtering": q_block_filtering,
        "token_blocking": q_token_blocking,
        "edit_distance_join": q_edit_distance_join,
        "set_similarity": q_set_similarity,
        "idf_cosine_pairs": q_idf_cosine_pairs,
        "multipass_blocking": q_multipass_blocking,
        "threshold_sweep": q_threshold_sweep,
        "cluster_stats": q_cluster_stats,
        "incremental_entities": q_incremental_entities,
        "sessionize": q_sessionize,
        "session_stats": q_session_stats,
        "events_window_agg": q_events_window,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SUBSET_SQL = f"(SELECT * FROM documents WHERE doc_id < {PAIR_SUBSET})"

_STOP = {k: ", ".join(f"'{w}'" for w in v) for k, v in textstats.STOPWORDS.items()}


def _pairs_head(with_jacc: bool) -> str:
    cols = "ref_a, ref_b, matches" + (", jaccard" if with_jacc else "")
    return f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')}
SELECT {cols} FROM pairs"""


def oracle_sql() -> dict[str, str]:
    docs = "documents"
    norm = oracle.NORM.format(text="text")
    out: dict[str, str] = {}

    out["normalize_text"] = f"SELECT doc_id, {norm} AS norm FROM {docs}"

    out["tokenize_trigrams"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')}
SELECT ref AS doc_id, trigram FROM hay_tg"""

    out["index_build"] = oracle.postings_sql(docs, "doc_id", "text")

    out["index_stats"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')}
SELECT count(DISTINCT ref) AS references, count(*) AS trigrams FROM hay_tg"""

    out["index_delete"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')}
SELECT count(DISTINCT ref) AS references, count(*) AS trigrams
FROM hay_tg WHERE ref % 10 <> 3"""

    out["find_ranked"] = oracle.find_sql(docs, "doc_id", "text", NEEDLES, limit=10)

    out["find_idf"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.norm_cte('qq', oracle.queries_values(NEEDLES), 'query_id', 'needle')},
{oracle.trigram_ctes('qq')},
nn AS (SELECT count(DISTINCT ref) AS n FROM hay_tg),
wdf AS (
  SELECT trigram,
         CAST(floor((n - df + 0.5) / (df + 0.5) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM (SELECT trigram, count(*) AS df FROM hay_tg GROUP BY trigram)
  CROSS JOIN nn
),
scored AS (
  SELECT q.ref AS query_id, h.ref, count(*) AS matches,
         CAST(sum(w.w) AS BIGINT) AS idf_score, min(h.weight) AS weight
  FROM qq_tg q JOIN hay_tg h USING (trigram) JOIN wdf w USING (trigram)
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, ref, matches, idf_score, weight,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY idf_score DESC, weight ASC, ref ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, ref, matches, idf_score, weight, rank
FROM ranked WHERE rank <= 10"""

    out["knn_join"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
scored AS (
  SELECT a.ref AS query_ref, b.ref AS ref, count(*) AS matches,
         min(b.weight) AS weight
  FROM hay_tg a JOIN hay_tg b ON a.trigram = b.trigram AND a.ref <> b.ref
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_ref, ref, matches, weight,
         CAST(row_number() OVER (
           PARTITION BY query_ref
           ORDER BY matches DESC, weight ASC, ref ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_ref, ref, matches, weight, rank FROM ranked WHERE rank <= 5"""

    out["mutual_knn"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
scored AS (
  SELECT a.ref AS query_ref, b.ref AS ref, count(*) AS matches,
         min(b.weight) AS weight
  FROM hay_tg a JOIN hay_tg b ON a.trigram = b.trigram AND a.ref <> b.ref
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_ref, ref, matches,
         CAST(row_number() OVER (
           PARTITION BY query_ref
           ORDER BY matches DESC, weight ASC, ref ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT f.query_ref AS ref_a, f.ref AS ref_b, f.matches,
       f.rank AS rank_ab, r.rank AS rank_ba
FROM ranked f JOIN ranked r ON f.query_ref = r.ref AND f.ref = r.query_ref
WHERE f.query_ref < f.ref AND f.rank <= 5 AND r.rank <= 5"""

    out["blocking_pairs"] = _pairs_head(with_jacc=False)
    out["pairs_jaccard"] = _pairs_head(with_jacc=True)

    out["match_edges"] = (
        _pairs_head(with_jacc=True).replace(
            "SELECT ref_a, ref_b, matches, jaccard FROM pairs",
            f"SELECT ref_a AS src, ref_b AS dst FROM pairs WHERE jaccard >= {CC_THRESHOLD}",
        )
    )

    out["connected_components"] = oracle.cc_sql(
        _SUBSET_SQL, "doc_id", "text", CC_THRESHOLD
    )

    out["dedup_exact"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')}
SELECT ref AS doc_id,
       min(ref) OVER (PARTITION BY norm) AS canonical_id,
       ref <> min(ref) OVER (PARTITION BY norm) AS is_dup
FROM hay_norm"""

    dup_corpus = f"""(SELECT doc_id, text FROM documents WHERE doc_id < {PAIR_SUBSET}
 UNION ALL
 SELECT doc_id + {DUP_OFFSET} AS doc_id,
        substr(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
 FROM documents WHERE doc_id < {PAIR_SUBSET})"""

    out["ngram_jaccard_pairs"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
ws AS (SELECT ref, string_split(norm, ' ') AS w FROM hay_norm),
sh AS (
  SELECT DISTINCT ref, unnest(
    CASE WHEN len(w) >= 3 THEN
      list_distinct(list_transform(range(1, len(w) - 1),
        i -> array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')))
    ELSE [array_to_string(w, ' ')] END) AS s
  FROM ws
),
counts AS (SELECT ref, count(*) AS n FROM sh GROUP BY ref),
inter AS (
  SELECT a.ref AS id_a, b.ref AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.ref < b.ref
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       round(inter / CAST(ca.n + cb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter JOIN counts ca ON ca.ref = id_a JOIN counts cb ON cb.ref = id_b
WHERE inter / CAST(ca.n + cb.n - inter AS DOUBLE) >= {NGRAM_THRESHOLD}"""
    # both names run the prefix-filtered exact join: one oracle
    out["jaccard_join_exact"] = out["ngram_jaccard_pairs"]

    out["minhash_signatures"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('hay', MINHASH_PARAMS)}
SELECT ref AS id, CAST(j AS INT) AS j, sig[CAST(j AS INT)] AS sig_v
FROM hay_sig, (SELECT unnest(range(1, 33)) AS j) t"""

    out["minhash_lsh_pairs"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('hay', MINHASH_PARAMS)}
{oracle.lsh_pairs_sql('hay', num_hashes=32, bands=8)}"""

    out["near_dedup"] = f"""WITH RECURSIVE {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('hay', MINHASH_PARAMS)},
cand AS ({oracle.lsh_pairs_sql('hay', num_hashes=32, bands=8)}),
edges AS (SELECT id_a AS src, id_b AS dst FROM cand WHERE est_jaccard >= {NEARDUP_EST_J}),
{oracle.cc_walk_ctes('edges')},
comp AS (SELECT node, CAST(min(label) AS BIGINT) AS keep FROM walk GROUP BY node)
SELECT n.ref AS id,
       CAST(coalesce(c.keep, n.ref) AS BIGINT) AS keep_id,
       CAST(CASE WHEN coalesce(c.keep, n.ref) <> n.ref THEN 1 ELSE 0 END AS INT) AS is_dup
FROM hay_norm n LEFT JOIN comp c ON c.node = n.ref"""

    ref_corpus = f"(SELECT doc_id, text FROM documents WHERE doc_id < {PAIR_SUBSET})"
    new_corpus = f"""(SELECT doc_id + {DUP_OFFSET} AS doc_id,
        substr(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
 FROM documents WHERE doc_id < {PAIR_SUBSET})"""
    out["near_dedup_cross"] = f"""WITH {oracle.norm_cte('refc', ref_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('refc', MINHASH_PARAMS)},
{oracle.norm_cte('newc', new_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('newc', MINHASH_PARAMS)},
cand AS ({oracle.lsh_cross_pairs_sql('newc', 'refc', num_hashes=32, bands=8)}),
qual AS (SELECT * FROM cand WHERE est_jaccard >= {NEARDUP_EST_J}),
best AS (
  SELECT new_id, ref_id, est_jaccard FROM (
    SELECT new_id, ref_id, est_jaccard,
           row_number() OVER (PARTITION BY new_id
                              ORDER BY est_jaccard DESC, ref_id ASC) AS rn
    FROM qual
  ) WHERE rn = 1
)
SELECT n.ref AS id,
       CAST(coalesce(b.ref_id, -1) AS BIGINT) AS matched_ref_id,
       CAST(coalesce(b.est_jaccard, 0.0) AS DOUBLE) AS est_jaccard,
       CAST(CASE WHEN b.ref_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM newc_norm n LEFT JOIN best b ON b.new_id = n.ref"""

    out["knn_join_cross"] = f"""WITH {oracle.norm_cte('refc', ref_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('refc')},
{oracle.norm_cte('newc', new_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('newc')},
scored AS (
  SELECT q.ref AS query_ref, h.ref AS ref, count(*) AS matches,
         min(h.weight) AS weight
  FROM newc_tg q JOIN refc_tg h USING (trigram)
  WHERE q.ref <> h.ref
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_ref, ref, matches, weight,
         CAST(row_number() OVER (
           PARTITION BY query_ref
           ORDER BY matches DESC, weight ASC, ref ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_ref, ref, matches, weight, rank FROM ranked WHERE rank <= 3"""

    out["duplicate_spans"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
words AS (SELECT ref, string_split(norm, ' ') AS ws FROM hay_norm),
wins AS (
  SELECT w.ref, array_to_string(w.ws[t.i : t.i + {SPAN_W - 1}], ' ') AS win
  FROM words w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w.ws) - {SPAN_W} + 1, 1))) AS i) t
),
dupw AS (SELECT win FROM wins GROUP BY win HAVING count(DISTINCT ref) >= 2),
tot AS (SELECT ref, count(*) AS n_windows FROM wins GROUP BY ref),
dup AS (
  SELECT ref, count(*) AS n_dup FROM wins
  WHERE win IN (SELECT win FROM dupw) GROUP BY ref
)
SELECT t.ref AS id,
       CAST(t.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
       round(coalesce(d.n_dup, 0) / t.n_windows, 6) AS dup_fraction
FROM tot t LEFT JOIN dup d ON d.ref = t.ref"""

    # shared CTE prefix for the two span-cut queries: windows WITH their
    # 1-based start offsets, and the cross-document duplicated window set
    span_pos_ctes = f"""{oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
words AS (SELECT ref, string_split(norm, ' ') AS ws FROM hay_norm),
wins AS (
  SELECT w.ref, t.i, array_to_string(w.ws[t.i : t.i + {SPAN_W - 1}], ' ') AS win
  FROM words w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w.ws) - {SPAN_W} + 1, 1))) AS i) t
),
dupw AS (SELECT win FROM wins GROUP BY win HAVING count(DISTINCT ref) >= 2),
pos AS (SELECT w.ref, w.i, w.win FROM wins w WHERE w.win IN (SELECT win FROM dupw))"""

    out["duplicate_span_positions"] = f"""WITH {span_pos_ctes}
SELECT ref AS id, CAST(i - 1 AS INT) AS start_word, win FROM pos"""

    out["cut_duplicate_spans"] = f"""WITH {span_pos_ctes},
cov AS (
  SELECT DISTINCT p.ref, t.p
  FROM pos p, LATERAL (SELECT unnest(generate_series(p.i, p.i + {SPAN_W - 1})) AS p) t
),
covlist AS (SELECT ref, list(p) AS ps FROM cov GROUP BY ref)
SELECT wd.ref AS id,
       coalesce(array_to_string(list_filter(wd.ws, (x, i) -> c.ps IS NULL OR NOT list_contains(c.ps, i)), ' '), '') AS kept_text,
       CAST(len(wd.ws) AS BIGINT) AS n_words,
       CAST(len(list_filter(wd.ws, (x, i) -> c.ps IS NULL OR NOT list_contains(c.ps, i))) AS BIGINT) AS n_kept_words
FROM words wd LEFT JOIN covlist c ON c.ref = wd.ref"""

    out["simhash_fingerprints"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.simhash_ctes('hay')}
SELECT ref AS id, simhash FROM hay_fp"""

    out["simhash_near_dups"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.simhash_ctes('hay')}
SELECT a.ref AS id_a, b.ref AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM hay_fp a JOIN hay_fp b ON a.ref < b.ref
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}"""

    # staged scrub: each count is taken on the text the NEXT replacement
    # runs on, mirroring textstats.scrub_pii's fold order (URL > email > IP)
    from blurrily_spark.operators.textstats import PII_PATTERNS

    (url_re, url_tok), (em_re, em_tok), (ip_re, ip_tok) = [
        (p, t) for _, p, t in PII_PATTERNS
    ]
    out["scrub_pii"] = f"""WITH s0 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@example.com via https://ex.example/p/' || CAST(doc_id AS VARCHAR)
      || ' from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)
    ELSE text END AS text
  FROM documents
),
s1 AS (SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{url_re}')) AS INT) AS n_urls,
  regexp_replace(text, '{url_re}', '{url_tok}', 'g') AS text FROM s0),
s2 AS (SELECT doc_id, n_urls,
  CAST(len(regexp_extract_all(text, '{em_re}')) AS INT) AS n_emails,
  regexp_replace(text, '{em_re}', '{em_tok}', 'g') AS text FROM s1),
s3 AS (SELECT doc_id, n_urls, n_emails,
  CAST(len(regexp_extract_all(text, '{ip_re}')) AS INT) AS n_ipv4,
  regexp_replace(text, '{ip_re}', '{ip_tok}', 'g') AS text FROM s2)
SELECT doc_id, text AS clean_text, n_urls, n_emails, n_ipv4 FROM s3"""

    rep_corpus = """(SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || text ELSE text END AS text
  FROM documents)"""
    out["repetition_stats"] = f"""WITH {oracle.norm_cte('hay', rep_corpus, 'doc_id', 'text')},
raw AS (SELECT doc_id AS ref, text FROM {rep_corpus} r),
lns AS (
  SELECT ref,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS ls
  FROM raw
),
linestats AS (
  SELECT ref, len(ls) AS n_lines,
         CASE WHEN len(ls) > 0
              THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
              ELSE 0.0 END AS dlf
  FROM lns
),
words AS (SELECT ref, string_split(norm, ' ') AS ws FROM hay_norm),
w1c AS (SELECT ref, w, count(*) AS c
        FROM (SELECT ref, unnest(ws) AS w FROM words) GROUP BY ref, w),
w1 AS (SELECT ref, sum(c) AS n_words, max(c) AS topc FROM w1c GROUP BY ref),
bg AS (SELECT w.ref, array_to_string(w.ws[t.i : t.i + 1], ' ') AS g
       FROM words w,
            LATERAL (SELECT unnest(generate_series(1, len(w.ws) - 1)) AS i) t
       WHERE len(w.ws) >= 2),
w2c AS (SELECT ref, g, count(*) AS c FROM bg GROUP BY ref, g),
w2 AS (SELECT ref, max(c) / CAST(sum(c) AS DOUBLE) AS tbf FROM w2c GROUP BY ref),
tg AS (SELECT w.ref, array_to_string(w.ws[t.i : t.i + 2], ' ') AS g
       FROM words w,
            LATERAL (SELECT unnest(generate_series(1, len(w.ws) - 2)) AS i) t
       WHERE len(w.ws) >= 3),
w3c AS (SELECT ref, g, count(*) AS c FROM tg GROUP BY ref, g),
w3 AS (SELECT ref, sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE) AS dtf
       FROM w3c GROUP BY ref)
SELECT l.ref AS id,
       CAST(l.n_lines AS INT) AS n_lines,
       round(l.dlf, 6) AS dup_line_frac,
       CAST(w1.n_words AS BIGINT) AS n_words,
       round(w1.topc / CAST(w1.n_words AS DOUBLE), 6) AS top_word_frac,
       round(coalesce(w2.tbf, 0.0), 6) AS top_bigram_frac,
       round(coalesce(w3.dtf, 0.0), 6) AS dup_trigram_frac
FROM linestats l JOIN w1 ON w1.ref = l.ref
LEFT JOIN w2 ON w2.ref = l.ref LEFT JOIN w3 ON w3.ref = l.ref"""

    holdout_corpus = f"""(SELECT doc_id + {DUP_OFFSET} AS doc_id,
        substr(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
 FROM documents WHERE doc_id % 5 = 0)"""
    out["ngram_contamination"] = f"""WITH {oracle.norm_cte('tr', 'documents', 'doc_id', 'text')},
{oracle.norm_cte('ho', holdout_corpus, 'doc_id', 'text')},
tw AS (SELECT ref, string_split(norm, ' ') AS ws FROM tr_norm),
tg AS (
  SELECT DISTINCT w.ref, array_to_string(w.ws[t.i : t.i + {SPAN_W - 1}], ' ') AS g
  FROM tw w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w.ws) - {SPAN_W} + 1, 1))) AS i) t
),
hw AS (SELECT ref, string_split(norm, ' ') AS ws FROM ho_norm),
hg AS (
  SELECT DISTINCT array_to_string(w.ws[t.i : t.i + {SPAN_W - 1}], ' ') AS g
  FROM hw w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w.ws) - {SPAN_W} + 1, 1))) AS i) t
),
tot AS (SELECT ref, count(*) AS n_grams FROM tg GROUP BY ref),
hit AS (SELECT ref, count(*) AS c FROM tg WHERE g IN (SELECT g FROM hg) GROUP BY ref)
SELECT t.ref AS id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(h.c, 0) / t.n_grams, 6) AS contamination,
       CAST(CASE WHEN coalesce(h.c, 0) >= 1 THEN 1 ELSE 0 END AS INT) AS is_contaminated
FROM tot t LEFT JOIN hit h ON h.ref = t.ref"""

    out["frequent_ngrams"] = f"""WITH {oracle.norm_cte('hay', 'documents', 'doc_id', 'text')},
words AS (SELECT ref, string_split(norm, ' ') AS ws FROM hay_norm),
wins AS (
  SELECT w.ref, array_to_string(w.ws[t.i : t.i + 2], ' ') AS gram
  FROM words w,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w.ws) - 2, 1))) AS i) t
)
SELECT gram,
       CAST(count(DISTINCT ref) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM wins GROUP BY gram HAVING count(DISTINCT ref) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, gram ASC LIMIT 50"""

    out["tfidf_top_terms"] = f"""WITH {oracle.norm_cte('hay', 'documents', 'doc_id', 'text')},
words AS (SELECT ref, unnest(string_split(norm, ' ')) AS term FROM hay_norm),
tf AS (SELECT ref, term, count(*) AS tf FROM words GROUP BY ref, term),
dfreq AS (SELECT term, count(*) AS df_term FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT ref) AS n_docs FROM words),
scored AS (
  SELECT t.ref, t.term, t.tf, d.df_term,
         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df_term), 6) AS tfidf
  FROM tf t JOIN dfreq d USING (term), nd n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY ref ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT ref AS id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df_term AS BIGINT) AS df_term, tfidf
FROM ranked WHERE rank <= 3"""

    # add-k bigram LM self-scoring: identical token model (pos-0 unigram,
    # bigram after), k = 1.0, counts from the same corpus
    out["lm_score"] = f"""WITH {oracle.norm_cte('hay', 'documents', 'doc_id', 'text')},
tw AS (SELECT ref, list_filter(string_split(norm, ' '), x -> x <> '') AS ws FROM hay_norm),
tok AS (
  SELECT w.ref, t.i - 1 AS pos, w.ws[t.i] AS w,
         CASE WHEN t.i > 1 THEN w.ws[t.i - 1] END AS w_prev
  FROM tw w,
       LATERAL (SELECT unnest(generate_series(1, len(w.ws))) AS i) t
),
uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
stats AS (SELECT CAST(sum(c1) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM uni),
big AS (SELECT w_prev, w, count(*) AS c2 FROM tok WHERE pos > 0 GROUP BY w_prev, w),
scored AS (
  SELECT d.ref,
         CASE WHEN d.pos = 0 THEN coalesce(u.c1, 0) ELSE coalesce(b.c2, 0) END AS cnum,
         CASE WHEN d.pos = 0
              THEN ln((coalesce(u.c1, 0) + 1.0) / (s.n + s.v))
              ELSE ln((coalesce(b.c2, 0) + 1.0) / (coalesce(up.c1, 0) + s.v)) END AS logp
  FROM tok d
  CROSS JOIN stats s
  LEFT JOIN uni u ON u.w = d.w
  LEFT JOIN uni up ON up.w = d.w_prev
  LEFT JOIN big b ON b.w_prev = d.w_prev AND b.w = d.w
),
agg AS (
  SELECT ref, count(*) AS n_tokens,
         sum(CASE WHEN cnum = 0 THEN 1 ELSE 0 END) AS n_oov,
         avg(logp) AS avg_logp
  FROM scored GROUP BY ref
),
ids AS (SELECT DISTINCT ref FROM hay_norm)
SELECT i.ref AS id,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
       round(a.avg_logp, 6) AS avg_logp
FROM ids i LEFT JOIN agg a ON a.ref = i.ref"""

    # phonetic blocking: the key fragment is generated by the SAME code
    # that builds the Spark expression (functions/phonetic.py)
    from blurrily_spark.functions.phonetic import phonetic_key_sql

    out["phonetic_keys"] = f"""WITH {oracle.norm_cte('hay', 'documents', 'doc_id', 'text')},
named AS (SELECT ref, string_split(norm, ' ')[1] AS name FROM hay_norm)
SELECT CAST(ref AS BIGINT) AS id, name, {phonetic_key_sql('name')} AS pkey
FROM named"""

    out["phonetic_pairs"] = f"""WITH {oracle.norm_cte('hay', 'documents', 'doc_id', 'text')},
named AS (SELECT ref, string_split(norm, ' ')[1] AS name FROM hay_norm),
keyed AS (SELECT ref, {phonetic_key_sql('name')} AS pkey FROM named),
kk AS (SELECT ref, pkey FROM keyed WHERE pkey IS NOT NULL),
ok AS (SELECT pkey FROM kk GROUP BY pkey HAVING count(*) <= 50)
SELECT CAST(a.ref AS BIGINT) AS ref_a, CAST(b.ref AS BIGINT) AS ref_b, a.pkey
FROM kk a JOIN ok USING (pkey) JOIN kk b ON b.pkey = a.pkey AND a.ref < b.ref"""

    # token_sort_ratio: same clip, same sort, both engines' builtin
    # integer levenshtein
    ts_dups = f"""(SELECT doc_id + {DUP_OFFSET} AS doc_id,
        substr(text, 1, CAST(floor(length(text) * 0.9) AS INT)) AS text
 FROM documents)"""
    out["token_sort_score"] = f"""WITH {oracle.norm_cte('ba', 'documents', 'doc_id', 'text')},
{oracle.norm_cte('du', ts_dups, 'doc_id', 'text')},
a AS (SELECT ref AS id_a, substr(norm, 1, 200) AS na FROM ba_norm),
b AS (SELECT ref - {DUP_OFFSET} AS id_a, ref AS id_b, substr(norm, 1, 200) AS nb
      FROM du_norm),
j AS (SELECT a.id_a, b.id_b, levenshtein(na, nb) AS lev,
        array_to_string(list_sort(list_filter(string_split(na, ' '), x -> x <> '')), ' ') AS sa,
        array_to_string(list_sort(list_filter(string_split(nb, ' '), x -> x <> '')), ' ') AS sb
      FROM a JOIN b USING (id_a))
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(lev AS INTEGER) AS lev,
       round(CASE WHEN greatest(length(sa), length(sb)) = 0 THEN 1.0
                  ELSE 1.0 - levenshtein(sa, sb) / greatest(length(sa), length(sb))
             END, 6) AS ratio
FROM j"""

    # deterministic sampling/splitting: the SAME two-step MINSTD LCG and
    # integer thresholds as operators/corpus.py (thresholds computed once
    # in Python and embedded as literals in both engines)
    m = corpus._MINSTD_MOD
    lcg = (
        f"((((doc_id + {{seed}}) % {m}) * {corpus._MINSTD} % {m})"
        f" * {corpus._MINSTD} % {m})"
    )
    mix_case = " ".join(
        f"WHEN '{src}' THEN {corpus._threshold(frac)}"
        for src, frac in SAMPLE_MIX.items()
    )
    out["sample_stratified"] = f"""SELECT * FROM documents
WHERE {lcg.format(seed=SAMPLE_SEED)} < CASE source {mix_case} ELSE 0 END"""

    uppers, remainder = corpus.split_thresholds(SPLIT_WEIGHTS)
    split_case = " ".join(f"WHEN u < {t} THEN '{name}'" for name, t in uppers)
    out["split_corpus"] = f"""WITH u AS (
  SELECT doc_id, source, {lcg.format(seed=SPLIT_SEED)} AS u FROM documents
)
SELECT doc_id, source, CASE {split_case} ELSE '{remainder}' END AS split
FROM u"""

    out["token_count"] = """SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
FROM documents"""

    out["quality_score"] = f"""WITH feats AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_words,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS n_punct,
    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         w -> lower(w) IN ({_STOP['en']}))) AS DOUBLE) AS n_stop
  FROM documents
)
SELECT doc_id,
  round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6) AS punct_ratio,
  round(CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1)) / n_words ELSE 0.0 END, 6) AS mean_word_len,
  round((CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END) * 0.5
      + (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 0.3
      + least(n_chars, 2000.0) / 2000.0 * 0.2, 6) AS quality
FROM feats"""

    lang_hits = ",\n    ".join(
        f"CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
        f"w -> w IN ({_STOP[c]}))) AS BIGINT) AS {c}"
        for c in LANGS
    )
    gmax = "greatest(" + ", ".join(LANGS) + ")"
    # tie rule mirrors Spark's array_max(struct(hits, lang)): max hits,
    # then lexicographically greatest lang code.
    by_code_desc = sorted(LANGS, reverse=True)
    case_lang = " ".join(
        f"WHEN {c} = {gmax} THEN '{c}'" for c in by_code_desc[:-1]
    )
    out["lang_id"] = f"""WITH hits AS (
  SELECT doc_id,
    {lang_hits}
  FROM documents
)
SELECT doc_id,
  CASE WHEN {gmax} = 0 THEN 'und' {case_lang} ELSE '{by_code_desc[-1]}' END AS lang,
  {gmax} AS lang_hits
FROM hits"""

    out["doc_fingerprint"] = f"""WITH {oracle.norm_cte('hay', docs, 'doc_id', 'text')}
SELECT ref AS doc_id,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(norm) + 1),
        i -> CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 2147483647) AS BIGINT) AS fingerprint
FROM hay_norm"""

    fold_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(c.embedding, q.qe), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (a, b) -> a + b)"
    )

    def fold_sq(expr: str) -> str:
        return (
            "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({expr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            "), (a, b) -> a + b))"
        )

    out["cosine_topk"] = f"""WITH qv AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, c.vec_id,
    {fold_dot} / ({fold_sq('c.embedding')} * {fold_sq('q.qe')}) AS raw_cos
  FROM embeddings c, qv q WHERE c.vec_id >= 8
),
ranked AS (
  SELECT query_id, vec_id, round(raw_cos, 5) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY raw_cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5"""

    # --- ann_ivf_fixed: full IVF re-derivation (take_centroids codebook) ---
    def _dot(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip({a}, {b}), "
            "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (u, v) -> u + v)"
        )

    def _l2(a: str) -> str:
        return (
            "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            "), (u, v) -> u + v))"
        )

    def _cos(a: str, b: str) -> str:
        # same arg order as similarity.cosine: dot(a,b) / (l2(a) * l2(b))
        return f"{_dot(a, b)} / ({_l2(a)} * {_l2(b)})"

    # Probe tie rule mirrors Spark's reverse(array_sort(struct(s, i))):
    # score DESC then index DESC; bucket assignment mirrors
    # array_position(scores, array_max(scores)): score DESC then index ASC.
    out["ann_ivf_fixed"] = f"""WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cidx, embedding AS cvec
  FROM embeddings WHERE vec_id >= 8 ORDER BY vec_id LIMIT {IVF_FIXED_K}
),
corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
cassign AS (
  SELECT vec_id, embedding, cidx AS bucket FROM (
    SELECT c.vec_id, c.embedding, t.cidx,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY {_cos('c.embedding', 't.cvec')} DESC, t.cidx ASC) AS rn
    FROM corpus c, cents t
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qe, cidx AS bucket FROM (
    SELECT q.query_id, q.qe, t.cidx,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {_cos('q.qe', 't.cvec')} DESC, t.cidx DESC) AS rn
    FROM qv q, cents t
  ) WHERE rn <= {IVF_FIXED_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id, {_cos('a.embedding', 'p.qe')} AS raw_cos
  FROM cassign a JOIN probes p USING (bucket)
),
ranked AS (
  SELECT query_id, vec_id, round(raw_cos, 5) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY raw_cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5"""

    # ann_ivf_invariant: the Spark side returns IVF-vs-independent-recompute
    # disagreements, so the oracle is the EMPTY relation with the same
    # schema -- any violation row fails the driver's row-count compare.
    out["ann_ivf_invariant"] = """SELECT CAST(NULL AS BIGINT) AS query_id,
  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS cos,
  CAST(NULL AS INTEGER) AS rank WHERE 1 = 0"""

    # --- embedding near-dups: injected-dup corpus shared by both queries ---
    emb_corpus = f"""ve AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings WHERE vec_id < {EMB_SUBSET}
),
vdups AS (
  SELECT vec_id + {EMB_DUP_OFFSET} AS vec_id,
         list_transform(list_zip(vec, vec[2:len(vec)] || vec[1:1]),
                        p -> CAST(p[1] AS DOUBLE) + 0.05 * CAST(p[2] AS DOUBLE)) AS vec
  FROM ve
),
vcorpus AS (SELECT * FROM ve UNION ALL SELECT * FROM vdups)"""

    out["cosine_near_dups"] = f"""WITH {emb_corpus}
SELECT id_a, id_b, round(cos, 5) AS cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos('a.vec', 'b.vec')} AS cos
  FROM vcorpus a, vcorpus b WHERE a.vec_id < b.vec_id
) WHERE cos >= {NEARDUP_COS}"""

    # random-hyperplane LSH: same planes/blocking as the Spark operator,
    # re-derived entirely in SQL (sign-bit sketch -> chunk match -> rescore)
    planes = similarity.random_hyperplanes(RP_BITS, EMB_DIM, RP_SEED)
    from blurrily_spark.functions.hashing import chunk_bounds

    def _plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]"

    sig_terms = " + ".join(
        f"(CASE WHEN {_dot('vec', _plane_lit(p))} > 0 "
        f"THEN (CAST(1 AS BIGINT) << {j}) ELSE CAST(0 AS BIGINT) END)"
        for j, p in enumerate(planes)
    )
    chunk_eq = " OR ".join(
        f"((a.sig >> {lo}) & {(1 << (hi - lo)) - 1}) = "
        f"((b.sig >> {lo}) & {(1 << (hi - lo)) - 1})"
        for lo, hi in chunk_bounds(RP_MAX_HAMMING + 1, RP_BITS)
    )
    out["rp_lsh_near_dups"] = f"""WITH {emb_corpus},
vsigs AS (
  SELECT vec_id, vec, CAST({sig_terms} AS BIGINT) AS sig FROM vcorpus
)
SELECT id_a, id_b, round(cos, 5) AS cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos('a.vec', 'b.vec')} AS cos
  FROM vsigs a JOIN vsigs b ON a.vec_id < b.vec_id AND ({chunk_eq})
) WHERE cos >= {NEARDUP_COS}"""

    # semantic_dedup: full SemDeDup re-derivation -- take_centroids codebook,
    # argmax-cosine assignment (tie -> lowest cidx, mirroring Spark's
    # array_position-of-array_max), within-bucket pairs >= threshold, CC via
    # recursive min-label walk, smallest-id keeper painted back.
    out["semantic_dedup"] = f"""WITH RECURSIVE {emb_corpus},
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cidx, vec AS cvec
  FROM vcorpus ORDER BY vec_id LIMIT {SEM_K}
),
cassign AS (
  SELECT vec_id, vec, cidx AS bucket FROM (
    SELECT v.vec_id, v.vec, t.cidx,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos('v.vec', 't.cvec')} DESC, t.cidx ASC) AS rn
    FROM vcorpus v, cents t
  ) WHERE rn = 1
),
edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM cassign a JOIN cassign b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_cos('a.vec', 'b.vec')} >= {NEARDUP_COS}
),
{oracle.cc_walk_ctes('edges')},
comp AS (SELECT node, CAST(min(label) AS BIGINT) AS keep FROM walk GROUP BY node)
SELECT v.vec_id AS id,
       CAST(coalesce(c.keep, v.vec_id) AS BIGINT) AS keep_id,
       CAST(CASE WHEN coalesce(c.keep, v.vec_id) <> v.vec_id THEN 1 ELSE 0 END AS INT) AS is_dup
FROM vcorpus v LEFT JOIN comp c ON c.node = v.vec_id"""

    out["sorted_neighborhood"] = f"""WITH r AS (
  SELECT doc_id, substr(text, 1, {SNM_KEYLEN}) AS snm_key FROM documents
),
rk AS (SELECT doc_id, row_number() OVER (ORDER BY snm_key, doc_id) AS rnk FROM r)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(b.rnk - a.rnk AS INT) AS rank_gap
FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk - a.rnk < {SNM_WINDOW}"""

    # survivorship over resolved entities: reuse the CC oracle's recursive
    # walk, left-join singletons to themselves, then elect per-entity
    # survivors by (length DESC, ref ASC) -- the same total order the Spark
    # min(struct(-len, ref, text)) aggregate encodes
    cc_base = oracle.cc_sql(_SUBSET_SQL, "doc_id", "text", CC_THRESHOLD)
    cc_head, cc_select = cc_base.rsplit("SELECT node AS ref", 1)
    assert cc_select  # the CC oracle's final SELECT is the seam we extend
    out["golden_records"] = f"""{cc_head.rstrip()},
comp AS (
  SELECT node AS ref, CAST(min(label) AS BIGINT) AS entity_id
  FROM walk GROUP BY node
),
members AS (
  SELECT coalesce(c.entity_id, d.doc_id) AS entity_id, d.doc_id AS ref, d.text
  FROM {_SUBSET_SQL} d LEFT JOIN comp c ON c.ref = d.doc_id
),
ranked AS (
  SELECT entity_id, ref, text,
         row_number() OVER (PARTITION BY entity_id ORDER BY length(text) DESC, ref) AS rn,
         count(*) OVER (PARTITION BY entity_id) AS n_members
  FROM members
)
SELECT entity_id, n_members, ref AS canonical_ref,
       CAST(length(text) AS INT) AS canonical_len, text AS canonical_text
FROM ranked WHERE rn = 1"""

    # --- Fellegi-Sunter: per-level weights are the SAME Python floats the
    # Spark plan embeds (repr round-trips doubles exactly), so no
    # transcendental function executes in either engine
    def _fs_case(col: str, vals) -> str:
        # CAST keeps DuckDB in double arithmetic (a bare decimal literal
        # parses as DECIMAL there, where Spark's lit() is a double)
        whens = " ".join(
            f"WHEN {i} THEN CAST({float(v)!r} AS DOUBLE)" for i, v in enumerate(vals)
        )
        return f"CASE {col} {whens} END"

    fs_fields = [FS_JACC, FS_LANG, FS_SOURCE]
    fs_w = " + ".join(_fs_case(f.level_col, f.log2_weights()) for f in fs_fields)
    fs_bm = " * ".join(
        [f"CAST({float(FS_PRIOR)!r} AS DOUBLE)"]
        + [_fs_case(f.level_col, f.m) for f in fs_fields]
    )
    fs_bu = " * ".join(
        [f"CAST({float(1.0 - FS_PRIOR)!r} AS DOUBLE)"]
        + [_fs_case(f.level_col, f.u) for f in fs_fields]
    )
    out["fs_match_weights"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
jr AS (
  SELECT ref_a, ref_b,
         matches / CAST(ta.n_tg + tb.n_tg - matches AS DOUBLE) AS jaccard
  FROM rawpairs JOIN tc ta ON ta.ref = ref_a JOIN tc tb ON tb.ref = ref_b
),
lev AS (
  SELECT ref_a, ref_b,
         CASE WHEN jaccard >= 0.8 THEN 2 WHEN jaccard >= 0.4 THEN 1 ELSE 0 END AS jacc_level,
         CAST(da.lang = db.lang AS INT) AS lang_level,
         CAST(da.source = db.source AS INT) AS source_level
  FROM jr JOIN documents da ON da.doc_id = ref_a JOIN documents db ON db.doc_id = ref_b
)
SELECT ref_a, ref_b, jacc_level, lang_level, source_level,
       round({fs_w}, 6) AS match_weight,
       round(({fs_bm}) / (({fs_bm}) + ({fs_bu})), 6) AS match_probability
FROM lev"""

    out["fs_estimate_mu"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
lab AS (
  SELECT CASE WHEN jaccard >= 0.8 THEN 2 WHEN jaccard >= 0.4 THEN 1 ELSE 0 END AS jacc_level,
         CAST(matches >= {FS_MATCHES_MIN} AS INT) AS matches_level,
         CAST(ref_a % {DUP_OFFSET} = ref_b % {DUP_OFFSET} AS INT) AS y
  FROM (SELECT ref_a, ref_b, matches,
               matches / CAST(ta.n_tg + tb.n_tg - matches AS DOUBLE) AS jaccard
        FROM rawpairs JOIN tc ta ON ta.ref = ref_a JOIN tc tb ON tb.ref = ref_b)
),
tagged AS (
  SELECT 'jacc_level' AS field, jacc_level AS level, y FROM lab
  UNION ALL
  SELECT 'matches_level' AS field, matches_level AS level, y FROM lab
),
counts AS (SELECT field, level, sum(y) AS cm, sum(1 - y) AS cu FROM tagged GROUP BY 1, 2),
uni AS (SELECT field, sum(cm) AS nm, sum(cu) AS nu FROM counts GROUP BY 1),
grid AS (SELECT field, nm, nu, unnest([0, 1, 2]) AS level FROM uni)
SELECT g.field, CAST(g.level AS INT) AS level,
       round((coalesce(cm, 0) + 0.5) / (nm + 0.5 * 3), 6) AS m,
       round((coalesce(cu, 0) + 0.5) / (nu + 0.5 * 3), 6) AS u
FROM grid g LEFT JOIN counts c ON c.field = g.field AND c.level = g.level"""

    # --- cluster_metrics: near-dedup clusters vs the planted truth; the
    # B-cubed numerators are the same overflow-safe scaled-integer sums the
    # Spark side aggregates, so every aggregate is exact integer math
    _ms = METRIC_SCALE
    _prec = "CASE WHEN pred_pairs > 0 THEN tp / pred_pairs ELSE 0.0 END"
    _rec = "CASE WHEN true_pairs > 0 THEN tp / true_pairs ELSE 0.0 END"
    _bp = f"CAST(bp AS DOUBLE) / {float(_ms)!r} / n_items"
    _br = f"CAST(br AS DOUBLE) / {float(_ms)!r} / n_items"

    def _f1_sql(p: str, r: str) -> str:
        return (
            f"CASE WHEN ({p}) + ({r}) > 0 "
            f"THEN 2.0 * ({p}) * ({r}) / (({p}) + ({r})) ELSE 0.0 END"
        )

    out["cluster_metrics"] = f"""WITH RECURSIVE {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.minhash_ctes('hay', MINHASH_PARAMS)},
cand AS ({oracle.lsh_pairs_sql('hay', num_hashes=32, bands=8)}),
edges AS (SELECT id_a AS src, id_b AS dst FROM cand WHERE est_jaccard >= {NEARDUP_EST_J}),
{oracle.cc_walk_ctes('edges')},
comp AS (SELECT node, CAST(min(label) AS BIGINT) AS keep FROM walk GROUP BY node),
assign AS (
  SELECT CAST(coalesce(c.keep, n.ref) AS BIGINT) AS p, n.ref % {DUP_OFFSET} AS t
  FROM hay_norm n LEFT JOIN comp c ON c.node = n.ref
),
cells AS (SELECT p, t, count(*) AS n FROM assign GROUP BY 1, 2),
psz AS (SELECT p, sum(n) AS np FROM cells GROUP BY 1),
tsz AS (SELECT t, sum(n) AS nt FROM cells GROUP BY 1),
core AS (
  SELECT sum(n) AS n_items,
         sum((n * (n - 1)) // 2) AS tp,
         sum((n * n // np) * {_ms} + ((n * n % np) * {_ms}) // np) AS bp,
         sum((n * n // nt) * {_ms} + ((n * n % nt) * {_ms}) // nt) AS br
  FROM cells JOIN psz USING (p) JOIN tsz USING (t)
),
agg AS (
  SELECT n_items, tp, bp, br,
         (SELECT sum((np * (np - 1)) // 2) FROM psz) AS pred_pairs,
         (SELECT sum((nt * (nt - 1)) // 2) FROM tsz) AS true_pairs
  FROM core
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(tp AS BIGINT) AS tp_pairs,
       CAST(pred_pairs AS BIGINT) AS pred_pairs,
       CAST(true_pairs AS BIGINT) AS true_pairs,
       round({_prec}, 6) AS pairwise_precision,
       round({_rec}, 6) AS pairwise_recall,
       round({_f1_sql(_prec, _rec)}, 6) AS pairwise_f1,
       round({_bp}, 6) AS bcubed_precision,
       round({_br}, 6) AS bcubed_recall,
       round({_f1_sql(_bp, _br)}, 6) AS bcubed_f1
FROM agg"""

    # incremental delta folding provably equals the full recompute, so the
    # full-recompute SQL IS its oracle
    out["incremental_entities"] = oracle.cc_sql(
        _SUBSET_SQL, "doc_id", "text", CC_THRESHOLD
    )

    # --- meta_blocking: union-WNP pruning of the CBS-weighted candidate
    # graph; node means compared as w*cnt >= sum_w so everything is exact
    # integer math in both engines
    out["meta_blocking"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
nstats AS (
  SELECT node, sum(w) AS sum_w, count(*) AS cnt FROM (
    SELECT ref_a AS node, matches AS w FROM rawpairs
    UNION ALL
    SELECT ref_b AS node, matches AS w FROM rawpairs
  ) GROUP BY node
)
SELECT p.ref_a, p.ref_b, p.matches
FROM rawpairs p
JOIN nstats sa ON sa.node = p.ref_a
JOIN nstats sb ON sb.node = p.ref_b
WHERE p.matches * sa.cnt >= sa.sum_w OR p.matches * sb.cnt >= sb.sum_w"""

    # --- blocking_metrics: RR / PC / PQ of trigram blocking against the
    # planted-dup truth; counts reduce over truth cluster sizes, the only
    # floats are the final divisions
    _pc = "CASE WHEN true_matches > 0 THEN tp_candidates / true_matches ELSE 0.0 END"
    _pq = "CASE WHEN n_candidates > 0 THEN tp_candidates / n_candidates ELSE 0.0 END"
    out["blocking_metrics"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
truth AS (SELECT ref AS id, ref % {DUP_OFFSET} AS t FROM hay_norm),
sizes AS (SELECT t, count(*) AS c FROM truth GROUP BY t),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_items,
         CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS true_matches
  FROM sizes
),
cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN ta.t = tb.t THEN 1 ELSE 0 END) AS BIGINT) AS tp_candidates
  FROM rawpairs JOIN truth ta ON ta.id = ref_a JOIN truth tb ON tb.id = ref_b
),
agg AS (
  SELECT *, CAST((n_items * (n_items - 1)) // 2 AS BIGINT) AS total_pairs
  FROM tot CROSS JOIN cstats
)
SELECT n_items, total_pairs, true_matches, n_candidates, tp_candidates,
       round(CASE WHEN total_pairs > 0 THEN 1.0 - n_candidates / total_pairs ELSE 0.0 END, 6) AS reduction_ratio,
       round({_pc}, 6) AS pairs_completeness,
       round({_pq}, 6) AS pairs_quality,
       round({_f1_sql(_pc, _pq)}, 6) AS pq_pc_f1
FROM agg"""

    # --- block_filtering: each record keeps its ceil(0.6 * |blocks|)
    # smallest blocks (df asc, trigram asc -- a total order per record),
    # then pairs are generated from the filtered postings
    out["block_filtering"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
bsz AS (SELECT trigram, count(*) AS df FROM hay_tg GROUP BY trigram),
rk AS (
  SELECT t.ref, t.trigram,
         row_number() OVER (PARTITION BY t.ref ORDER BY b.df, t.trigram) AS rn,
         count(*) OVER (PARTITION BY t.ref) AS cnt
  FROM hay_tg t JOIN bsz b USING (trigram)
),
filt AS (SELECT ref, trigram FROM rk WHERE rn <= CAST(ceil(0.6 * cnt) AS BIGINT))
SELECT a.ref AS ref_a, b.ref AS ref_b, count(*) AS matches
FROM filt a JOIN filt b ON a.trigram = b.trigram AND a.ref < b.ref
GROUP BY 1, 2"""

    # --- token_blocking: pairs sharing >= 2 distinct normalized tokens,
    # stopword blocks purged at df > TOKEN_BLOCK_MAX_DF
    out["token_blocking"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
ws AS (SELECT ref, string_split(norm, ' ') AS w FROM hay_norm),
tok AS (SELECT DISTINCT ref, unnest(w) AS token FROM ws),
tk AS (SELECT ref, token FROM tok WHERE token <> ''),
keep AS (SELECT token FROM tk GROUP BY token HAVING count(*) <= {TOKEN_BLOCK_MAX_DF}),
ft AS (SELECT tk.ref, tk.token FROM tk JOIN keep USING (token))
SELECT a.ref AS ref_a, b.ref AS ref_b, CAST(count(*) AS BIGINT) AS matches
FROM ft a JOIN ft b ON a.token = b.token AND a.ref < b.ref
GROUP BY 1, 2
HAVING count(*) >= 3"""




    # --- idf_cosine_pairs: rational RSJ idf scaled to int64 (floor(w*1e6
    # + 0.5)); all sums integer, the only float is the final division
    out["idf_cosine_pairs"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
nn AS (SELECT count(DISTINCT ref) AS n FROM hay_tg),
wdf AS (
  SELECT trigram,
         CAST(floor((n - df + 0.5) / (df + 0.5) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM (SELECT trigram, count(*) AS df FROM hay_tg GROUP BY trigram)
  CROSS JOIN nn
),
pw AS (SELECT t.ref, t.trigram, w.w FROM hay_tg t JOIN wdf w USING (trigram)),
wsums AS (SELECT ref, CAST(sum(w) AS BIGINT) AS wsum FROM pw GROUP BY ref),
dots AS (
  SELECT a.ref AS ref_a, b.ref AS ref_b,
         CAST(count(*) AS BIGINT) AS matches, CAST(sum(a.w) AS BIGINT) AS dot
  FROM pw a JOIN pw b ON a.trigram = b.trigram AND a.ref < b.ref
  GROUP BY 1, 2
)
SELECT d.ref_a, d.ref_b, d.matches,
       round(d.dot / sqrt(CAST(wa.wsum AS DOUBLE) * CAST(wb.wsum AS DOUBLE)), 6) AS idf_cos
FROM dots d
JOIN wsums wa ON wa.ref = d.ref_a
JOIN wsums wb ON wb.ref = d.ref_b"""

    # --- set_similarity: jaccard / dice / overlap / cosine from the same
    # (m, a, b) counts; sqrt of an int product is deterministic IEEE
    out["set_similarity"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')}
SELECT ref_a, ref_b, matches,
       round(matches / CAST(ta.n_tg + tb.n_tg - matches AS DOUBLE), 6) AS jaccard,
       round(2.0 * matches / CAST(ta.n_tg + tb.n_tg AS DOUBLE), 6) AS dice,
       round(matches / CAST(least(ta.n_tg, tb.n_tg) AS DOUBLE), 6) AS "overlap",
       round(matches / sqrt(CAST(ta.n_tg * tb.n_tg AS DOUBLE)), 6) AS cosine
FROM rawpairs
JOIN tc ta ON ta.ref = ref_a
JOIN tc tb ON tb.ref = ref_b"""

    # --- multipass_blocking: union of the trigram and token passes with
    # sorted provenance; aggregation mirrors the Spark collect_set+sort
    out["multipass_blocking"] = f"""WITH {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
ws AS (SELECT ref, string_split(norm, ' ') AS w FROM hay_norm),
tok AS (SELECT DISTINCT ref, unnest(w) AS token FROM ws),
tk AS (SELECT ref, token FROM tok WHERE token <> ''),
keep AS (SELECT token FROM tk GROUP BY token HAVING count(*) <= {TOKEN_BLOCK_MAX_DF}),
ft AS (SELECT tk.ref, tk.token FROM tk JOIN keep USING (token)),
tokpairs AS (
  SELECT a.ref AS ref_a, b.ref AS ref_b
  FROM ft a JOIN ft b ON a.token = b.token AND a.ref < b.ref
  GROUP BY 1, 2 HAVING count(*) >= 3
),
cand AS (
  SELECT ref_a, ref_b, 'trigram' AS scheme FROM rawpairs
  UNION ALL
  SELECT ref_a, ref_b, 'token' AS scheme FROM tokpairs
)
SELECT ref_a, ref_b,
       array_to_string(list_sort(list(DISTINCT scheme)), ',') AS schemes,
       CAST(count(DISTINCT scheme) AS INTEGER) AS n_schemes
FROM cand GROUP BY 1, 2"""

    # --- edit_distance_join: trigram candidates + length-gap prefilter +
    # exact levenshtein <= EDIT_MAX; both engines' levenshtein is the
    # standard unit-cost edit distance, so counts are integer-exact
    out["edit_distance_join"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')}
SELECT p.ref_a, p.ref_b,
       CAST(levenshtein(na.norm, nb.norm) AS INTEGER) AS edit_dist
FROM rawpairs p
JOIN hay_norm na ON na.ref = p.ref_a
JOIN hay_norm nb ON nb.ref = p.ref_b
WHERE abs(length(na.norm) - length(nb.norm)) <= {EDIT_MAX}
  AND levenshtein(na.norm, nb.norm) <= {EDIT_MAX}"""

    # --- threshold_sweep: P/R/F1 of `jaccard >= t` per threshold vs the
    # planted-dup truth; integer conditional sums, floats only in the final
    # divisions (jaccard pre-rounded to 6 on both engines, as in match_edges)
    _sw_prec = "CASE WHEN kept_pairs > 0 THEN tp / kept_pairs ELSE 0.0 END"
    _sw_rec = "CASE WHEN true_matches > 0 THEN tp / true_matches ELSE 0.0 END"
    _sw_list = ", ".join(repr(t) for t in SWEEP_THRESHOLDS)
    out["threshold_sweep"] = f"""WITH {oracle.norm_cte('hay', dup_corpus, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
truth AS (SELECT ref AS id, ref % {DUP_OFFSET} AS t FROM hay_norm),
tot AS (
  SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS true_matches
  FROM (SELECT count(*) AS c FROM truth GROUP BY t)
),
lab AS (
  SELECT p.jaccard AS s, CASE WHEN ta.t = tb.t THEN 1 ELSE 0 END AS m
  FROM pairs p JOIN truth ta ON ta.id = p.ref_a JOIN truth tb ON tb.id = p.ref_b
),
th AS (SELECT unnest([{_sw_list}]) AS threshold),
agg AS (
  SELECT threshold,
         CAST(coalesce(sum(CASE WHEN s >= threshold THEN 1 END), 0) AS BIGINT) AS kept_pairs,
         CAST(coalesce(sum(CASE WHEN s >= threshold THEN m END), 0) AS BIGINT) AS tp
  FROM th LEFT JOIN lab ON TRUE
  GROUP BY threshold
)
SELECT CAST(threshold AS DOUBLE) AS threshold, kept_pairs, tp,
       kept_pairs - tp AS fp, true_matches - tp AS fn,
       round({_sw_prec}, 6) AS "precision",
       round({_sw_rec}, 6) AS recall,
       round({_f1_sql(_sw_prec, _sw_rec)}, 6) AS f1
FROM agg CROSS JOIN tot"""

    # --- cluster_stats: per-entity size / internal edges / density over
    # the same thresholded match-edge graph the CC oracle walks
    out["cluster_stats"] = f"""WITH RECURSIVE {oracle.norm_cte('hay', _SUBSET_SQL, 'doc_id', 'text')},
{oracle.trigram_ctes('hay')},
{oracle.pairs_ctes('hay')},
edges AS (
  SELECT ref_a AS src, ref_b AS dst FROM pairs WHERE jaccard >= {CC_THRESHOLD}
),
{oracle.cc_walk_ctes('edges')},
assign AS (
  SELECT node AS ref, CAST(min(label) AS BIGINT) AS entity_id
  FROM walk GROUP BY node
),
sizes AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS size FROM assign GROUP BY 1),
ec AS (
  SELECT a1.entity_id, CAST(count(*) AS BIGINT) AS n_edges
  FROM edges e
  JOIN assign a1 ON a1.ref = e.src
  JOIN assign a2 ON a2.ref = e.dst
  WHERE a1.entity_id = a2.entity_id
  GROUP BY 1
)
SELECT s.entity_id, s.size, coalesce(ec.n_edges, CAST(0 AS BIGINT)) AS n_edges,
       round(CASE WHEN s.size > 1
             THEN coalesce(ec.n_edges, 0) / (s.size * (s.size - 1) / 2.0)
             ELSE 0.0 END, 6) AS density
FROM sizes s LEFT JOIN ec ON ec.entity_id = s.entity_id"""

    sess = f"""sess AS (
  SELECT event_id, user_id, event_type, value, us, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
         CAST(sum(new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS INT) AS session_seq
  FROM (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new
    FROM (SELECT event_id, user_id, event_type, value, ts, epoch_us(ts) AS us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
  )
)"""
    out["sessionize"] = f"""WITH {sess}
SELECT event_id, user_id, session_seq FROM sess"""

    out["session_stats"] = f"""WITH {sess}
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts_s) AS session_start,
       max(ts_s) AS session_end,
       (max(us) - min(us)) / 1000000.0 AS duration_s,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT event_type) AS n_event_types
FROM sess GROUP BY 1, 2"""

    out["events_window_agg"] = """SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  count(*) AS n,
  round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2"""

    return out
