"""ANN quality gates: IVF recall at the shipped settings, codebook
assignment equivalence (literal vs DataFrame), subset-of-brute-force."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from blurrily_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"
# shipped ANN settings (__spark_entry__.q_ann_ivf; KMEANS_K = 16 centroids)
ANN_NPROBE, ANN_ITERS = 11, 4


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()
    df.count()
    yield df
    df.unpersist()


def _split(emb):
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb.where(F.col("vec_id") >= 8), q


def test_ivf_recall_at_shipped_params(spark, emb):
    """The driver's ann_ivf_topk settings must deliver recall@5 >= 0.9.

    This corpus is near-isotropic (within-label mean cosine ~0.02), so 0.9
    recall honestly costs probing ~11/16 of the buckets; clustered corpora
    prune much deeper at equal recall. The point of the gate is that the
    shipped settings never silently regress below the documented floor.
    """
    corpus, q = _split(emb)
    bf = {(r["query_id"], r["vec_id"])
          for r in similarity.cosine_topk(corpus, q).collect()}
    cents = similarity.kmeans_centroids(corpus, iterations=ANN_ITERS)
    got = {(r["query_id"], r["vec_id"])
           for r in similarity.ivf_topk(corpus, q, cents, nprobe=ANN_NPROBE).collect()}
    recall = len(got & bf) / len(bf)
    assert recall >= 0.9, f"recall {recall}"


def test_ivf_results_subset_of_probed_brute_force(spark, emb):
    """IVF invariant: every returned neighbor is a true brute-force top
    candidate *within the probed buckets* (exactness inside the probe set),
    and cos values match the exact scorer."""
    corpus, q = _split(emb)
    cents = similarity.take_centroids(corpus, 8)
    ivf = similarity.ivf_topk(corpus, q, cents, nprobe=8)  # probe all
    bf = similarity.cosine_topk(corpus, q)
    a = {(r["query_id"], r["vec_id"], round(r["cos"], 9), r["rank"]) for r in ivf.collect()}
    b = {(r["query_id"], r["vec_id"], round(r["cos"], 9), r["rank"]) for r in bf.collect()}
    assert a == b  # nprobe = k buckets => IVF degenerates to brute force


def test_assign_buckets_df_matches_literal(spark, emb):
    corpus, _ = _split(emb)
    cents = similarity.take_centroids(corpus, 8)
    lit = similarity.assign_buckets(corpus, cents)
    cents_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "bucket int, cvec array<double>"
    )
    viadf = similarity.assign_buckets_df(corpus, cents_df)
    assert viadf.columns == lit.columns  # one output schema, staged _n included
    got_a = {(r["vec_id"], r["bucket"], r["_n"]) for r in lit.collect()}
    got_b = {(r["vec_id"], r["bucket"], r["_n"]) for r in viadf.collect()}
    assert got_a == got_b


def test_rp_lsh_subset_of_brute_with_high_recall(spark):
    """RP-LSH near-dups: exact precision (cosine rescore) and measured
    recall vs the brute-force baseline on the injected-dup corpus."""
    import __spark_entry__ as em

    brute = {
        (r["id_a"], r["id_b"]) for r in em.q_cosine_near_dups(spark, SF_DIR).collect()
    }
    rp = {
        (r["id_a"], r["id_b"]) for r in em.q_rp_lsh_near_dups(spark, SF_DIR).collect()
    }
    assert rp <= brute  # precision exact by construction
    assert brute, "dup injection must produce qualifying pairs"
    recall = len(rp & brute) / len(brute)
    assert recall >= 0.95, f"recall {recall}"


def test_rp_lsh_nested_vector_field_equals_top_level(spark):
    """The generated-SQL sketch path resolves a dotted name the way
    ``F.col`` does: a vector nested as ``payload.embedding`` gives the same
    near-dup pairs as the same vectors in a top-level column."""
    import __spark_entry__ as em

    flat = em._emb_with_dups(spark, SF_DIR)
    nested = flat.select(
        "vec_id", F.struct(F.col("vec").alias("embedding")).alias("payload")
    )

    def pairs(df, vec_col):
        out = similarity.rp_lsh_near_dup_pairs(df, dim=em.EMB_DIM, vec_col=vec_col)
        return sorted(tuple(r) for r in out.collect())

    want = pairs(flat, "vec")
    assert want, "dup injection must produce qualifying pairs"
    assert pairs(nested, "payload.embedding") == want


def test_maxmin_seeding_deterministic(spark, emb):
    corpus, _ = _split(emb)
    a = similarity.maxmin_centroids(corpus)
    b = similarity.maxmin_centroids(corpus)
    assert a == b
    k = similarity.KMEANS_K
    assert len(a) == k and len(set(map(tuple, a))) == k  # distinct seeds


def test_maxmin_sampled_seeding_deterministic_and_recall(spark, emb, monkeypatch):
    """Sample-first seeding: forcing the hash-sample path (tiny
    MAXMIN_SEED_SCAN) must stay deterministic across invocations and keep the
    shipped recall gate -- seeding quality, not seeding coverage, drives
    codebook quality (the Lloyd iterations stay full-corpus)."""
    import __spark_entry__ as em
    from blurrily_spark.operators import similarity

    corpus = emb.where(F.col("vec_id") >= 8)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    monkeypatch.setattr(similarity, "MAXMIN_SEED_SCAN", 50)
    seeds1 = similarity.maxmin_centroids(corpus)
    seeds2 = similarity.maxmin_centroids(corpus)
    assert seeds1 == seeds2  # hash-sample is partitioning-independent

    # full kmeans (shipped iteration count) with the sampled seeding still
    # meets the recall gate
    cents = seeds1
    for _ in range(em.ANN_ITERS):
        assigned = similarity.assign_buckets(corpus, cents)
        means = (
            assigned.select("bucket", F.posexplode("_v").alias("dim", "val"))
            .groupBy("bucket", "dim").agg(F.avg("val").alias("m")).collect()
        )
        by_b = {}
        for r in means:
            by_b.setdefault(r["bucket"], {})[r["dim"]] = r["m"]
        cents = [
            [by_b[b][i] for i in range(len(old))] if b in by_b else old
            for b, old in enumerate(cents)
        ]
    bf = {(r["query_id"], r["vec_id"])
          for r in similarity.cosine_topk(corpus, q).collect()}
    got = {(r["query_id"], r["vec_id"])
           for r in similarity.ivf_topk(corpus, q, cents, nprobe=em.ANN_NPROBE).collect()}
    assert len(got & bf) / len(bf) >= 0.9


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------

SEM_CORPUS = [
    # cluster A (centroid [1,0,0,0]): 1 ~ 2 near-identical, 3 same bucket
    # but below threshold to both
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.999, 0.02, 0.0, 0.0]),
    (3, [0.8, 0.6, 0.0, 0.0]),
    # cluster B (centroid [0,1,0,0]): 10 ~ 11 near-identical
    (10, [0.0, 1.0, 0.0, 0.0]),
    (11, [0.02, 0.999, 0.0, 0.0]),
]
SEM_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


def _sem_df(spark):
    return spark.createDataFrame(
        SEM_CORPUS, "vec_id long, embedding array<double>"
    )


def test_semantic_dedup_planted_groups_min_id(spark):
    out = similarity.semantic_dedup(_sem_df(spark), SEM_CENTS)
    got = {r["id"]: (r["keep_id"], r["is_dup"]) for r in out.collect()}
    assert got == {
        1: (1, 0),
        2: (1, 1),
        3: (3, 0),  # same bucket as 1/2 but cos < threshold -> singleton
        10: (10, 0),
        11: (10, 1),
    }


def test_rp_lsh_refuses_signatures_past_62_bits(spark):
    # the sketch of rp_lsh_near_dup_pairs; a ValueError, not an assert, so
    # python -O cannot skip the check
    with pytest.raises(ValueError, match="planes: at most 62 fit a BIGINT signature, got 63"):
        similarity.rp_signature("embedding", [[1.0, 0.0]] * 63)


@pytest.mark.parametrize("max_hamming", [-1, 32])
def test_rp_lsh_refuses_max_hamming_outside_the_signature(spark, max_hamming):
    # the chunker of rp_lsh_near_dup_pairs, at the signature's RP_BITS:
    # the error names the keyword and the signature's bit range
    from blurrily_spark.functions.hashing import hamming_chunks

    with pytest.raises(ValueError, match=rf"max_hamming must be in \[0, 32\), got {max_hamming}"):
        hamming_chunks(F.col("sig"), max_hamming, similarity.RP_BITS)


def test_semantic_dedup_refuses_non_integral_ids(spark):
    """Ids 1.2 and 1.7 would both be cast to keeper id 1 and merged; the
    operator refuses them as near_dedup does."""
    df = spark.createDataFrame(
        [(1.2, [1.0, 0.0, 0.0, 0.0]), (1.7, [0.0, 1.0, 0.0, 0.0])],
        "vec_id double, embedding array<double>",
    )
    with pytest.raises(ValueError, match="semantic_dedup requires an integral 'vec_id'"):
        similarity.semantic_dedup(df, SEM_CENTS)


def test_semantic_dedup_single_cluster_matches_brute_cc(spark, emb):
    """k=1 degenerates to all-pairs-within-one-cluster: the result must
    equal a Python union-find over the brute-force qualifying pairs."""
    base = emb.where(F.col("vec_id") < 30).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    v = F.col("vec")
    shifted = F.concat(F.slice(v, 2, F.size(v) - 1), F.slice(v, 1, 1))
    dup = F.zip_with(v, shifted, lambda a, b: a + F.lit(0.05) * b)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 1000).alias("vec_id"), dup.alias("vec"))
    )
    cents = similarity.take_centroids(corpus, 1, vec_col="vec")
    out = similarity.semantic_dedup(corpus, cents, vec_col="vec")

    pairs = similarity.cosine_near_dup_pairs(corpus, vec_col="vec").collect()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = [r["vec_id"] for r in corpus.select("vec_id").collect()]
    expected = {i: min(find(i), i) if i in parent else i for i in ids}
    got = {r["id"]: r["keep_id"] for r in out.collect()}
    assert got == expected
    # every injected dup must actually be flagged (cos ~ 0.9987 >> 0.95)
    flagged = {r["id"] for r in out.collect() if r["is_dup"] == 1}
    assert len(flagged) >= 30


def test_semantic_dedup_plan_has_no_cartesian(spark):
    """The within-cluster pair join must be an equi-join on bucket -- a
    cartesian product over the corpus would be the SemDeDup scale bug."""
    out = similarity.semantic_dedup(_sem_df(spark), SEM_CENTS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
