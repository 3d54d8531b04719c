"""Embedding similarity search: brute-force cosine top-k + IVF scale path.

Over an ``array<float>`` embedding column. The dot product is a pure SQL
fold (``aggregate(zip_with(...))``) -- JVM-side, deterministic
left-to-right accumulation, no Python in the hot path.

* :func:`cosine_topk`   -- exact brute force: broadcast the query vectors,
  score every corpus row, per-query window top-k. The correctness baseline.
* :func:`ivf_topk`      -- IVF-style ANN: corpus is bucketed by nearest
  coarse centroid; queries probe only ``nprobe`` nearest buckets, cutting
  scored candidates by ~n_centroids/nprobe. Same scoring expression, so
  results are a subset of brute force (exact within probed buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import spread_small_input
from blurrily_spark.operators.pairs import self_join_pairs


def dot(a, b):
    """Ordered-fold dot product of two array<numeric> columns, as double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _py_l2_norm(vec) -> float:
    """Driver-side twin of :func:`l2_norm`: strictly sequential
    left-to-right double accumulation, so the result is bit-identical to
    the JVM fold (both are correctly-rounded IEEE-754 ops in the same
    order; whole-stage codegen does not reassociate the sum)."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _dlit(x) -> str:
    """SQL text of one exact double literal. ``repr(float)`` round-trips
    finite doubles exactly and SQL decimal/scientific literals cast to the
    nearest double, so the value is bit-identical to ``F.lit(float(x))``;
    non-finite values (possible in dirty embeddings picked up as centroid
    seeds) take the string-cast spelling instead of generating an
    unparseable bare ``nan``/``inf`` token."""
    import math

    v = float(x)
    if math.isfinite(v):
        return f"CAST({v!r} AS DOUBLE)"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"


def _quote_name(col_name: str) -> str:
    """SQL identifier for the column ``F.col(col_name)`` names: each
    dot-separated part backticked, embedded backticks doubled, so a nested
    field (``payload.embedding``) stays a field reference."""
    return ".".join("`%s`" % part.replace("`", "``") for part in col_name.split("."))


def _dot_sql(col_name: str, vec) -> str:
    """SQL text of ``dot(col, literal vec)`` -- the same ordered
    zip_with/aggregate fold as :func:`dot` (identical casts, double 0.0
    init, left-to-right accumulation), emitted as a string so an unrolled
    k-centroid score array costs ONE py4j call instead of ~10 per
    centroid."""
    arr = "array(%s)" % ", ".join(_dlit(x) for x in vec)
    return (
        f"aggregate(zip_with({_quote_name(col_name)}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _lit_mat(vecs):
    """Literal ``array<array<double>>`` built in ONE ``F.expr`` py4j call
    instead of one ``F.lit`` round-trip per element (a 64-dim codebook of
    16 centroids otherwise costs ~1000 driver round-trips per operator
    call); element-exact per :func:`_dlit`."""
    inner = ", ".join(
        "array(%s)" % ", ".join(_dlit(x) for x in v)
        for v in vecs
    )
    return F.expr(f"array({inner})")


def _pair_cos():
    """:func:`_cos_pre` over a pair's carried ``_v`` and ``_n`` columns."""
    return _cos_pre(F.col("_v_a"), F.col("_v_b"), F.col("_n_a"), F.col("_n_b"))


def _cos_pre(a, b, na, nb):
    """``cosine(a, b)`` with both row norms already materialized as
    columns: ``dot/(na*nb)`` is the same expression tree in the same
    order as ``dot/(l2_norm(a)*l2_norm(b))`` -- bit-identical output --
    but each norm is computed once per ROW instead of once per PAIR,
    cutting ~2/3 of the per-pair fold work (guide §1.2: per-task work)."""
    return dot(a, b) / (na * nb)


TOPK = 5  # rows per query of cosine_topk and ivf_topk
KMEANS_K = 16  # centroids of the k-means codebook
NEAR_DUP_COSINE = 0.95  # cosine at which two embeddings are near-duplicates
# random-hyperplane LSH: signature bits, the Hamming radius its chunk
# blocking is lossless for, and the hyperplanes' seed
RP_BITS, RP_MAX_HAMMING, RP_SEED = 32, 6, 11


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-5 (:data:`TOPK`) by cosine: (query_id, vec_id, cos, rank).

    The query side is broadcast (ANN query batches are dimension-sized);
    ties broken by vec_id ASC for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
            l2_norm(F.col(query_vec_col)).alias("_qn"),
        )
    )
    scored = spread_small_input(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).crossJoin(q).select(
        "query_id",
        "vec_id",
        _cos_pre(F.col("_v"), F.col("_qv"), F.col("_n"), F.col("_qn")).alias("cos"),
    )
    win = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "vec_id", "cos", "rank")
    )


def assign_buckets(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: nearest centroid by cosine.

    ``centroids`` is a small driver-side list (the coarse codebook --
    at scale it comes out of a sampled k-means; here any deterministic
    sample works). Shipped as a literal array-of-arrays, evaluated JVM-side.
    """
    # Per-centroid scores as an UNROLLED array over a staged row norm: the
    # old transform() over a literal centroid array recomputed l2_norm(vec)
    # once per centroid and l2_norm(c) once per (row, centroid); here the
    # row norm is one staged column (multi-referenced, so CollapseProject
    # cannot re-inline it -- the add_trigrams staging argument) and each
    # centroid norm is a Python-computed literal (bit-identical to the JVM
    # fold: same IEEE ops in the same order, see _py_l2_norm). Same scores,
    # same bucket, ~2x less fold work per row.
    pre = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_nv"),
    )
    scores = F.expr(
        "array(%s)"
        % ", ".join(
            f"{_dot_sql('_v', c)} / (_nv * {_dlit(_py_l2_norm(c))})"
            for c in centroids
        )
    )
    bucket = F.array_position(scores, F.array_max(scores)) - 1
    # the staged row norm rides along as _n so consumers scoring pairs
    # (semantic_dedup) or probes (ivf_topk) need not re-fold it per row
    return pre.select(
        "vec_id",
        "_v",
        bucket.cast("int").alias("bucket"),
        F.col("_nv").alias("_n"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN top-5 (:data:`TOPK`) probing the nprobe nearest centroid buckets
    per query.

    The corpus is bucketed by its nearest centroid and joins the
    broadcast query probes on bucket id, so each query scores only the
    vectors of its ``nprobe`` buckets.
    """
    bucketed = assign_buckets(spread_small_input(corpus), centroids, id_col, vec_col)

    cents = _lit_mat(centroids)
    qscores = F.transform(cents, lambda c: cosine(F.col("_qv"), c))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
        l2_norm(F.col(query_vec_col)).alias("_qn"),
        qscores.alias("_cs"),
    )
    # nprobe nearest buckets: rank centroid scores, keep top nprobe indices
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    ranked = F.reverse(F.array_sort(F.zip_with(F.col("_cs"), idx, lambda s, i: F.struct(s.alias("s"), i.alias("i")))))
    probes = F.transform(F.slice(ranked, 1, nprobe), lambda p: p["i"])
    q = q.select("query_id", "_qv", "_qn", F.explode(probes).alias("bucket"))

    joined = bucketed.join(F.broadcast(q), "bucket")
    scored = joined.select(
        "query_id",
        "vec_id",
        _cos_pre(F.col("_v"), F.col("_qv"), F.col("_n"), F.col("_qn")).alias("cos"),
    )
    win = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "vec_id", "cos", "rank")
    )


def assign_buckets_df(
    corpus: DataFrame,
    cents_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantization against a *DataFrame* codebook (bucket, cvec).

    The scale path when the codebook is too large to ship as a plan literal
    (e.g. k = 4096 IVF lists): broadcast-join corpus x codebook, score, and
    keep the per-vector argmax via a window. Same tie rule and the same
    output columns as :func:`assign_buckets` (max cosine, then lowest
    bucket id; ``vec_id, _v, bucket, _n``).
    """
    scored = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")
    ).crossJoin(F.broadcast(cents_df.select("bucket", "cvec"))).select(
        "vec_id", "_v", "bucket", cosine(F.col("_v"), F.col("cvec")).alias("_s")
    )
    win = Window.partitionBy("vec_id").orderBy(F.col("_s").desc(), F.col("bucket").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .select(
            "vec_id",
            "_v",
            F.col("bucket").cast("int").alias("bucket"),
            l2_norm(F.col("_v")).alias("_n"),
        )
    )


# maxmin_centroids scans a hash-sample of about this many vectors
MAXMIN_SEED_SCAN = 100_000


def maxmin_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic :data:`KMEANS_K` farthest-first (maxmin) seeds: start from the
    lowest-id vector, then repeatedly take the vector with the smallest
    maximum cosine to any chosen seed (ties -> lowest id). The k-means++
    idea without its randomness, so both scaling runs and the test oracle
    share a codebook. k driver-side jobs of one distributed argmin each.

    Seeding quality does not need the full corpus, and k full scans would
    dominate codebook training at 100 TB: when the corpus exceeds
    ``MAXMIN_SEED_SCAN`` rows, the k argmin scans run over a deterministic
    hash-sample of ~MAXMIN_SEED_SCAN vectors (``pmod(xxhash64(id), m) = 0`` --
    partitioning-independent, so every run and parallelism level draws the
    SAME sample, unlike ``DataFrame.sample``). Lloyd iterations in
    :func:`kmeans_centroids` (the quality driver) stay full-corpus.
    """
    n = corpus.count()
    if n > MAXMIN_SEED_SCAN:
        m = n // MAXMIN_SEED_SCAN + 1
        corpus = corpus.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
    first = (
        corpus.orderBy(F.col(id_col).asc()).limit(1).select(vec_col).collect()[0][0]
    )
    cents = [list(map(float, first))]
    for _ in range(KMEANS_K - 1):
        lits = _lit_mat(cents)
        near = F.array_max(F.transform(lits, lambda c: cosine(F.col(vec_col), c)))
        row = (
            corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), near.alias("_near"))
            .orderBy(F.col("_near").asc(), F.col("_id").asc())
            .limit(1)
            .collect()[0]
        )
        cents.append(list(map(float, row["_v"])))
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd-iteration coarse codebook of :data:`KMEANS_K` centroids
    (cosine assignment, mean update).

    Fully distributed per iteration: assign (JVM cosine) -> posexplode ->
    groupBy(bucket, dim) mean -> collect k*dim floats to the driver (the
    codebook is dimension-sized by construction). Deterministic: seeds are
    farthest-first from the lowest-id vector (:func:`maxmin_centroids`).
    Empty buckets keep their previous centroid.
    """
    cents = maxmin_centroids(corpus, id_col, vec_col)
    for _ in range(iterations):
        assigned = assign_buckets(corpus, cents, id_col, vec_col)
        means = (
            assigned.select("bucket", F.posexplode("_v").alias("dim", "val"))
            .groupBy("bucket", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_bucket: dict[int, dict[int, float]] = {}
        for r in means:
            by_bucket.setdefault(r["bucket"], {})[r["dim"]] = r["m"]
        new_cents = []
        for b, old in enumerate(cents):
            dims = by_bucket.get(b)
            if dims:
                new_cents.append([dims[i] for i in range(len(old))])
            else:
                new_cents.append(old)
        cents = new_cents
    return cents


def cosine_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (:data:`NEAR_DUP_COSINE`),
    exact brute force.

    All-pairs cosine -- the O(n^2) correctness baseline that validates
    :func:`rp_lsh_near_dup_pairs` (the scale path). Returns (id_a, id_b, cos).
    """
    withn = spread_small_input(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    return (
        self_join_pairs(withn, [], "id", ["_v", "_n"])
        .select("id_a", "id_b", _pair_cos().alias("cos"))
        .where(F.col("cos") >= NEAR_DUP_COSINE)
    )


def random_hyperplanes(dim: int) -> list[list[float]]:
    """:data:`RP_BITS` deterministic Gaussian hyperplanes (seeded with
    :data:`RP_SEED`) of length ``dim`` for angular (sign-bit) LSH."""
    import random

    rng = random.Random(RP_SEED)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(RP_BITS)]


def rp_signature(vec_col: str, planes: list[list[float]]):
    """Sign-bit sketch of a vector: bit_j = 1 iff dot(v, plane_j) > 0.

    Packed into one BIGINT (n_bits <= 62). Charikar's angular LSH:
    P[bit differs] = angle(u, v) / pi, so near-duplicate vectors share
    almost every bit and Hamming-chunk blocking applies unchanged. One
    generated-SQL expression (one py4j call for all n_bits plane dots; a
    Column loop cost ~1.5s of driver time per operator call).
    """
    if len(planes) > 62:
        raise ValueError(f"planes: at most 62 fit a BIGINT signature, got {len(planes)}")
    return F.expr(
        " + ".join(  # disjoint bits: + == OR
            f"shiftleft(CASE WHEN {_dot_sql(vec_col, p)} > 0 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {j})"
            for j, p in enumerate(planes)
        )
    )


def rp_lsh_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dups at scale: random-hyperplane LSH + exact rescore.

    1. sketch every vector to a 32-bit sign-bit signature (:data:`RP_BITS`;
       one scan, pure JVM folds);
    2. block on 7 signature chunks (pigeonhole: any pair within Hamming
       <= 6, :data:`RP_MAX_HAMMING`, collides on some chunk) -- equi-joins,
       never all-pairs;
    3. exact cosine rescore ``>= 0.95`` (:data:`NEAR_DUP_COSINE`).

    Precision is exact (step 3); recall is the probability that a
    qualifying pair lands within 6 sketch bits -- for cos >= 0.95 and
    32 bits, P[bit differs] <= acos(.95)/pi ~ 0.101, so
    P[Hamming <= 6] > 0.97 per pair (measured in tests). More bits buy
    recall at scale; the blocking contract itself is threshold-derived,
    as in :func:`blurrily_spark.operators.dedup.simhash_near_dups`.

    ``dim`` is the vector length; the caller knows it, so building the
    plan reads no row.
    """
    from blurrily_spark.functions.hashing import hamming_chunks

    planes = random_hyperplanes(dim)
    sigs = spread_small_input(emb).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
        rp_signature(vec_col, planes).alias("sig"),
    )
    chunks = sigs.select(
        "id", "_v", "_n", F.inline(hamming_chunks(F.col("sig"), RP_MAX_HAMMING, RP_BITS))
    )
    # cosine rescore + threshold BEFORE the pair dedup: the cosine is a pure
    # function of the pair (identical on every chunk collision of the same
    # pair, so filter/dedup commute), and scoring per collision row is a few
    # hundred FLOPs while deduplicating first would shuffle both full
    # embedding vectors per collision -- the dedup then carries 24 bytes per
    # QUALIFYING pair instead of ~2*dim*4 bytes per raw collision (the same
    # shuffle-narrowing as dedup.simhash_near_dups).
    return (
        self_join_pairs(chunks, ["chunk", "ckey"], "id", ["_v", "_n"])
        .select("id_a", "id_b", _pair_cos().alias("cos"))
        .where(F.col("cos") >= NEAR_DUP_COSINE)
        .dropDuplicates(["id_a", "id_b"])
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings against a coarse codebook, call members of the same
    cluster whose cosine reaches 0.95 (:data:`NEAR_DUP_COSINE`) semantic
    duplicates, and keep one representative per connected duplicate group.

    Returns one row per input vector: ``(id, keep_id, is_dup)`` -- the same
    retained-corpus face as :func:`blurrily_spark.operators.dedup.near_dedup`,
    so the two compose (lexical MinHash pass, then a semantic pass over the
    survivors' embeddings). Each duplicate group keeps its smallest id
    (deterministic, as in every other dedup operator here, and what the
    DuckDB oracle re-derives); ids must be integral.

    Scale shape: pairwise work happens only INSIDE a cluster -- the paper
    sizes k ~ sqrt(n) precisely so clusters stay small -- and it is an
    equi-join on ``bucket``, never an all-pairs product. Threshold fires
    before the edges shuffle into CC; CC iterates over the dup graph only
    (tiny relative to the corpus); one final left join paints keepers back.
    Nothing lives driver-side but the codebook itself.
    """
    from blurrily_spark.operators.cluster import assign_entities
    from blurrily_spark.operators.dedup import _keepers, _require_integral_id

    _require_integral_id(emb, id_col, "semantic_dedup")

    assigned = assign_buckets(spread_small_input(emb), centroids, id_col, vec_col)
    # Row norms materialized BELOW the pair join (bit-identical cosine, see
    # _cos_pre): the within-cluster join scores ~|cluster|^2 pairs, so
    # computing each norm once per row instead of once per pair removes
    # ~2/3 of the fold work in the dominant stage; assign_buckets already
    # staged the norm as _n.
    edges = (
        self_join_pairs(assigned, "bucket", "vec_id", ["_v", "_n"])
        .where(_pair_cos() >= NEAR_DUP_COSINE)
        .select(F.col("vec_id_a").alias("src"), F.col("vec_id_b").alias("dst"))
    )
    return _keepers(assign_entities(assigned.select("vec_id"), edges, node_col="vec_id"))


def take_centroids(
    corpus: DataFrame,
    n: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse codebook: the n lowest-id vectors.

    A stand-in for sampled k-means (out of scope for the engine itself);
    deterministic so tests and both scaling runs share a codebook.
    """
    rows = corpus.orderBy(F.col(id_col).asc()).limit(n).select(vec_col).collect()
    return [list(map(float, r[0])) for r in rows]
