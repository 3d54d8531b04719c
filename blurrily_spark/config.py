"""Session construction + engine defaults.

Defaults mirror the reference's constants (lib/blurrily/defaults.rb):
LIMIT_DEFAULT=10, weight 0 => "use normalized length"
(ext/blurrily/storage.c:409). References are widened from uint32 to int64 --
the 32-bit bound is an implementation limit of the C engine, not a behavior
(SURVEY.md §7.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LIMIT_DEFAULT = 10      # lib/blurrily/defaults.rb:6
LIMIT_RANGE = (1, 1024)  # lib/blurrily/defaults.rb:7

# InferFiltersFromGenerate injects `size(tg) > 0 AND isnotnull(tg)` below the
# tokenizer projections, re-inlining the whole trigram expression into a
# per-row Filter where the char-codes transform is re-evaluated per
# element_at -- O(n^2) interpreted work per document (measured 30x slowdown
# on the postings build). Our trigram arrays are never empty (a string of
# length n yields n+1 >= 1 windows, tokeniser.c:72-75), so the inferred
# filter can never prune a row: excluding the rule is pure win.
_EXCLUDED_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

# A scan far smaller than one standard input split (guide: starved scan
# parallelism) leaves every downstream per-row expression -- normalization,
# MinHash signatures, cosine folds -- on the scan stage's 1-2 tasks while
# the rest of the cluster idles: a single-row-group parquet file cannot be
# split, so neither maxPartitionBytes nor minPartitionNum helps. Below this
# byte bound the engine re-spreads the input across the session's shuffle
# parallelism (one cheap shuffle of the raw rows); above it (any real
# corpus) the scan already yields enough partitions and the spread is a
# no-op by construction -- the bound is "well under one 128 MB split per
# core", not a tuning knob for any particular host.
SPREAD_MAX_BYTES = 64 << 20


def shuffle_partitions(spark: "SparkSession") -> int | None:
    """The session's ``spark.sql.shuffle.partitions``, or None when it is
    not an integer (managed platforms accept ``auto``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return None


def spread_small_input(df):
    """Repartition a *tiny* input to the session's shuffle parallelism so
    per-row compute parallelizes; identity for streaming inputs and for
    anything whose optimizer size estimate reaches ``SPREAD_MAX_BYTES``.

    Sizing uses the optimized plan's ``stats.sizeInBytes`` rather than
    ``inputFiles``: it covers cached inputs (whose file scans are replaced
    by InMemoryRelation with MEASURED size stats) and computed plans, and
    the default size-only estimator never shrinks through filters, so a
    big corpus can't masquerade as small. Measured: spreading the 10k-doc
    bench corpus to 32 partitions takes the MinHash-LSH pass 5.3s -> 2.1s
    warm (the signature stage was 2 tasks); identity at corpus scale."""
    try:
        if df.isStreaming:
            return df
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    # a non-integer partition count (``auto``) leaves the input as it is
    n = shuffle_partitions(df.sparkSession)
    if n is None or size >= SPREAD_MAX_BYTES:
        return df
    return df.repartition(n)


def tune_session(spark: "SparkSession") -> None:
    """Idempotently apply engine-required session tuning (safe to call on a
    session we did not create, e.g. the driver's)."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    rules = {r for r in (cur or "").split(",") if r}
    if _EXCLUDED_RULE not in rules:
        rules.add(_EXCLUDED_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(sorted(rules)))


def get_spark(
    app_name: str = "blurrily-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, the same package is shipped via
    ``spark-submit --py-files`` and ``master`` is left to the submitter.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES, but this engine's
        # downstream stages are expression-heavy joins that EXPAND rows (a
        # 1.2 MB fingerprint shuffle feeds a 26M-row chunk join): with the
        # default 1 MB floor a small shuffle coalesces to ONE task and
        # serializes minutes of codegen'd work (measured on simhash). A
        # smaller floor lets parallelism-first coalescing keep ~cores
        # partitions for small shuffles; at scale totalBytes/parallelism
        # dominates the floor, so large shuffles are sized exactly as
        # before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Shuffled-hash joins only via AQE's runtime conversion (guide
        # §3.1): with this threshold AQE rewrites a sort-merge join to
        # shuffled-hash when every post-shuffle partition's MEASURED size
        # fits, skipping both sorts with no OOM exposure. The static
        # preferSortMergeJoin=false route is deliberately NOT taken: it
        # picks SHJ from size *estimates*, and an underestimated or skewed
        # build partition (a hot-trigram posting list in the d^2
        # self-joins) must fit its hash map in memory where sort-merge
        # would have spilled.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune_session(spark)
    return spark
