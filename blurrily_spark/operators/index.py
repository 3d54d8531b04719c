"""Write-path operators: index build / delete / stats.

Reference semantics (SURVEY.md §2.2, §2.3-F7):

* W1 ``put(needle, ref, weight)`` -- ext/blurrily/storage.c:398-473.
  Duplicate ref => no-op (NOT an upsert, storage.c:408); weight <= 0 =>
  default to length of the *normalized* needle (storage.c:409); one posting
  row per unique trigram of the needle.
* W2 ref-membership test -- storage.c:404-408; a batch build keeps one
  row per ref (the first by ``order_col``), and ``api.Map.put`` answers a
  put of a stored ref with the reference's no-op.
* W4 ``delete(ref)`` -- storage.c:584-612: drop every posting of a ref.
* F7 ``stats`` -- storage.c:616-621: {references, trigrams} where
  ``trigrams`` counts posting rows (unique trigrams per stored needle).

The postings DataFrame is the exploded form of the reference's 28^3-slot
inverted index: ``postings(trigram int, ref long, weight int)``. Spark's
hash partitioning on ``trigram`` replaces the fixed array; at scale the
table is written bucketed/partitioned by trigram so blocking joins
co-locate without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blurrily_spark.config import spread_small_input
from blurrily_spark.functions.tokenizer import add_trigrams, with_normalized

POSTINGS_COLS = ("trigram", "ref", "weight")


def prepare_needles(
    df: DataFrame,
    text_col: str = "needle",
    ref_col: str = "ref",
    weight_col: str | None = "weight",
    order_col: str | None = None,
) -> DataFrame:
    """Normalize + default weights + first-wins ref dedup.

    Returns ``(ref long, weight int, norm string)`` with one row per kept
    ref. ``order_col`` (e.g. an arrival sequence) makes the reference's
    "first put wins" (storage.c:408) deterministic; without it an arbitrary
    single row per ref is kept (sufficient for batch builds, which have no
    arrival order).
    """
    # a tiny file-backed batch is re-spread so tokenization parallelizes
    # past the scan's 1-2 partitions (no-op at corpus scale)
    out = with_normalized(spread_small_input(df), text_col, "norm")
    if weight_col is not None and weight_col in df.columns:
        w = F.col(weight_col).cast("int")
        out = out.withColumn(
            "weight",
            F.when(w.isNull() | (w <= 0), F.length("norm")).otherwise(w),
        )
    else:
        out = out.withColumn("weight", F.length("norm"))
    out = out.withColumn("ref", F.col(ref_col).cast("long"))

    if order_col is not None:
        win = Window.partitionBy("ref").orderBy(F.col(order_col).asc())
        out = (
            out.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        out = out.dropDuplicates(["ref"])
    return out.select("ref", "weight", "norm")


def build_postings(
    df: DataFrame,
    text_col: str = "needle",
    ref_col: str = "ref",
    weight_col: str | None = "weight",
    order_col: str | None = None,
) -> DataFrame:
    """W1 batch build: needles -> postings(trigram, ref, weight).

    Equivalent to calling the reference's ``put`` once per row. An empty
    normalized needle still yields one posting (trigram 0 = ``***``),
    matching spec/blurrily/map_spec.rb:49-53.
    """
    prepared = prepare_needles(df, text_col, ref_col, weight_col, order_col)
    return (
        add_trigrams(prepared, "norm", "_tg")
        .select(F.explode("_tg").alias("trigram"), "ref", "weight")
        .select(*POSTINGS_COLS)
    )


def delete_refs(postings: DataFrame, refs: DataFrame | list[int]) -> DataFrame:
    """W4: remove every posting of the given refs (storage.c:584-612).

    The reference scans all 28^3 lists; here it is a filter (broadcast
    anti-join for a ref list), i.e. at scale an Iceberg
    ``DELETE FROM postings WHERE ref IN (...)`` merge-on-read commit.
    """
    if isinstance(refs, DataFrame):
        return postings.join(F.broadcast(refs.select("ref")), "ref", "left_anti")
    return postings.where(~F.col("ref").isin([int(r) for r in refs]))


def save_postings_bucketed(
    postings: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 16,
) -> None:
    """Persist postings bucketed+sorted by ``trigram`` (the cluster-scale
    storage layout).

    The reference's 28^3-slot array *is* a trigram-clustered layout
    (ext/blurrily/storage.c:30); on Spark the equivalent is a bucketed
    table: every FIND gather join and every blocking self-join on
    ``trigram`` then reads both sides pre-partitioned and pre-sorted, so
    the join plans with ZERO shuffle exchanges (asserted in
    tests/test_bucketed.py). On a real cluster this is an Iceberg table
    with a bucket(trigram) partition transform; here it is a
    Spark-catalog parquet table at an explicit path.
    """
    (
        postings.select(*POSTINGS_COLS)
        .write.mode("overwrite")
        .bucketBy(buckets, "trigram")
        .sortBy("trigram")
        .option("path", path)
        .saveAsTable(table_name)
    )


def stats(postings: DataFrame) -> DataFrame:
    """F7: {references, trigrams} counters (storage.c:616-621).

    ``trigrams`` counts posting rows: the reference increments its total by
    the number of *unique* trigrams of each put needle, which is exactly one
    posting row each.
    """
    return postings.agg(
        F.countDistinct("ref").alias("references"),
        F.count(F.lit(1)).alias("trigrams"),
    )
