"""End-to-end record-linkage pipeline with checkpoint-resumable stages.

transcripts -> turns (normalize + entity refs + trigram array)
            -> postings (trigram inverted index)
            -> pairs (blocking self-join + jaccard)
            -> scores (weight-delta + Jaro-Winkler tie-break)
            -> edges (threshold) -> entities (connected components)
            -> golden (optional survivorship: one canonical record/entity)

Each turn is tokenized once, in the turns stage, as the reference
tokenizes a record once at PUT and scores every later match from the
stored codes (ext/blurrily/storage.c:36-41): the turns table carries the
``trigrams`` array, the postings stage explodes it, and the two-phase
rescore of the pairs stage reads it back from the turns table.

Every stage is a pure DataFrame transformation whose output is a table
(parquet here; Iceberg snapshots on a real cluster -- the reference's
atomic-rename save, ext/blurrily/storage.c:371-374, maps to the table
format's atomic commit). A stage writes its output dir plus a
``_blurrily_fingerprint.json`` of its config and table layout; re-running
with the same fingerprint skips the stage (the reference's clean-path save
memo, lib/blurrily/map.rb:25-30, generalized to every stage). Every job a
stage launches, its build included, carries the job description
``LinkagePipeline <stage>``. The run manifest
records, per stage: row count, wall seconds, and **per-partition lineage**
-- one entry per output parquet file (= one write task / one partition of
the stage's final plan) with its row count and bytes, read from the
parquet footers. Together with ``input_identity`` (the per-file identity
of the pipeline input) this chains input files -> stage -> output
partitions across every stage. On a real cluster the same facts come from
the table format's commit metadata (an Iceberg manifest entry carries
record_count + file_size_in_bytes per data file); :func:`partition_lineage`
is the local-parquet stand-in that reads footers instead.

Ref assignment: ``ref = xxhash64(conv_id, turn_idx)`` -- deterministic,
shuffle-free, and stable across runs/cluster sizes (a global row_number
would serialize through one partition at 10^12 turns). Collision odds at
n=10^12 are ~n^2/2^64 ≈ 5%-of-one-collision territory; the turns table
keeps the (ref, conv_id, turn_idx) mapping so collisions are detectable,
and a 128-bit key (two xxhash64 salts) is the documented escape hatch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from blurrily_spark.functions.tokenizer import add_trigrams, with_normalized
from blurrily_spark.operators.cluster import assign_entities, golden_records
from blurrily_spark.operators.find import knn_join
from blurrily_spark.operators.pairs import (
    candidate_pairs,
    hot_trigrams,
    rescore_pairs_exact,
    with_jaccard,
)
from blurrily_spark.operators.scoring import match_edges, score_pairs


def partition_lineage(path: str, cap: int = 4096) -> dict:
    """Per-partition lineage of one stage output: ``{n_files, rows,
    truncated, files: [{file, bytes, rows}, ...]}`` with one entry per
    parquet part file under ``path`` (relative paths, so hive-style
    ``partition_by`` values stay visible in the name).

    Row counts come from the parquet footer (``num_rows``) -- a driver-side
    metadata read, no data pages touched, so this is O(files) small IO even
    for a wide stage. ``cap`` bounds the per-file list so a huge stage
    cannot bloat the run manifest; the aggregate ``n_files``/``rows`` always
    cover every file and ``truncated`` records that the list was cut. On a
    real cluster, read the same facts from the table format's commit
    metadata instead of re-listing the directory (Iceberg manifests carry
    ``record_count`` and ``file_size_in_bytes`` per data file).
    """
    import pyarrow.parquet as pq

    files: list[str] = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files.append(os.path.join(root, name))
    files.sort()
    entries = []
    total_rows = 0
    for full in files:
        rows = pq.ParquetFile(full).metadata.num_rows
        total_rows += rows
        if len(entries) < cap:
            entries.append(
                {
                    "file": os.path.relpath(full, path),
                    "bytes": os.path.getsize(full),
                    "rows": rows,
                }
            )
    return {
        "n_files": len(files),
        "rows": total_rows,
        "truncated": len(files) > cap,
        "files": entries,
    }


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable: the
    schema Spark's parquet writer stores and a bare read infers."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def input_identity(df: DataFrame) -> dict:
    """Stage-cache identity of a pipeline input.

    File-backed inputs are identified by (path, size, mtime) per file --
    path names alone would silently reuse stale stage outputs when the same
    files are rewritten in place with different contents. Stats that cannot
    be resolved locally (object-store URIs) degrade to the path; computed
    inputs fall back to the logical plan's semantic hash.
    """
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return {"semantic_hash": df.semanticHash()}
    sigs = []
    for uri in sorted(files):
        local = urlparse(uri).path or uri
        try:
            st = os.stat(local)
            sigs.append([uri, st.st_size, st.st_mtime_ns])
        except OSError:
            sigs.append([uri])
    return {"files": sigs}


def build_turns(transcripts: DataFrame) -> DataFrame:
    """transcripts -> turns(ref, conv_id, turn_idx, norm, weight, text).

    Stable (conv_id, turn_idx) ordering key is preserved verbatim; the
    per-turn text invariant is checked against this table.
    """
    return (
        with_normalized(transcripts, "text", "norm", adaptive="auto")
        .withColumn("ref", F.xxhash64("conv_id", "turn_idx"))
        .withColumn("weight", F.length("norm"))
        .select("ref", "conv_id", "turn_idx", "norm", "weight", "text")
    )


def turns_to_postings(turns: DataFrame) -> DataFrame:
    """turns -> postings(trigram, ref, weight): an explode of the turns'
    ``trigrams`` array, tokenizing ``norm`` first when there is none."""
    if "trigrams" not in turns.columns:
        turns = add_trigrams(turns, "norm", "trigrams")
    return turns.select(F.explode("trigrams").alias("trigram"), "ref", "weight")


class LinkagePipeline:
    """Staged, resumable run of the full linkage dataflow."""

    STAGES = ("turns", "postings", "pairs", "scores", "edges", "entities")
    # "golden" joins STAGES at runtime only when golden=True is configured
    # Version of the stage tables' columns, part of every fingerprint: a
    # workdir written under another layout reruns instead of resuming into
    # tables this code cannot read. 2: turns carries ``trigrams``.
    LAYOUT = 2
    AUTO_SALT_BUCKETS = 8  # bucket count used when salt_buckets="auto" fires

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        jaccard_threshold: float = 0.6,
        min_matches: int = 2,
        max_df: int | None = None,
        salt_buckets: int | str | None = "auto",
        compute_jw: bool = True,
        jw_threshold: float | None = None,
        golden: bool = False,
        candidate_mode: str = "threshold",
        knn_k: int = 20,
    ):
        # candidate_mode="knn": candidate generation via the per-record
        # top-k similarity join (knn_join) instead of the full blocking
        # self-join. The candidate set is then BOUNDED at n*knn_k pairs by
        # construction -- the property thresholded blocking cannot offer at
        # 10^12 turns, where a popular template's pair output is quadratic
        # no matter the threshold. Exact matches/jaccard are restored per
        # candidate (rescore_pairs_exact), so downstream thresholds keep
        # their exact semantics; recall differs from "threshold" mode only
        # for records with more than knn_k true near-dups (those pairs are
        # still merged transitively by connected components whenever the
        # kNN graph keeps each record connected to SOME duplicate).
        if candidate_mode not in ("threshold", "knn"):
            raise ValueError(f"unknown candidate_mode: {candidate_mode!r}")
        # salt_buckets="auto" (the default): the pipeline self-protects
        # against trigram skew. It runs hot_trigrams() over the postings
        # stage (one map-side-combined agg to <= 28^3 rows, driver-cheap)
        # and salts AUTO_SALT_BUCKETS ways exactly those keys whose own
        # pair output d(d-1)/2 exceeds a shuffle task's fair share
        # (d > sqrt(sum(df^2)/shuffle_partitions), floored at 2B -- the
        # documented threshold, see hot_trigrams). A uniform corpus yields
        # an empty hot list and the plain single-join plan; a skewed one
        # activates the salted branch for its heavy keys only. The
        # decision is recorded in metrics["pairs_salting"]. Pass an int to
        # force the bucket count, or None/0 to disable skew protection.
        self.spark = spark
        self.workdir = workdir
        self.config = {
            "jaccard_threshold": jaccard_threshold,
            "min_matches": min_matches,
            "max_df": max_df,
            "salt_buckets": salt_buckets,
            "compute_jw": compute_jw,
            "jw_threshold": jw_threshold,
            "golden": golden,
            "candidate_mode": candidate_mode,
            "knn_k": knn_k,
        }
        self.metrics: dict[str, dict] = {}
        self._input_ident: dict | None = None

    # -- stage plumbing ------------------------------------------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _fingerprint(self, stage: str) -> str:
        # Input identity is part of the fingerprint: re-running the same
        # workdir against different transcripts must NOT reuse stale stage
        # outputs. File-backed inputs are identified by their file set;
        # computed inputs by the logical plan's semantic hash.
        return json.dumps(
            {
                "stage": stage,
                "config": self.config,
                "input": self._input_ident,
                "layout": self.LAYOUT,
            },
            sort_keys=True,
        )

    def _fp_file(self, stage: str) -> str:
        return os.path.join(self.workdir, f"_blurrily_fingerprint_{stage}.json")

    def _is_done(self, stage: str) -> bool:
        fp = self._fp_file(stage)
        success = os.path.join(self._path(stage), "_SUCCESS")
        if not (os.path.exists(fp) and os.path.exists(success)):
            return False
        with open(fp) as fh:
            return fh.read() == self._fingerprint(stage)

    def _write(self, stage: str, df: DataFrame) -> DataFrame:
        t0 = time.time()
        # Row counts ride along as observed metrics on the write job itself
        # (CollectMetrics node) -- no extra count() scan per stage.
        obs = Observation(f"blurrily_{stage}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(self._path(stage))
        # Read back with the schema just written (as the parquet writer
        # stores it: every field nullable), which skips the schema-inference
        # job a bare read launches. A resumed stage infers it instead.
        out = self.spark.read.schema(_as_nullable(df.schema)).parquet(self._path(stage))
        self.metrics[stage] = {
            "rows": obs.get["rows"],
            "seconds": round(time.time() - t0, 3),
            "skipped": False,
            "partitions": partition_lineage(self._path(stage)),
        }
        with open(self._fp_file(stage), "w") as fh:
            fh.write(self._fingerprint(stage))
        return out

    def _resolve_salting(self, postings: DataFrame) -> tuple[int | None, list | None]:
        """(salt_buckets, hot_keys) for candidate_pairs, per the configured
        skew policy; records the decision in metrics["pairs_salting"]."""
        sb = self.config["salt_buckets"]
        if not sb:
            return None, None
        b = self.AUTO_SALT_BUCKETS if sb == "auto" else int(sb)
        max_df = self.config["max_df"]
        if max_df:
            # Two-phase blocking already caps every key's generation df at
            # max_df: a "hot" trigram (df far above any sane max_df) never
            # reaches the self-join, so salting has nothing to protect and
            # hot_trigrams()'s full-postings aggregation pass would be pure
            # waste (plus an always-empty second join branch in the plan).
            # The capped join's per-key output is bounded at max_df^2 --
            # skew-immune by construction.
            self.metrics["pairs_salting"] = {
                "buckets": b,
                "hot_df_threshold": None,
                "hot_key_count": 0,
                "active": False,
                "reason": f"max_df={max_df} caps per-key generation; "
                "capped join is skew-immune",
            }
            return None, None
        hot, threshold = hot_trigrams(postings, b)
        self.metrics["pairs_salting"] = {
            "buckets": b,
            "hot_df_threshold": threshold,
            "hot_key_count": len(hot),
            "active": bool(hot),
        }
        return (b if hot else None), hot

    def _rescore_recs(self, turns: DataFrame) -> DataFrame:
        """(ref, trigrams, weight) side table for rescore_pairs_exact, read
        from the written turns table: the rescore joins the arrays the
        turns stage stored on ref_a and ref_b, and tokenizes nothing."""
        return turns.select("ref", "trigrams", "weight")

    def _load_or(self, stage: str, build) -> DataFrame:
        if self._is_done(stage):
            out = self.spark.read.parquet(self._path(stage))
            # Footer metadata also gives a resumed stage its exact row
            # count, so a resume manifest is as complete as a fresh run's.
            lineage = partition_lineage(self._path(stage))
            self.metrics[stage] = {
                "rows": lineage["rows"],
                "seconds": 0.0,
                "skipped": True,
                "partitions": lineage,
            }
            return out
        # Tag every job of the stage, its build's eager jobs included.
        # Only the description: job groups belong to the caller.
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"LinkagePipeline {stage}")
        try:
            return self._write(stage, build())
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    # -- the dataflow ---------------------------------------------------

    def run(self, transcripts: DataFrame) -> DataFrame:
        self._input_ident = input_identity(transcripts)
        turns = self._load_or(
            "turns", lambda: add_trigrams(build_turns(transcripts), "norm", "trigrams")
        )
        postings = self._load_or("postings", lambda: turns_to_postings(turns))

        def _pairs():
            max_df = self.config["max_df"]
            if self.config["candidate_mode"] == "knn":
                # Bounded candidate generation: each record keeps its top-k
                # FIND matches (directed), folded to unordered pair keys.
                # Skew protection is inherent (<= k output rows per query
                # record regardless of any trigram's df), so the salting
                # machinery stays out of this plan.
                self.metrics["pairs_salting"] = {
                    "buckets": 0,
                    "hot_df_threshold": None,
                    "hot_key_count": 0,
                    "active": False,
                    # OUTPUT is k-bounded per record; the directed trigram
                    # join's WORK under a hot key is bounded only when
                    # max_df caps it -- set max_df on skewed corpora
                    "reason": (
                        f"knn candidate OUTPUT is bounded at k={self.config['knn_k']} "
                        f"per record; join work under hot trigrams is capped by "
                        f"max_df={max_df}" + ("" if max_df else " (unset: uncapped)")
                    ),
                }
                knn = knn_join(postings, k=self.config["knn_k"], max_df=max_df)
                cand = knn.select(
                    F.least("query_ref", "ref").alias("ref_a"),
                    F.greatest("query_ref", "ref").alias("ref_b"),
                ).distinct()
                exact = rescore_pairs_exact(cand, self._rescore_recs(turns))
                return exact.where(F.col("matches") >= self.config["min_matches"])
            salt_b, hot_keys = self._resolve_salting(postings)
            if max_df:
                # Two-phase blocking (the scale path): hot trigrams are
                # excluded from candidate *generation* (bounding the
                # self-join at sum(min(df, max_df)^2)), then exact
                # matches/jaccard are restored per candidate with one
                # array_intersect -- no information loss for near-dups,
                # which always share rare trigrams too.
                cand = candidate_pairs(
                    postings,
                    min_matches=1,
                    max_df=max_df,
                    salt_buckets=salt_b,
                    hot_keys=hot_keys,
                    # phase 2 recomputes matches/weights exactly, so phase 1
                    # ships bare (ref_a, ref_b) through the pair-dedup
                    # shuffle -- the pipeline's dominant shuffle
                    keys_only=True,
                )
                exact = rescore_pairs_exact(cand, self._rescore_recs(turns))
                return exact.where(F.col("matches") >= self.config["min_matches"])
            raw = candidate_pairs(
                postings,
                min_matches=self.config["min_matches"],
                salt_buckets=salt_b,
                hot_keys=hot_keys,
            )
            return with_jaccard(raw, postings)

        pairs = self._load_or("pairs", _pairs)

        def _scores():
            # Cheap jaccard threshold FIRST: Jaro-Winkler (an Arrow UDF over
            # both texts) is a tie-break refinement, so it only ever needs to
            # run on pairs that already pass the match threshold -- never on
            # the full candidate set (at 10^12 turns that difference is the
            # whole job).
            survivors = pairs.where(
                F.col("jaccard") >= self.config["jaccard_threshold"]
            )
            records = turns.select("ref", "norm")
            return score_pairs(
                survivors, records, compute_jw=self.config["compute_jw"]
            )

        scores = self._load_or("scores", _scores)

        def _edges():
            return match_edges(scores, jw_threshold=self.config["jw_threshold"])

        edges = self._load_or("edges", _edges)

        def _entities():
            assignments = assign_entities(turns.select("ref"), edges)
            return assignments.join(
                turns.select("ref", "conv_id", "turn_idx"), "ref"
            ).select("ref", "conv_id", "turn_idx", "entity_id")

        entities = self._load_or("entities", _entities)

        # Optional survivorship tail: one canonical turn per entity
        # (longest normalized text, ties to lowest ref -- a deterministic
        # election, so resumes and re-runs agree). Exposed as its own
        # resumable stage because at scale the golden table is the
        # published artifact; the per-turn assignment is lineage.
        self.golden_df: DataFrame | None = None
        if self.config["golden"]:
            self.golden_df = self._load_or(
                "golden",
                lambda: golden_records(
                    turns.select("ref", F.col("norm").alias("text")),
                    entities.select("ref", "entity_id"),
                ),
            )

        manifest = {
            "config": self.config,
            "stages": self.metrics,
        }
        with open(os.path.join(self.workdir, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=2, default=str)
        return entities


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, workdir: str, **config
) -> DataFrame:
    return LinkagePipeline(spark, workdir, **config).run(transcripts)
