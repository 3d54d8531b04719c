"""End-to-end record-linkage pipeline with checkpoint-resumable stages.

transcripts -> turns (normalize + entity refs + trigram array)
            -> postings (trigram inverted index)
            -> pairs (blocking self-join + jaccard)
            -> scores (jaccard cut + weight delta)
            -> edges (threshold) -> entities (connected components)

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
from blurrily_spark.operators.cluster import assign_entities
from blurrily_spark.operators.pairs import candidate_pairs, rescore_pairs_exact
from blurrily_spark.operators.scoring import match_edges, score_pairs


# partition_lineage lists at most this many part files per stage
LINEAGE_MAX_FILES = 4096


def partition_lineage(path: str) -> dict:
    """Per-partition lineage of one stage output: ``{n_files, rows,
    truncated, files: [{file, bytes, rows}, ...]}`` with one entry per
    parquet part file under ``path`` (relative paths, so hive-style
    ``partition_by`` values stay visible in the name).

    Row counts come from the parquet footer (``num_rows``) -- a driver-side
    metadata read, no data pages touched, so this is O(files) small IO even
    for a wide stage. ``LINEAGE_MAX_FILES`` bounds the per-file list so a
    huge stage cannot bloat the run manifest; the aggregate ``n_files``/``rows`` always
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
        if len(entries) < LINEAGE_MAX_FILES:
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
        "truncated": len(files) > LINEAGE_MAX_FILES,
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
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return {"semantic_hash": df.semanticHash()}
    sigs = []
    for uri in sorted(files):
        # the URI percent-encodes a space or ``%`` in the path; stat the
        # decoded name
        local = unquote(urlparse(uri).path) or uri
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
        with_normalized(transcripts, "text", "norm")
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
    # Version of the stage tables' columns, part of every fingerprint: a
    # workdir written under another layout reruns instead of resuming into
    # tables this code cannot read. 2: turns carries ``trigrams``. 3: pairs
    # is the rescored form for every ``max_df`` (no ``tg_a``/``tg_b``).
    # 4: scores has no ``jw`` column.
    LAYOUT = 4

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        jaccard_threshold: float = 0.6,
        min_matches: int = 2,
        max_df: int | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.config = {
            "jaccard_threshold": jaccard_threshold,
            "min_matches": min_matches,
            "max_df": max_df,
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
            # Two-phase blocking (the scale path): with ``max_df`` set, hot
            # trigrams are excluded from candidate *generation* (bounding
            # the self-join at sum(min(df, max_df)^2)), then exact
            # matches/jaccard are restored per candidate with one
            # array_intersect -- no information loss for near-dups, which
            # always share rare trigrams too. ``max_df=None`` caps nothing.
            cand = candidate_pairs(
                postings,
                min_matches=1,
                max_df=self.config["max_df"],
                # phase 2 recomputes matches/weights exactly, so phase 1
                # ships bare (ref_a, ref_b) through the pair-dedup shuffle
                # -- the pipeline's dominant shuffle
                keys_only=True,
            )
            # phase 2 joins the trigram arrays the turns stage stored on
            # ref_a and ref_b, and tokenizes nothing
            exact = rescore_pairs_exact(cand, turns.select("ref", "trigrams", "weight"))
            return exact.where(F.col("matches") >= self.config["min_matches"])

        pairs = self._load_or("pairs", _pairs)

        def _scores():
            # The cut keeps a small share of the pairs (1,500 of 152,744 on
            # the 1,000-turn benchmark) but not of their partitions. One AQE
            # rebalance sizes the tail by survivor bytes: the scores files,
            # and through them the edges files and CC's collect, take as
            # many partitions as the survivors fill (one at that size, many
            # at scale, with skewed partitions split).
            survivors = pairs.where(
                F.col("jaccard") >= self.config["jaccard_threshold"]
            )
            return score_pairs(survivors.hint("rebalance"))

        scores = self._load_or("scores", _scores)

        edges = self._load_or("edges", lambda: match_edges(scores))

        entities = self._load_or(
            "entities",
            lambda: assign_entities(turns.select("ref", "conv_id", "turn_idx"), edges),
        )

        manifest = {
            "config": self.config,
            "stages": self.metrics,
        }
        with open(os.path.join(self.workdir, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=2, default=str)
        return entities

