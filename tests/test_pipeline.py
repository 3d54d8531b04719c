"""End-to-end pipeline: synthetic transcripts -> entities; F1 gate vs truth.

Also pins the north rule's invariants: per-turn text equality under stable
(conv_id, turn_idx) ordering, pairwise F1 >= 0.99 on the labeled spec
corpus, and checkpoint-resume (stage skip on re-run).
"""

from __future__ import annotations

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from blurrily_spark.plans.pipeline import LinkagePipeline, build_turns
from blurrily_spark.sources.synth import generate_transcripts


def entity_of(conv_id: str) -> int:
    """Ground-truth entity of a synthetic ``conv_id``
    (``e{entity:06d}_v{variant:02d}``)."""
    return int(conv_id[1:7])


def pairwise_f1(pred: dict[int, int], truth: dict[int, int]) -> float:
    refs = sorted(truth)
    tp = fp = fn = 0
    for a, b in itertools.combinations(refs, 2):
        same_true = truth[a] == truth[b]
        same_pred = pred.get(a) == pred.get(b) and pred.get(a) is not None
        if same_pred and same_true:
            tp += 1
        elif same_pred:
            fp += 1
        elif same_true:
            fn += 1
    if tp == 0:
        return 0.0
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    return 2 * precision * recall / (precision + recall)


def test_pipeline_end_to_end(spark, tmp_path):
    transcripts = generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11,
    )
    transcripts.cache()

    pipe = LinkagePipeline(
        spark, str(tmp_path), jaccard_threshold=0.55, min_matches=2
    )
    entities = pipe.run(transcripts)

    # --- conversation-level clustering quality (same-entity turns share
    # templates; turn texts of the same turn_idx across variants are near-dups)
    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"),
        "conv_id",
        "turn_idx",
    ).collect()
    truth = {(r["ref"]): (entity_of(r["conv_id"]), r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}

    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99"

    # --- per-turn text equality under stable (conv_id, turn_idx) ordering
    turns = build_turns(transcripts)
    orig = transcripts.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    kept = turns.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in orig] == [tuple(r) for r in kept]

    # --- max_df=None runs the rescored plan uncapped: the same pair rows as
    # the direct count join over the postings
    from blurrily_spark.operators.pairs import candidate_pairs, with_jaccard

    postings = spark.read.parquet(os.path.join(str(tmp_path), "postings"))
    cols = ["ref_a", "ref_b", "matches", "jaccard", "weight_a", "weight_b"]
    direct = with_jaccard(candidate_pairs(postings, min_matches=2), postings)
    staged = spark.read.parquet(os.path.join(str(tmp_path), "pairs"))
    assert sorted(map(tuple, staged.select(*cols).collect())) == sorted(
        map(tuple, direct.select(*cols).collect())
    )

    # --- manifest written with per-stage metrics
    manifest = json.load(open(os.path.join(str(tmp_path), "_manifest.json")))
    assert set(manifest["stages"]) == set(LinkagePipeline.STAGES)
    assert not any(s["skipped"] for s in manifest["stages"].values())

    # --- per-partition lineage: every stage lists its output files with
    # footer-derived row counts that reconcile exactly with the observed
    # stage row count (north rule: per-partition lineage + metrics)
    for k in LinkagePipeline.STAGES:
        s = manifest["stages"][k]
        lin = s["partitions"]
        assert lin["n_files"] >= 1 and not lin["truncated"]
        assert len(lin["files"]) == lin["n_files"]
        assert sum(f["rows"] for f in lin["files"]) == lin["rows"] == s["rows"]
        assert all(
            f["file"].endswith(".parquet") and f["bytes"] > 0 for f in lin["files"]
        )


def test_pipeline_resume_skips_stages(spark, tmp_path):
    transcripts = generate_transcripts(
        spark, n_entities=5, variants_per_entity=2, turns_per_conv=2, seed=3
    )
    pipe1 = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=0.5)
    out1 = pipe1.run(transcripts).orderBy("ref").collect()

    pipe2 = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=0.5)
    out2 = pipe2.run(transcripts).orderBy("ref").collect()
    assert all(
        s["skipped"] for k, s in pipe2.metrics.items() if k in LinkagePipeline.STAGES
    )
    assert out1 == out2

    # resumed stages still carry exact rows + per-partition lineage (from
    # the parquet footers), so a resume manifest is as complete as a fresh
    # run's -- and both runs agree on them
    for k in LinkagePipeline.STAGES:
        fresh, resumed = pipe1.metrics[k], pipe2.metrics[k]
        assert resumed["rows"] == fresh["rows"]
        assert resumed["partitions"] == fresh["partitions"]

    # changed config -> fingerprint mismatch -> stages rerun
    pipe3 = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=0.9)
    pipe3.run(transcripts)
    assert not pipe3.metrics["edges"]["skipped"]


def test_synth_determinism(spark):
    a = generate_transcripts(spark, n_entities=4, seed=9).collect()
    b = generate_transcripts(spark, n_entities=4, seed=9).collect()
    assert a == b


def test_pipeline_two_phase_blocking_f1(spark, tmp_path):
    """max_df capped blocking + exact rescoring keeps F1 >= 0.99."""
    transcripts = generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11,
    )
    pipe = LinkagePipeline(
        spark, str(tmp_path), jaccard_threshold=0.55, min_matches=3, max_df=16
    )
    entities = pipe.run(transcripts)
    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"), "conv_id", "turn_idx"
    ).collect()
    truth = {r["ref"]: (entity_of(r["conv_id"]), r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}
    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99 with capped blocking"


def test_input_identity_tracks_file_contents(spark, tmp_path):
    """Round-2 ADVICE: rewriting the same input files in place must change
    the stage-cache fingerprint -- identity folds (path, size, mtime), not
    just the path set."""
    from blurrily_spark.plans.pipeline import input_identity

    p = str(tmp_path / "t.parquet")
    generate_transcripts(spark, n_entities=2, seed=1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    ident1 = input_identity(df)
    assert all(len(sig) == 3 for sig in ident1["files"])  # (uri, size, mtime)

    # same file names, touched contents => different identity
    part = next(f for f in os.listdir(p) if f.endswith(".parquet"))
    os.utime(os.path.join(p, part), ns=(1, 1))
    assert input_identity(spark.read.parquet(p)) != ident1

    # computed (non-file-backed) inputs degrade to the plan's semantic hash
    ident3 = input_identity(spark.createDataFrame([(1, "x")], "a int, b string"))
    assert "semantic_hash" in ident3


@pytest.mark.parametrize("dirname", ["with space", "pct%41x"])
def test_input_identity_decodes_escaped_paths(spark, tmp_path, dirname):
    """The input URI percent-encodes a space or ``%`` in the path; identity
    still stats the file, so rewriting it in place changes the identity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from blurrily_spark.plans.pipeline import input_identity

    d = tmp_path / dirname
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    ident1 = input_identity(spark.read.parquet(str(d)))
    assert [len(sig) for sig in ident1["files"]] == [3]  # (uri, size, mtime)

    pq.write_table(pa.table({"a": [1, 2, 3, 4], "b": ["x", "y", "z", "w"]}), part)
    assert input_identity(spark.read.parquet(str(d))) != ident1


def _word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(5))


def _toy_transcripts(spark, n_docs, seed=7):
    """One-turn conversations of eight random 5-letter words."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        words = [_word(rng) for _ in range(8)]
        rows.append((f"c{i:05d}", 0, " ".join(words)))
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_knn_candidates_rescored_keep_f1(spark):
    """The bounded alternative to the blocking self-join, at operator
    level: each turn's top-k FIND matches (knn_join), folded to unordered
    pairs and rescored exactly (rescore_pairs_exact), keep F1 >= 0.99 on
    the labeled corpus, and the candidate set is bounded at n_turns * k."""
    from blurrily_spark.functions.tokenizer import add_trigrams
    from blurrily_spark.operators.cluster import assign_entities
    from blurrily_spark.operators.find import knn_join
    from blurrily_spark.operators.pairs import rescore_pairs_exact
    from blurrily_spark.operators.scoring import match_edges
    from blurrily_spark.plans.pipeline import turns_to_postings

    transcripts = generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11,
    )
    turns = add_trigrams(build_turns(transcripts), "norm", "trigrams")
    knn = knn_join(turns_to_postings(turns), k=10)
    cand = knn.select(
        F.least("query_ref", "ref").alias("ref_a"),
        F.greatest("query_ref", "ref").alias("ref_b"),
    ).distinct()
    pairs = rescore_pairs_exact(cand, turns.select("ref", "trigrams", "weight"))
    edges = match_edges(pairs.where(F.col("matches") >= 2), jaccard_threshold=0.55)
    entities = assign_entities(turns.select("ref"), edges)

    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"), "conv_id", "turn_idx"
    ).collect()
    truth = {r["ref"]: (entity_of(r["conv_id"]), r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}
    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99 with kNN candidates"
    assert cand.count() <= len(truth_rows) * 10


def test_pairs_stage_intersects_once(spark, tmp_path, monkeypatch):
    """The two-phase rescore computes each candidate's array_intersect
    once: the min_matches filter must not be copied into the join
    condition next to the projection that computes ``matches``."""
    plans = {}
    write = LinkagePipeline._write

    def spy(self, stage, df):
        plans[stage] = df._jdf.queryExecution().optimizedPlan().toString()
        return write(self, stage, df)

    monkeypatch.setattr(LinkagePipeline, "_write", spy)
    t = _toy_transcripts(spark, 60)
    LinkagePipeline(spark, str(tmp_path), min_matches=3, max_df=16).run(t)
    assert plans["pairs"].count("array_intersect") == 1, plans["pairs"]


def test_stage_jobs_carry_stage_description(spark, tmp_path):
    """Every job a run launches, eager build jobs included, is described as
    ``LinkagePipeline <stage>``; the caller's job group and description
    are left as they were."""
    sc = spark.sparkContext
    t = _toy_transcripts(spark, 60)
    sc.setJobGroup("pipeline-descriptions", "caller's description")
    try:
        LinkagePipeline(spark, str(tmp_path), min_matches=2, max_df=16).run(t)
        assert sc.getLocalProperty("spark.job.description") == "caller's description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    descriptions = []
    for jid in sc.statusTracker().getJobIdsForGroup("pipeline-descriptions"):
        d = store.job(jid).description()
        descriptions.append(d.get() if d.isDefined() else None)
    assert descriptions
    expected = {f"LinkagePipeline {s}" for s in LinkagePipeline.STAGES}
    assert set(descriptions) == expected, descriptions


def test_resume_from_previous_turns_layout_reruns(spark, tmp_path):
    """A workdir written before ``turns`` carried ``trigrams`` (and before
    fingerprints named a layout) reruns every stage instead of resuming
    into a table without the column; the fresh stage read-back has the
    schema a resumed read infers."""
    wd = str(tmp_path)
    t = _toy_transcripts(spark, 60)
    pipe1 = LinkagePipeline(spark, wd, min_matches=2, max_df=16)
    ent1 = pipe1.run(t)
    out1 = sorted(ent1.collect())

    # rewrite the workdir as the previous layout left it
    turns_path = os.path.join(wd, "turns")
    old = spark.read.parquet(turns_path).drop("trigrams")
    old.write.mode("overwrite").parquet(os.path.join(wd, "_old_turns"))
    spark.read.parquet(os.path.join(wd, "_old_turns")).write.mode(
        "overwrite"
    ).parquet(turns_path)
    for s in LinkagePipeline.STAGES:
        fp_path = pipe1._fp_file(s)
        with open(fp_path) as fh:
            fp = json.load(fh)
        del fp["layout"]
        with open(fp_path, "w") as fh:
            fh.write(json.dumps(fp, sort_keys=True))

    pipe2 = LinkagePipeline(spark, wd, min_matches=2, max_df=16)
    ent2 = pipe2.run(t)
    assert not any(pipe2.metrics[s]["skipped"] for s in LinkagePipeline.STAGES)
    assert sorted(ent2.collect()) == out1
    assert "trigrams" in spark.read.parquet(turns_path).columns

    pipe3 = LinkagePipeline(spark, wd, min_matches=2, max_df=16)
    ent3 = pipe3.run(t)
    assert all(pipe3.metrics[s]["skipped"] for s in LinkagePipeline.STAGES)
    assert ent3.schema == ent2.schema == ent1.schema


def _labelled_transcripts(spark):
    """The end-to-end test's labelled corpus: 108 turns with near-duplicate
    variants, so the Jaccard cut keeps pairs."""
    return generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11,
    )


def test_scores_partitions_follow_survivor_bytes(spark, tmp_path):
    """AQE sizes the tail from the survivors' bytes; nothing pins it to
    one partition. With the coalescing floor lowered, the same run that
    writes one scores file at the default floor writes several."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        pipe = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=0.55, min_matches=2)
        pipe.run(_labelled_transcripts(spark))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert pipe.metrics["scores"]["partitions"]["n_files"] > 1


def test_zero_survivors_label_every_turn_with_itself(spark, tmp_path):
    """A threshold no pair reaches leaves the tail empty: every stage table
    is still written and readable, and every turn is its own entity."""
    pipe = LinkagePipeline(spark, str(tmp_path), jaccard_threshold=1.5, min_matches=2)
    entities = pipe.run(_labelled_transcripts(spark)).collect()
    m = pipe.metrics
    assert m["pairs"]["rows"] > 0
    assert m["scores"]["rows"] == m["edges"]["rows"] == 0
    for s in LinkagePipeline.STAGES:
        assert m[s]["partitions"]["n_files"] >= 1, s
        assert spark.read.parquet(os.path.join(str(tmp_path), s)).count() == m[s]["rows"], s
    assert len(entities) == m["turns"]["rows"] == 108
    assert all(r["entity_id"] == r["ref"] for r in entities)
