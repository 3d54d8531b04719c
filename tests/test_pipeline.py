"""End-to-end pipeline: synthetic transcripts -> entities; F1 gate vs truth.

Also pins the north rule's invariants: per-turn text equality under stable
(conv_id, turn_idx) ordering, pairwise F1 >= 0.99 on the labeled spec
corpus, and checkpoint-resume (stage skip on re-run).
"""

from __future__ import annotations

import itertools
import json
import os

from pyspark.sql import functions as F

from blurrily_spark.plans.pipeline import LinkagePipeline, build_turns
from blurrily_spark.sources.synth import generate_transcripts


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
        words_per_turn=8, n_perturbations=1, seed=11, with_truth=True,
    )
    transcripts.cache()

    pipe = LinkagePipeline(
        spark, str(tmp_path), jaccard_threshold=0.55, min_matches=2
    )
    entities = pipe.run(transcripts.drop("entity_true"))

    # --- conversation-level clustering quality (same-entity turns share
    # templates; turn texts of the same turn_idx across variants are near-dups)
    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"),
        "entity_true",
        "turn_idx",
    ).collect()
    truth = {(r["ref"]): (r["entity_true"], r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}

    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99"

    # --- per-turn text equality under stable (conv_id, turn_idx) ordering
    turns = build_turns(transcripts.drop("entity_true"))
    orig = transcripts.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    kept = turns.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in orig] == [tuple(r) for r in kept]

    # --- manifest written with per-stage metrics
    manifest = json.load(open(os.path.join(str(tmp_path), "_manifest.json")))
    assert set(manifest["stages"]) == set(LinkagePipeline.STAGES) | {"pairs_salting"}
    assert all(
        not s["skipped"]
        for k, s in manifest["stages"].items()
        if k in LinkagePipeline.STAGES
    )

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
        words_per_turn=8, n_perturbations=1, seed=11, with_truth=True,
    )
    pipe = LinkagePipeline(
        spark, str(tmp_path), jaccard_threshold=0.55, min_matches=3, max_df=16
    )
    entities = pipe.run(transcripts.drop("entity_true"))
    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"), "entity_true", "turn_idx"
    ).collect()
    truth = {r["ref"]: (r["entity_true"], r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}
    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99 with capped blocking"


def test_distributed_pairwise_f1_matches_itertools(spark):
    """quality.pairwise_f1 (join-based) == the itertools oracle."""
    import random

    from blurrily_spark.quality import pairwise_f1 as dist_f1

    rng = random.Random(5)
    ids = list(range(200))
    pred = {i: rng.randrange(12) for i in ids}
    truth = {i: (rng.randrange(10), 0) for i in ids}

    expected = pairwise_f1(pred, {k: v for k, v in truth.items()})
    pdf = spark.createDataFrame([(i, pred[i]) for i in ids], "ref long, entity_id long")
    tdf = spark.createDataFrame(
        [(i, truth[i][0] * 1000 + truth[i][1]) for i in ids],
        "ref long, entity_true long",
    )
    # recompute the oracle against the same combined-key truth
    truth_combined = {i: truth[i][0] * 1000 + truth[i][1] for i in ids}
    expected = pairwise_f1(pred, {k: (v,) for k, v in truth_combined.items()})
    got = dist_f1(pdf, tdf)
    assert abs(got["f1"] - expected) < 1e-12


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


def _word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(5))


def _toy_transcripts(spark, n_docs, hot_docs=0, seed=7):
    """One-turn conversations of random 5-letter words; the first
    ``hot_docs`` docs additionally carry the shared 2-letter word "zq"
    (surrounded by varying words), whose two interior trigrams " zq"/"zq "
    get df = hot_docs while every other trigram stays rare."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        words = [_word(rng) for _ in range(8)]
        if i < hot_docs:
            words.insert(4, "zq")
        rows.append((f"c{i:05d}", 0, " ".join(words)))
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_pipeline_auto_salting_activates_on_skew_only(spark, tmp_path):
    """Round-4 verdict #2: the pipeline's default salt_buckets="auto" is a
    df-driven skew decision -- on a corpus with a dominant trigram the
    salted (two-join union) plan activates for the hot keys only, on a
    uniform corpus the plain single-join plan runs, and the decision is
    recorded in the run manifest."""
    from blurrily_spark.operators.pairs import candidate_pairs, hot_trigrams
    from blurrily_spark.plans.pipeline import build_turns, turns_to_postings

    # --- uniform: nothing hot, plain plan, pipeline still green
    uni = _toy_transcripts(spark, 120, hot_docs=0)
    pipe_u = LinkagePipeline(
        spark, str(tmp_path / "uni"), min_matches=2, compute_jw=False
    )
    pipe_u.run(uni)
    assert pipe_u.metrics["pairs_salting"]["active"] is False
    assert pipe_u.metrics["pairs_salting"]["hot_key_count"] == 0

    # --- skewed: the shared-word trigrams cross the fair-share threshold
    # 200/500 docs share the word: its two trigrams reach df=205 against a
    # fair-share threshold of ~155 (the 100-doc variant's df=105 correctly
    # stays UNDER the ~127 threshold -- two keys at 105 are not a straggler)
    skew = _toy_transcripts(spark, 500, hot_docs=200)
    pipe_s = LinkagePipeline(
        spark, str(tmp_path / "skew"), min_matches=2, compute_jw=False
    )
    pipe_s.run(skew)
    m = pipe_s.metrics["pairs_salting"]
    assert m["active"] is True and 1 <= m["hot_key_count"] <= 8
    assert m["buckets"] == LinkagePipeline.AUTO_SALT_BUCKETS
    # decision lands in the manifest
    with open(os.path.join(str(tmp_path / "skew"), "_manifest.json")) as fh:
        assert json.load(fh)["stages"]["pairs_salting"]["active"] is True

    # --- plan shape (verdict #1's pin): hot-key salting = a UNION of the
    # plain cold join and the salted hot join (the salt attribute only
    # exists in the hot branch, so the salt column is the discriminator)
    import re

    postings = turns_to_postings(build_turns(skew))
    hot, _thr = hot_trigrams(postings, LinkagePipeline.AUTO_SALT_BUCKETS)
    assert hot
    salted_plan = (
        candidate_pairs(postings, salt_buckets=8, hot_keys=hot)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Union" in salted_plan and re.search(r"\bsalt#", salted_plan)
    plain_plan = (
        candidate_pairs(postings)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert not re.search(r"\bsalt#", plain_plan)

    # salting must not change the answer: pair multisets identical
    a = sorted(map(tuple, candidate_pairs(postings, salt_buckets=8, hot_keys=hot).collect()))
    b = sorted(map(tuple, candidate_pairs(postings).collect()))
    assert a == b


def test_pipeline_golden_stage(spark, tmp_path):
    """golden=True appends a survivorship stage: exactly one canonical
    record per entity, its ref a member of that entity, n_members summing
    back to the turn count -- and the stage resumes like every other."""
    from blurrily_spark.sources.synth import generate_transcripts

    t = generate_transcripts(
        spark, n_entities=6, variants_per_entity=3, turns_per_conv=3, seed=9
    )
    wd = str(tmp_path / "wd")
    pipe = LinkagePipeline(
        spark, wd, jaccard_threshold=0.5, min_matches=2, golden=True
    )
    entities = pipe.run(t)
    golden = pipe.golden_df
    assert golden is not None
    g = golden.collect()
    ents = entities.collect()
    by_entity: dict[int, set[int]] = {}
    for r in ents:
        by_entity.setdefault(r["entity_id"], set()).add(r["ref"])
    assert {r["entity_id"] for r in g} == set(by_entity)
    assert sum(r["n_members"] for r in g) == len(ents)
    for r in g:
        assert r["canonical_ref"] in by_entity[r["entity_id"]]
        assert r["canonical_len"] == len(r["canonical_text"])
    # resume: a second run over the same workdir skips the golden stage
    pipe2 = LinkagePipeline(
        spark, wd, jaccard_threshold=0.5, min_matches=2, golden=True
    )
    pipe2.run(t)
    assert pipe2.metrics["golden"]["skipped"]


def test_capped_blocking_skips_salting_scan(spark, tmp_path, monkeypatch):
    """With max_df two-phase blocking, no surviving key can be hot (its
    generation df is capped), so the auto-salt decision must short-circuit
    WITHOUT running hot_trigrams' full-postings aggregation -- and must say
    why in the manifest."""
    import blurrily_spark.plans.pipeline as pl

    def _boom(*a, **k):  # the scan we must never pay in the capped path
        raise AssertionError("hot_trigrams must not run when max_df is set")

    monkeypatch.setattr(pl, "hot_trigrams", _boom)
    t = _toy_transcripts(spark, 120, hot_docs=40)
    pipe = LinkagePipeline(
        spark, str(tmp_path / "wd"), min_matches=2, max_df=64, compute_jw=False
    )
    pipe.run(t)
    m = pipe.metrics["pairs_salting"]
    assert m["active"] is False and "max_df" in m["reason"]


def test_pipeline_knn_candidate_mode_f1(spark, tmp_path):
    """candidate_mode='knn': bounded per-record candidate generation keeps
    F1 >= 0.99 on the labeled corpus, and the pairs stage is provably
    bounded at n_turns * knn_k (the property thresholded blocking lacks)."""
    import pytest

    transcripts = generate_transcripts(
        spark, n_entities=12, variants_per_entity=3, turns_per_conv=3,
        words_per_turn=8, n_perturbations=1, seed=11, with_truth=True,
    )
    pipe = LinkagePipeline(
        spark, str(tmp_path), jaccard_threshold=0.55, min_matches=2,
        candidate_mode="knn", knn_k=10,
    )
    entities = pipe.run(transcripts.drop("entity_true"))
    truth_rows = transcripts.select(
        F.xxhash64("conv_id", "turn_idx").alias("ref"), "entity_true", "turn_idx"
    ).collect()
    truth = {r["ref"]: (r["entity_true"], r["turn_idx"]) for r in truth_rows}
    pred = {r["ref"]: r["entity_id"] for r in entities.collect()}
    f1 = pairwise_f1(pred, truth)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99 in knn candidate mode"

    # the bound is structural: distinct unordered pairs from n*k directed edges
    n_turns = transcripts.count()
    assert pipe.metrics["pairs"]["rows"] <= n_turns * 10
    assert pipe.metrics["pairs_salting"]["reason"].startswith("knn")

    with pytest.raises(ValueError, match="candidate_mode"):
        LinkagePipeline(spark, str(tmp_path), candidate_mode="bogus")


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
    LinkagePipeline(
        spark, str(tmp_path), min_matches=3, max_df=16, compute_jw=False
    ).run(t)
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
