"""The benchmark workloads.

Each workload generates its inputs from the seed, hands only those inputs
to the package's public entry points, and checks every answer it gets back
against a pure-Python oracle (:mod:`model`). A workload has three steps:

* ``setup(spark)``: generate and materialize inputs, warm up. Runs once per
  setup round; the benchmark times it as ``setup_s``.
* ``op()``: one closed-loop operation. Returns ``(ok, samples)`` where
  ``samples`` is a list of ``(kind, seconds)`` timings.
* ``after_window()``: in a traced run only, right after the window and
  still traced, the calls that only the per-layer metrics need.
* ``traced_facts()``: after the window of a traced run, with the tracer
  removed, the per-layer facts that spans cannot give.

Why these two: ``linkage`` is the paper's product (transcripts to
entities); ``serve`` is the reference's point API (one client,
PUT/FIND/DELETE). Each bypasses the layers the other one stresses, so a
change to one layer should move one workload and leave the other flat.
The curation operators (``operators.dedup``, ``operators.corpus``) are no
workload of their own: the traced ``linkage`` run times one pass of them
after its window (:class:`Curation`).
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import model
from blurrily_spark.api import REF_RANGE
from blurrily_spark.operators import corpus as corpus_ops
from blurrily_spark.operators import dedup, pairs
from blurrily_spark.plans.pipeline import LinkagePipeline
from blurrily_spark.server import BlurrilyClient, BlurrilyServer
from blurrily_spark.sources import synth


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def process_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system, reaped children included) of this process
    and every process under it, and of the part under the JVM alone (Spark's
    Python workers). Unlike wall time, CPU time does not grow when the
    hypervisor runs other guests on this machine's cores."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile: its time is in its parent's
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])

    def under(pid: int, root: int) -> bool:
        while pid > 1 and pid != root:
            pid = parent.get(pid, 0)
        return pid == root

    me = os.getpid()
    total = sum(t for pid, t in ticks.items() if under(pid, me))
    workers = sum(t for pid, t in ticks.items() if pid != jvm_pid and under(pid, jvm_pid))
    return total / _TICKS_PER_S, workers / _TICKS_PER_S


class Workload:
    #: operations the window runs at least, so every timing kind has a sample
    MIN_OPS = 1

    def __init__(self, seed: int, scale: float, work: str, cores: int, tracer):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        #: extra per-layer facts known only to the workload
        self.layer_facts: dict[str, float] = {}
        #: layers whose spans are not the window's: {layer: (phase, units)}
        self.layer_phases: dict[str, tuple[str, int]] = {}
        #: oracle checks made outside the window, and how many of them failed
        self.setup_checks = 0
        self.setup_failures = 0
        self.warm_counts = None
        #: result rows returned by FIND-like operations in the window
        self.results = 0

    def n(self, base: int, floor: int) -> int:
        return max(floor, int(base * self.scale))

    def step(self, layer: str, name: str):
        """A traced span around a benchmark step of ``layer``, or nothing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def cpu(self) -> tuple[float, float]:
        """:func:`process_cpu_s` of this run."""
        return process_cpu_s(self.spark.sparkContext._gateway.proc.pid)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check_repeat(self, counts) -> None:
        """The warm-up of every setup round runs on the same seeded input,
        so its counts must come out the same each time."""
        if self.warm_counts is not None:
            self.check(counts == self.warm_counts)
        self.warm_counts = counts

    def check(self, ok: bool) -> None:
        """Count one oracle check made outside the window."""
        self.setup_checks += 1
        self.setup_failures += 0 if ok else 1

    def teardown(self) -> None:
        """Release what ``setup`` started, at the end of the run."""

    def after_window(self) -> None:
        """Traced calls that only a traced run makes, after its window."""

    def traced_facts(self) -> None:
        """Fill ``layer_facts`` after the window of a traced run."""

    def metrics(self, samples: dict, window_s: float, window_cpu_s: float) -> tuple[dict, dict]:
        """(end-to-end metrics, report under the workload's own names)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# linkage: LinkagePipeline over synthetic transcripts with planted entities
# ---------------------------------------------------------------------------


class Linkage(Workload):
    """Threshold mode with ``max_df`` two-phase blocking, the configuration
    bench.py times. Every run gets a fresh workdir, so no stage resumes.

    The warm-up is a full run over the same transcripts: a run over a
    smaller input leaves the first timed run about a fifth slower than the
    ones after it."""

    F1_MIN = 0.99
    # max_df follows the corpus (a tenth of the turns): a fixed cap of 64
    # drops the shared trigrams of many true pairs at 2,000 turns (F1 0.79)
    CONFIG = dict(jaccard_threshold=0.55, min_matches=3)
    # documents of the traced run's curation pass (plus a copy of each)
    CURATION_DOCS = 100

    def _transcripts(self, n_entities: int, seed: int, name: str):
        pdf = synth.generate_transcripts_pdf(
            n_entities=n_entities, variants_per_entity=4, turns_per_conv=5,
            words_per_turn=10, n_perturbations=2, seed=seed,
        )
        out = self.path(name)
        self.spark.createDataFrame(
            pdf.drop(columns=["entity_true"]), schema=synth.TRANSCRIPTS_SCHEMA
        ).repartition(self.cores).write.mode("overwrite").parquet(out)
        return pdf, self.spark.read.parquet(out)

    def setup(self, spark) -> None:
        self.spark = spark
        pdf, self.transcripts = self._transcripts(self.n(50, 10), self.seed, "transcripts")
        # a planted entity is one template turn and its perturbed variants
        self.truth = {
            (r.conv_id, r.turn_idx): (r.entity_true, r.turn_idx)
            for r in pdf.itertuples()
        }
        self.n_turns = len(pdf)
        self.max_df = max(64, self.n_turns // 10)
        self.pairs_per_s: list[float] = []
        self.stage_seconds: dict[str, list[float]] = {}
        self.edge_ratio: list[float] = []
        with self.step("config", "warm_up"):
            pipe, _, rows = self._run_pipeline(self.transcripts, "warm")
        self.stage_rows = {s: pipe.metrics[s]["rows"] for s in LinkagePipeline.STAGES}
        self.check(self._correct(rows))
        self.check_repeat(
            (self.stage_rows, sorted((r.conv_id, r.turn_idx, r.entity_id) for r in rows))
        )

    def _correct(self, rows) -> bool:
        pred = {(r.conv_id, r.turn_idx): r.entity_id for r in rows}
        self.f1 = model.pairwise_f1(pred, self.truth)
        return self.f1 >= self.F1_MIN and len(rows) == self.n_turns

    def _run_pipeline(self, transcripts, name: str):
        wd = self.path(name)
        try:
            pipe = LinkagePipeline(self.spark, wd, max_df=self.max_df, **self.CONFIG)
            cpu0 = self.cpu()
            t0 = time.perf_counter()
            entities = pipe.run(transcripts)
            dt = time.perf_counter() - t0
            cpu1 = self.cpu()
            with self.step("pipeline", "collect"):
                rows = entities.collect()
            return pipe, (dt, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]), rows
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def op(self):
        pipe, (dt, cpu_s, worker_cpu_s), rows = self._run_pipeline(self.transcripts, "run")
        m = pipe.metrics
        rows_by_stage = {s: m[s]["rows"] for s in LinkagePipeline.STAGES}
        ok = self._correct(rows) and rows_by_stage == self.stage_rows
        pair_s = m["pairs"]["seconds"] + m["scores"]["seconds"]
        self.pairs_per_s.append(m["pairs"]["rows"] / pair_s)
        for s in LinkagePipeline.STAGES:
            self.stage_seconds.setdefault(s, []).append(m[s]["seconds"])
        self.edge_ratio.append(m["edges"]["rows"] / max(1, m["scores"]["rows"]))
        return ok, [
            ("run", dt), ("run_cpu", cpu_s), ("run_worker_cpu", worker_cpu_s),
            ("run_jvm_cpu", cpu_s - worker_cpu_s),
            ("pairs_scores", pair_s),
        ]

    def after_window(self) -> None:
        # a warm-up pass, then the pass the dedup and corpus layers report
        cur = Curation(self, self.n(self.CURATION_DOCS, 20))
        self.tracer.phase = "curation_warm_up"
        ok, sig = cur.run()
        self.tracer.phase = "curation"
        ok2, sig2 = cur.run()
        self.check(ok)
        self.check(ok2 and sig2 == sig)
        self.curation_f1 = cur.f1
        self.layer_phases.update(dedup=("curation", 1), corpus=("curation", 1))

    def traced_facts(self) -> None:
        from blurrily_spark.plans.pipeline import build_turns, turns_to_postings

        # candidates generated by the capped blocking join, for pairs.kept_ratio
        postings = turns_to_postings(build_turns(self.transcripts))
        generated = pairs.candidate_pairs(
            postings, min_matches=1, max_df=self.max_df, keys_only=True
        ).count()
        self.layer_facts["pairs.kept_ratio"] = self.stage_rows["pairs"] / max(1, generated)
        for s, secs in self.stage_seconds.items():
            self.layer_facts[f"pipeline.{s}.s"] = sum(secs) / len(secs)
        self.layer_facts["scoring.edge_ratio"] = sum(self.edge_ratio) / len(self.edge_ratio)

    def metrics(self, samples, window_s, window_cpu_s):
        cpu_s = statistics.median(samples["run_cpu"])
        e2e = {
            "op_cpu_ms": cpu_s * 1e3,
            # the part outside Spark's Python workers: the JVM and the driver
            "aux_cpu_ms": statistics.median(samples["run_jvm_cpu"]) * 1e3,
            "items_per_cpu_s": self.n_turns / cpu_s,
        }
        report = {
            "linkage_turns_per_s": self.n_turns / statistics.median(samples["run"]),
            "linkage_turns_per_cpu_s": e2e["items_per_cpu_s"],
            "linkage_pairs_per_s": statistics.median(self.pairs_per_s),
            "turns": self.n_turns,
            "pairwise_f1": self.f1,
            "stage_rows": self.stage_rows,
        }
        if hasattr(self, "curation_f1"):
            report["near_dedup_pairwise_f1"] = self.curation_f1
        return e2e, report


# ---------------------------------------------------------------------------
# serve: BlurrilyClient -> BlurrilyServer -> api.Map, one connection
# ---------------------------------------------------------------------------


class Serve(Workload):
    DB = "bench"
    # one cycle of operations: reads, then each kind of write followed by a
    # FIND; a fixed cycle keeps the sample count of each kind steady
    CYCLE = ("find", "put", "find", "delete", "find", "put")
    MIN_OPS = 2

    def setup(self, spark) -> None:
        self.spark = spark
        if getattr(self, "server", None) is None:
            os.makedirs(self.path("maps"), exist_ok=True)
            self.server = BlurrilyServer(
                spark, host="127.0.0.1", port=0, directory=self.path("maps"),
                save_interval=3600.0,
            ).start()
            self.client = BlurrilyClient("127.0.0.1", self.server.port, self.DB)
        rng = random.Random(self.seed)
        # warm-up on its own map: a few PUTs and one FIND
        warm = BlurrilyClient("127.0.0.1", self.server.port, "warm")
        with self.step("config", "warm_up"):
            try:
                for ref in range(1, 6):
                    warm.put(model.serve_needle(rng), ref)
                warm.find(model.serve_needle(rng))
                warm.clear()
            finally:
                warm.close()
        self.client.clear()
        self.model = model.TrigramModel()
        self.next_ref = REF_RANGE[0]
        preload = [model.serve_needle(rng) for _ in range(self.n(2000, 50))]
        t0 = time.perf_counter()
        for needle in preload:
            self._put(needle)
        ok = self._check_find(model.typo(rng, preload[0]))
        self.load_rate = len(preload) / (time.perf_counter() - t0)
        self.check(ok)
        self.rng = rng
        self.i = 0
        self.requests = 0

    def _put(self, needle: str) -> None:
        ref, self.next_ref = self.next_ref, self.next_ref + 1
        self.client.put(needle, ref)
        self.model.put(needle, ref)

    def _check_find(self, needle: str) -> bool:
        got = self.client.find(needle)
        return [tuple(t) for t in got] == self.model.find(needle)

    def _timed_find(self, needle: str):
        cpu0 = self.cpu()[0]
        t0 = time.perf_counter()
        got = self.client.find(needle)
        dt = time.perf_counter() - t0
        cpu_s = self.cpu()[0] - cpu0
        self.results += len(got)
        return [tuple(t) for t in got] == self.model.find(needle), dt, cpu_s

    def op(self):
        rng = self.rng
        kind = self.CYCLE[self.i % len(self.CYCLE)]
        self.i += 1
        stored = list(self.model.needles.items())
        if kind == "find":
            if rng.random() < 0.8:
                needle = model.typo(rng, rng.choice(stored)[1])
            else:
                needle = model.serve_needle(rng)
            ok, dt, cpu_s = self._timed_find(needle)
            self.requests += 1
            return ok, [("find", dt), ("find_cpu", cpu_s)]
        if kind == "put":
            needle = model.serve_needle(rng)
            t0 = time.perf_counter()
            self._put(needle)
        else:
            ref, needle = rng.choice(stored)
            t0 = time.perf_counter()
            self.client.delete(ref)
            self.model.delete(ref)
        write_s = time.perf_counter() - t0
        ok, dt, cpu_s = self._timed_find(model.typo(rng, needle))
        self.requests += 2
        return ok, [(kind, write_s), (f"find_after_{kind}", dt), ("find_after_write_cpu", cpu_s)]

    def traced_facts(self) -> None:
        # snapshot bytes per needle byte of the served map
        snap = self.path("snapshot")
        self.server.map_group.map(self.DB).save(snap)
        snap_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(snap) for f in files if f.endswith(".parquet")
        )
        text_bytes = sum(len(n.encode()) for n in self.model.needles.values())
        self.layer_facts["index.bytes_per_text_byte"] = snap_bytes / text_bytes

    def metrics(self, samples, window_s, window_cpu_s):
        finds = samples["find"]
        after_write = samples.get("find_after_put", []) + samples.get("find_after_delete", [])
        e2e = {
            "op_cpu_ms": statistics.median(samples["find_cpu"]) * 1e3,
            "aux_cpu_ms": statistics.median(samples["find_after_write_cpu"]) * 1e3,
            # every round trip of the window, so PUT and DELETE cost shows
            "items_per_cpu_s": self.requests / window_cpu_s,
        }
        report = {
            "serve_find_p50_ms": statistics.median(finds) * 1e3,
            # p90 only once at least ten samples lie beyond it
            "serve_find_p90_ms": (
                sorted(finds)[math.ceil(0.9 * len(finds)) - 1] * 1e3
                if len(finds) >= 100 else None
            ),
            "serve_find_after_write_p50_ms": statistics.median(after_write) * 1e3,
            "serve_find_after_put_p50_ms": statistics.median(samples["find_after_put"]) * 1e3,
            "serve_put_p50_ms": statistics.median(samples["put"]) * 1e3,
            "serve_requests_per_s": self.requests / window_s,
            "serve_requests_per_cpu_s": e2e["items_per_cpu_s"],
            # one preload per run, in the last (warm) setup round: too few
            # samples to bound, so it is reported here only
            "serve_load_refs_per_s": self.load_rate,
            "refs": len(self.model.weights),
        }
        return e2e, report

    def teardown(self) -> None:
        if getattr(self, "server", None) is None:
            return
        try:
            self.client.clear()  # stop() saves every map: keep that save empty
        finally:
            self.client.close()
            self.server.stop()
            self.server = None


# ---------------------------------------------------------------------------
# curation: near-dedup, span cutting and LM scoring (traced linkage runs)
# ---------------------------------------------------------------------------


class Curation:
    """One pass of ``dedup.near_dedup``, ``dedup.cut_duplicate_spans`` and
    ``corpus.lm_score`` over seeded documents plus a truncated copy of each
    (the planted near-duplicates), checked against the planted truth."""

    OFFSET = 10_000_000
    F1_MIN = 0.95

    def __init__(self, owner: Workload, n_docs: int):
        self.step = owner.step
        docs = model.documents(owner.seed, n_docs)
        rows = docs + model.truncated_dups(docs, self.OFFSET)
        self.n_rows = len(rows)
        self.truth = {doc_id: doc_id % self.OFFSET for doc_id, _ in rows}
        out = owner.path("curation")
        owner.spark.createDataFrame(rows, "doc_id long, text string").repartition(
            owner.cores
        ).write.mode("overwrite").parquet(out)
        self.corpus = owner.spark.read.parquet(out)
        self.docs = self.corpus.where(F.col("doc_id") < self.OFFSET)

    def run(self) -> tuple[bool, tuple]:
        """(answers match the oracle, counts that repeat for the same seed)"""
        nd = dedup.near_dedup(self.corpus, hash_fn="fast")
        with self.step("dedup", "collect"):
            keep = {r.id: r.keep_id for r in nd.select("id", "keep_id").collect()}
        cut = dedup.cut_duplicate_spans(self.corpus, hash_fn="fast")
        with self.step("dedup", "collect"):
            cut_row = cut.selectExpr(
                "count(*)", "sum(length(kept_text))", "sum(n_kept_words)"
            ).first()
        lm = corpus_ops.lm_score(self.docs, self.corpus)
        with self.step("corpus", "collect"):
            lm_row = lm.selectExpr("count(*)", "sum(n_oov)", "round(avg(avg_logp), 9)").first()
        self.f1 = model.pairwise_f1(keep, self.truth)
        # one output row per input document
        rows_ok = len(keep) == cut_row[0] == lm_row[0] == self.n_rows
        sig = (sum(1 for i, k in keep.items() if i != k), tuple(cut_row), tuple(lm_row))
        return self.f1 >= self.F1_MIN and rows_ok, sig


WORKLOADS = {
    "linkage": Linkage,
    "serve": Serve,
}
