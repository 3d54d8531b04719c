"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 15 --trace 0

Run from the repository root. The run starts one Spark driver on
``local[<cores>]`` (every core this process may use), sets up
``SETUP_ROUNDS`` times (session start, inputs, warm-up) and keeps the last
session, then runs the workload's closed loop for ``--seconds`` and checks
every answer against an oracle.

Output: one JSON line with provenance and the full report (the wall and
CPU time of every kind of step, with its sample count, and each workload's
own metric names, wall-clock latencies included), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, read from spans around the
calls into each layer (see tracing.py).

Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is removed at exit. The run fails (exit code 2, no
result line) when the package is not in the tree it was started from.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two setup rounds: the first starts the JVM, the second repeats the setup
# in the warm session. A third round would add 5 to 9 s to a run that
# already takes 45 to 75 s on a 4-core host, and a comparison needs dozens.
SETUP_ROUNDS = 2
# A run must end well inside three minutes, whatever the host does.
RUN_DEADLINE_S = 170


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor; the smoke test runs below 1",
    )
    return p.parse_args(argv)


class RunTimeout(Exception):
    pass


def _alarm(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_DEADLINE_S} s")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def latency_summary(xs: list[float]) -> dict:
    """Median plus the highest of p90/p99/p99.9 that has at least ten
    samples beyond it, with the sample count (seconds in, milliseconds
    out)."""
    out = {"n": len(xs)}
    if not xs:
        return out
    s = sorted(xs)
    out["p50_ms"] = statistics.median(s) * 1e3
    for p in (99.9, 99.0, 90.0):
        if len(s) * (1 - p / 100) >= 10:
            out[f"p{p:g}_ms"] = s[math.ceil(p / 100 * len(s)) - 1] * 1e3
            break
    return out


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def provenance(args, n_cores: int) -> dict:
    import pyspark

    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "blurrily_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "cores_used": n_cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "package_sha256": digest.hexdigest(),
        "host": platform.node(),
    }


def start_session(n_cores: int, work: str):
    from blurrily_spark import config

    return config.get_spark(
        "perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a small fixed heap, committed and touched at start, keeps peak
            # RSS from depending on when the collector grew the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads every job of the run from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str, units: dict[str, dict[str, str]]) -> tuple[dict, dict]:
    """One run; ``units`` maps each metric group of BENCHMARK.json to
    {name: unit}."""
    import tracing
    import workloads

    n_cores = cores()
    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, work, n_cores, tracer)

    # Every round regenerates and materializes the inputs and warms up; the
    # first one also starts the session (a SparkContext cannot be restarted
    # cleanly inside one Python process).
    setup_s: list[float] = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = start_session(n_cores, work)
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
    jvm = spark.sparkContext._gateway.proc.pid

    if tracer is not None:
        tracer.phase = "measure"
        tracer.overhead_s = 0.0
    samples: dict[str, list[float]] = {}
    attempted = failed = 0
    ticks0 = _cpu_ticks()
    cpu0 = wl.cpu()[0]
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while True:
        attempted += 1
        try:
            with wl.step("op", args.workload):
                ok, timings = wl.op()
        except Exception:
            traceback.print_exc()
            ok, timings = False, []
        failed += 0 if ok else 1
        for kind, dt in timings:
            samples.setdefault(kind, []).append(dt)
        if time.perf_counter() >= deadline and attempted >= wl.MIN_OPS:
            break
    window_s = time.perf_counter() - t_start
    window_cpu_s = wl.cpu()[0] - cpu0
    ticks1 = _cpu_ticks()
    if tracer is not None:
        overhead_s = tracer.overhead_s  # the window's; later spans add to it
        wl.after_window()
        tracer.uninstall()
        wl.traced_facts()
        tracer.harvest(spark.sparkContext)
    attempted += wl.setup_checks
    failed += wl.setup_failures
    wl.teardown()

    rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024
    end_to_end, report = wl.metrics(samples, window_s, window_cpu_s)
    end_to_end = {
        "setup_s": statistics.median(setup_s),
        "peak_rss_mb": rss_mb,
        **end_to_end,
    }
    report.update(
        setup_s=statistics.median(setup_s),
        setup_rounds_s=setup_s,
        peak_rss_mb=rss_mb,
        failed_ops_ratio=failed / attempted,
        window_s=window_s,
        window_cpu_s=window_cpu_s,
        # share of the window's CPU time the hypervisor gave to other guests
        steal_ratio=(ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        # wall and CPU time of each kind of step (``*_cpu``: CPU seconds)
        timings={k: latency_summary(v) for k, v in samples.items()},
    )
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if tracer is None:
        result["metrics"] = {
            k: {"value": v, "unit": units["end_to_end"][k]} for k, v in end_to_end.items()
        }
    else:
        per_layer = layer_metrics(
            tracer, wl, attempted - wl.setup_checks, window_s, overhead_s, n_cores,
            units["per_layer"],
        )
        report["end_to_end_traced"] = end_to_end
        report["trace_overhead_s"] = overhead_s
        result["metrics"] = {
            k: {"value": v, "unit": units["per_layer"][k]} for k, v in per_layer.items()
        }
    report["provenance"] = provenance(args, n_cores)
    return result, report


def layer_metrics(
    tracer, wl, n_ops: int, window_s: float, overhead_s: float, n_cores: int, names
) -> dict:
    import tracing

    spans = tracer.spans
    measured = [s for s in spans if s.phase == "measure"]
    phases = {"config": ("setup", SETUP_ROUNDS), **wl.layer_phases}
    out = tracing.layer_metrics(spans, n_ops, phases)
    finds = [s for s in measured if s.name == "Map.find"]
    out["api.jobs_per_find"] = (
        sum(d.jobs for s in finds for d in tracing.subtree(s)) / len(finds) if finds else 0.0
    )
    overheads = [
        s.seconds - c.seconds
        for s in measured if s.name == "BlurrilyClient.find"
        for c in s.children if c.name == "Map.find"
    ]
    out["server.overhead_ms"] = statistics.median(overheads) * 1e3 if overheads else 0.0
    gathered = sum(d.input_records for s in finds for d in tracing.subtree(s))
    out["find.gathered_rows_per_result"] = gathered / wl.results if wl.results else 0.0
    out["spark.busy_ratio"] = sum(s.run_s for s in measured) / (window_s * n_cores)
    out["spark.gc_s"] = sum(s.gc_s for s in measured) / max(1, n_ops)
    out["trace.overhead_ratio"] = overhead_s / window_s
    for name in names:
        out.setdefault(name, wl.layer_facts.get(name, 0.0))
    return out


def load_units() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        group: {m["name"]: m["unit"] for m in spec[group]}
        for group in ("end_to_end", "per_layer")
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(RUN_DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            import blurrily_spark
        except ImportError as exc:
            print(f"perfbench: the package is not importable here: {exc}", file=sys.stderr)
            return 2
        if not os.path.abspath(blurrily_spark.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: blurrily_spark is not from {ROOT}", file=sys.stderr)
            return 2
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        try:
            result, report = run(args, work, load_units())
        finally:
            stop_jvm()
        print(json.dumps({"report": report}))
        print(json.dumps(result))
        return 0
    except RunTimeout as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
