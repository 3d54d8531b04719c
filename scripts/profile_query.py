"""Per-query stage profiler (guide §1): runs ONE bench query, then prints
per-stage wall/task times and shuffle bytes of its last trial so
optimization targets the right stage. Usage:

    python scripts/profile_query.py <query> [trials]

where <query> is any name of bench.py's query table (``bench.queries``).
Each trial runs under the job group bench.py gives that query; the stages
are read from the in-process status store, so no event log is written.
"""

from __future__ import annotations

import os
import sys

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def stage_rows(sc, job_ids) -> list[dict]:
    """Per-stage metrics of the stages the given jobs ran. A job that
    reuses an earlier job's shuffle lists it as a skipped stage that ran
    no task; those are left out."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    rows: list[dict] = []
    for jid in sorted(job_ids):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the status store
                continue
            if sd.numCompleteTasks() == 0:
                continue
            sub, comp = sd.submissionTime(), sd.completionTime()
            wall = (
                (comp.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and comp.isDefined()
                else 0.0
            )
            rows.append(
                {
                    "stage": sid,
                    "job": jid,
                    "wall_s": round(wall, 3),
                    "tasks": sd.numTasks(),
                    "name": sd.name().split("\n")[0][:60],
                    "exec_run_s": round(sd.executorRunTime() / 1e3, 2),
                    "cpu_s": round(sd.executorCpuTime() / 1e9, 2),
                    "gc_s": round(sd.jvmGcTime() / 1e3, 2),
                    "shuf_read_mb": round(sd.shuffleReadBytes() / 1e6, 1),
                    "shuf_write_mb": round(sd.shuffleWriteBytes() / 1e6, 1),
                    "out_rows": sd.shuffleWriteRecords(),
                }
            )
    return rows


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    name = args[0]
    trials = int(args[1]) if len(args) > 1 else 2

    spark = bench.session(f"profile-{name}")
    sc = spark.sparkContext
    table = bench.queries(spark)
    try:
        by_name = {q.name: q for q in table.entries}
        if name not in by_name:
            raise SystemExit(f"unknown query {name!r}; one of: {', '.join(by_name)}")
        if name != "q_index_build":
            by_name["q_index_build"].run()  # the stored index later entries read
        q = by_name[name]
        walls = []
        for _ in range(trials):
            if q.warm:
                q.run()
            dt, ids = bench.run_in_group(sc, q)
            walls.append(round(dt, 3))
        stages = stage_rows(sc, ids)
    finally:
        table.close()
    spark.stop()

    print(f"{name}: walls={walls}")
    stages.sort(key=lambda s: -s["wall_s"])
    tot = sum(s["wall_s"] for s in stages)
    print(f"last-trial stages (sum wall {tot:.2f}s):")
    for s in stages[:25]:
        print(
            f"  st{s['stage']:>4} wall={s['wall_s']:>6.2f} run={s['exec_run_s']:>7.2f} "
            f"cpu={s['cpu_s']:>7.2f} gc={s['gc_s']:>5.2f} tasks={s['tasks']:>3} "
            f"sr={s['shuf_read_mb']:>7.1f}M sw={s['shuf_write_mb']:>7.1f}M rows={s['out_rows']} {s['name']}"
        )


if __name__ == "__main__":
    main()
