"""Capture .explain("formatted") of every bench.py query that has a plan.

Usage: python scripts/capture_plans.py <outdir> <suffix>
  e.g.  ENGINE_ROOT=<old checkout> python scripts/capture_plans.py plans/new before
        ENGINE_ROOT=<new checkout> python scripts/capture_plans.py plans/new after

The round-6 captures predate ``bench.queries`` and so are not all the
plans bench.py timed; they are kept in git history only:
``git show 30e1a08:plans/r06/`` lists them.

ENGINE_ROOT (not PYTHONPATH -- the sys.path.insert below takes
precedence over it) selects which checkout's bench.py and engine are
imported; it defaults to this script's repo and must hold
``bench.queries``. Each entry of that table with a plan builder writes
<outdir>/<name>_<suffix>.txt: the plan bench.py times, at its blocking
cap and over its stored bucketed index, which q_index_build's action
writes first. Eager or iterative entries have no plan.
"""

from __future__ import annotations

import os
import sys

# PYTHONPATH decides which engine version is imported; keep cwd out of it
sys.path.insert(0, os.environ.get("ENGINE_ROOT", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import bench  # noqa: E402


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_plans(entries, out: str, suffix: str) -> list[str]:
    os.makedirs(out, exist_ok=True)
    paths = []
    for q in entries:
        if q.plan is None:
            continue
        path = os.path.join(out, f"{q.name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain(q.plan()))
        print("wrote", path)
        paths.append(path)
    return paths


def main(argv: list[str] | None = None) -> None:
    out, suffix = (sys.argv[1:] if argv is None else argv)[:2]
    spark = bench.session("capture-plans")
    table = bench.queries(spark)
    try:
        next(q for q in table.entries if q.name == "q_index_build").run()
        write_plans(table.entries, out, suffix)
    finally:
        table.close()
    spark.stop()


if __name__ == "__main__":
    main()
