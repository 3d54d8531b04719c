"""Package blurrily_spark for ``spark-submit --py-files`` deployment.

Builds a deterministic zip of the package (source only, no caches, fixed
timestamps so re-builds of the same tree are byte-identical — the artifact
can be content-addressed in cluster storage) and prints the submit line.

The north rule's batch entry point is ``spark-submit --py-files`` on a
multi-executor cluster; this is the artifact that ships the engine to the
executors. The driver script stays outside the zip (``--py-files`` extends
``sys.path``; it does not pick an entry point):

    python scripts/make_pyfiles.py            # -> dist/blurrily_spark.zip
    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/blurrily_spark.zip \\
        your_job.py

where ``your_job.py`` does e.g.::

    from blurrily_spark.plans.pipeline import LinkagePipeline
    entities = LinkagePipeline(spark, workdir, max_df=500).run(transcripts)

No hard-coded master/parallelism lives in the package itself
(``blurrily_spark/config.py`` leaves ``master`` to the submitter), so the
same zip runs unchanged at N and 4N executors — the two-cluster-size
scaling protocol in ``scripts/bench_scaling.py`` exercises exactly that
property at two ``local[k]`` levels in this sandbox.
"""

from __future__ import annotations

import argparse
import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Fixed DOS timestamp (1980-01-01, the zip epoch) => deterministic output.
_EPOCH = (1980, 1, 1, 0, 0, 0)


def build_zip(out_path: str) -> list[str]:
    """Write the package zip; returns the archived member names."""
    pkg_root = os.path.join(REPO, "blurrily_spark")
    members: list[str] = []
    for root, dirs, names in os.walk(pkg_root):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(names):
            if name.endswith((".pyc", ".pyo")):
                continue
            full = os.path.join(root, name)
            members.append(os.path.relpath(full, REPO))
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel in members:
            with open(os.path.join(REPO, rel), "rb") as fh:
                info = zipfile.ZipInfo(rel.replace(os.sep, "/"), date_time=_EPOCH)
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0o644 << 16
                zf.writestr(info, fh.read())
    return members


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--out", default=os.path.join(REPO, "dist", "blurrily_spark.zip")
    )
    args = ap.parse_args()
    members = build_zip(args.out)
    size = os.path.getsize(args.out)
    print(f"wrote {args.out} ({size} bytes, {len(members)} files)")
    print(
        "submit: spark-submit --master <cluster> "
        f"--py-files {args.out} your_job.py"
    )


if __name__ == "__main__":
    main()
