"""spark-submit --py-files deployment harness.

The north_star's deployment clause is "deployed via spark-submit
--py-files with broadcast model weights at N and 4N executors". This
module packages `paddleocr_spark` into a zip and drives the batch
extraction job (paddleocr_spark/job.py) through a REAL
`spark-submit --master local[N] --py-files paddleocr_spark.zip`
invocation from a NEUTRAL working directory with PYTHONPATH stripped —
so every `paddleocr_spark.*` import on the driver and in the python
workers must resolve from the shipped archive, exactly how a cluster
deployment ships the code (the reference ships a conda env + repo
checkout per node instead; tools/infer/predict_system.py:310-326).

Consumers:
  - tests/test_spark_submit.py — byte-identity of the deployed
    artifact's extracted text vs the closed-form oracle, plus the
    per-partition lineage audit contract.
  - bench.py `_submit_pair` (the `scaling.submit_pyfiles_<n>_to_<4n>`
    row) — the same submitted job at N and 4N cores on the same input:
    the north_rule's two-cluster-size scaling criterion exercised
    through the deployment entry point itself, not an in-process
    session.

Also runnable standalone:
    python tools/submit_pyfiles.py <cores> <sf_dir> <workdir>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from paddleocr_spark.tuning import local_conf  # noqa: E402


def find_spark_submit() -> str:
    """The pip pyspark's own launcher — guarantees the launched JVM jars
    match the pyspark version the repo is developed against. Override
    with SPARK_GRAFT_SPARK_SUBMIT."""
    override = os.environ.get("SPARK_GRAFT_SPARK_SUBMIT")
    if override:
        return override
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    return "spark-submit"  # PATH fallback (/opt/spark/bin)


def build_zip(zip_path: str) -> str:
    """Package paddleocr_spark (pure .py, 56 modules) for --py-files."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "paddleocr_spark")
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def submit_extract(
    cores: int,
    sf_dir: str,
    workdir: str,
    zip_path: str | None = None,
    timeout: int = 900,
    pages: str | None = None,
    partitions: int | None = None,
) -> dict:
    """One spark-submit --py-files extraction run at local[cores].

    Input is either a testdata dir (`sf_dir`; pages synthesized from
    documents.parquet) or, with `pages`, a pre-materialized pages
    parquet — the latter is what bench.py uses so the submitted job
    reads the IDENTICAL input at both cluster sizes.

    Returns {"cores", "docs", "sec", "docs_per_sec", "results",
    "audit"} where sec times the extraction action only (job.py
    --bench-json; JVM/session startup excluded).
    """
    os.makedirs(workdir, exist_ok=True)
    if zip_path is None:
        zip_path = build_zip(os.path.join(workdir, "paddleocr_spark.zip"))
    # The primary script is COPIED out of the repo: spark-submit runs it
    # by path, and with cwd=workdir + PYTHONPATH stripped there is no
    # route to the repo checkout — the package must come from the zip.
    entry = os.path.join(workdir, "job_entry.py")
    with open(os.path.join(REPO, "paddleocr_spark", "job.py")) as src:
        body = src.read()
    with open(entry, "w") as dst:
        dst.write(body)

    tag = f"c{cores}"
    results = os.path.join(workdir, f"results_{tag}")
    audit = os.path.join(workdir, f"audit_{tag}")
    bench_json = os.path.join(workdir, f"bench_{tag}.json")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from --py-files
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # submit_extract always runs local[cores]: this host runs the
    # executors, so the host-side probes in local_conf (driver heap,
    # tmpfs spill dir) describe executor storage and memory
    conf = local_conf(cores)
    cmd = [
        find_spark_submit(),
        "--master", conf.pop("spark.master"),
        "--driver-memory", conf.pop("spark.driver.memory"),
        *(a for kv in conf.items() for a in ("--conf", "=".join(kv))),
        "--py-files", zip_path,
        entry,
        *(("--pages", pages) if pages else ("--sf-dir", sf_dir)),
        "--results", results,
        "--audit", audit,
        # fixed partition count at every cluster size (sized by the
        # data, as on a real cluster, so only the core count varies);
        # default 2x cores for the plain smoke-test use
        "--partitions", str(partitions or 2 * cores),
        "--bench-json", bench_json,
    ]
    proc = subprocess.run(
        cmd, cwd=workdir, env=env, timeout=timeout,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    if proc.returncode != 0 or not os.path.exists(bench_json):
        raise RuntimeError(
            f"spark-submit failed (rc={proc.returncode}):\n"
            + proc.stdout[-4000:]
        )
    with open(bench_json) as fh:
        out = json.load(fh)
    out.update({"cores": cores, "results": results, "audit": audit})
    return out


def main() -> None:
    cores = int(sys.argv[1])
    sf_dir = sys.argv[2]
    workdir = sys.argv[3]
    print(json.dumps(submit_extract(cores, sf_dir, workdir)))


if __name__ == "__main__":
    main()
