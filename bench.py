#!/usr/bin/env python
"""Benchmark harness (driver contract): times the headline board at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS, else the host's cores] and prints ONE JSON line
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Every query is forced end-to-end with a noop-format write (full
evaluation, nothing collected to the driver) so Catalyst can't prune the
work a `count()` would let it skip. `spread_warnings` names every query
whose timed attempts disagree by more than SPREAD_WARN_RATIO.

Every other number comes from perfbench, which measures the host it
runs on:
- `host` is `perfbench.host.fingerprint()`, and `probe_before` /
  `probe_after` are `perfbench.host.probe()` (`cpu_gflops`, `mem_gbps`)
  around the timed board;
- `scaling.perfbench` is the last JSON line of a traced
  `perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1`
  (about 80 s on 4 cores): per workload the 1->nproc
  `pipeline.scaling_eff` (the BASELINE.json north_rule's N->4N
  efficiency on a 4-core host) and the per-layer ledger;
- `scaling.submit_pyfiles_<n>_to_<4n>` runs the extraction job through a
  real `spark-submit --py-files` at local[CPUS/4] and local[CPUS] and
  checks that both sizes write identical text.
SPARK_GRAFT_SKIP_SCALING=1 skips both scaling rows.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
import uuid

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from paddleocr_spark.tuning import cpus, local_session  # noqa: E402
from perfbench.host import fingerprint, probe  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = cpus()
SKIP_SCALING = os.environ.get("SPARK_GRAFT_SKIP_SCALING", "") == "1"
# per-op suite breakdown (text/embedding/media branch registries timed
# individually) — skippable for quick iterations
SKIP_BREAKDOWN = os.environ.get("SPARK_GRAFT_SKIP_BREAKDOWN", "") == "1"
# Headline queries at/above this first-pass time get a second timed pass
# (best-of-2): on the shared host a single sample measures the window as
# much as the query (r3's driver artifact recorded 16.1 s for a query
# four quiet-window sessions put at 4.9-6.1 s). Sub-2s queries aren't
# re-run — their noise can't move the round-over-round comparison.
RERUN_FLOOR_SEC = 2.0
# Timed attempts of one query further apart than this (max/min) say the
# host moved under the measurement; such queries land in spread_warnings.
SPREAD_WARN_RATIO = 1.5

HEADLINE = [
    "ocr_extract_text",
    "ocr_extract_multipage",
    "ocr_extract_sliced",
    "ocr_extract_poster",
    "ocr_extract_onnx",
    "ocr_extract_oriented",
    "html_main_content",
    "text_stats_suite",
    "dedup_exact",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "simhash_fingerprints",
    "ngram_jaccard_pairs",
    "ann_cosine_topk",
    "ocr_corrections_chain",
    "ic_field_extract",
    "ic_fields_from_pages",
    "ic_name_extract",
    "ic_ultimate_extract",
    "ic_address_extract",
    "malay_word_split",
    "word_boxes",
    "det_iou_hmean",
    "table_teds",
    "layout_detect",
    "sorted_layout_boxes",
    "table_html_assembly",
    "table_structure_from_pages",
    "address_assembly",
    "paragraph_merge",
    "rotation_vote",
    "multimodal_suite",
    "audio_features",
    "video_keyframes",
    "extraction_accuracy",
    "relational_ops_suite",
    "doc_markdown_recovery",
    "rtl_reverse",
    "media_codec_suite",
    "embedding_ops_suite",
    "corpus_pipeline",
]


def _sf_label(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def _pages_cache(spark, sf_dir: str) -> str:
    """Materialize the single- and multi-page corpora once so every timed
    query measures the engine (scan -> salted shuffle -> OCR UDF), not
    fixture rendering. The cache root is keyed by the fixture version and
    the documents.parquet mtime, so a renderer or corpus change can never
    silently reuse stale pages; SPARK_GRAFT_PAGES_CACHE makes
    pages_from_documents read the materialization (image_meta,
    frame_sample, extraction_accuracy, ocr_extract_multipage then time
    their operator, not the render)."""
    from paddleocr_spark.sources import pages as pages_mod

    import glob
    import shutil

    from paddleocr_spark.functions.slicing import POSTER_WRAP

    docs = os.path.join(sf_dir, "documents.parquet")
    fp = f"v{pages_mod.FIXTURE_VERSION}_{int(os.path.getmtime(docs))}"
    root = f"/tmp/spark_graft_pages_sf{_sf_label(sf_dir)}_{fp}"
    if not os.path.exists(root):
        # Prune superseded fingerprints only when about to materialize
        # a NEW one (the moment the old cache is provably obsolete) —
        # pruning unconditionally could delete a cache a concurrent
        # run is still scanning.
        for stale in glob.glob(f"/tmp/spark_graft_pages_sf{_sf_label(sf_dir)}_*"):
            shutil.rmtree(stale, ignore_errors=True)
    label = os.path.basename(sf_dir.rstrip("/"))
    variants = (
        ("single", False, 0),
        ("multi", True, 0),
        (f"singlew{POSTER_WRAP}", False, POSTER_WRAP),
    )
    for kind, multi, wrap in variants:
        path = os.path.join(root, f"{kind}_{label}.parquet")
        if not os.path.exists(path):
            # repartition before write: the render job inherits the
            # 1-file documents scan, and a 1-file cache gives every
            # narrow-map consumer (det_iou_hmean, image_*) a 1-split
            # scan — single-core execution disguised as operator cost
            # (measured 19.8 s -> ~1 s on det_iou_hmean at sf0.1).
            kw = {"wrap": wrap} if wrap else {}
            pages_mod.pages_from_documents(
                spark, sf_dir, multipage=multi, **kw
            ).repartition(4 * CPUS).write.mode("overwrite").parquet(path)
    os.environ["SPARK_GRAFT_PAGES_CACHE"] = root
    return os.path.join(root, f"single_{label}.parquet")


def _suite_breakdown(spark, sf_dir: str) -> dict[str, list]:
    """(op, rows, sec, jobs) per suite branch, and (op, sec, jobs) per
    shared input of text_stats_suite — the round-3 verdict's triage
    ask: a future red suite row should name its branch from the BENCH
    artifact, not require a bisection session. Branches are timed via
    count() (one action yields time AND rows; the heavy subtrees —
    joins, shuffles, checkpoints, UDF decode — run identically, only
    the final string projection can prune, so branch cost ranking is
    faithful; the headline suite number remains the noop-write union).
    `jobs` counts the Spark jobs each one submits, eager builder
    actions included: deterministic where `sec` swings ±20%."""
    from paddleocr_spark.functions.kmeans import embedding_branch_builders
    from paddleocr_spark.operators.media import media_branch_builders

    return {
        "text_stats_suite": text_suite_breakdown(spark, sf_dir),
        "embedding_ops_suite": _branch_rows(
            spark, embedding_branch_builders(spark, sf_dir)),
        "media_codec_suite": _branch_rows(
            spark, media_branch_builders(spark, sf_dir)),
    }


def text_suite_breakdown(spark, sf_dir: str) -> list[dict]:
    """text_stats_suite's shared inputs (`[shared] <name>`, built in
    order from text.suite_input_builders), then its branches."""
    from paddleocr_spark.functions import text

    rows: list = []
    shared: dict = {}
    for name, build in text.suite_input_builders(spark, sf_dir):
        shared[name], cost = counted(spark, lambda: build(shared))
        rows.append({"op": f"[shared] {name}", **cost})
    return rows + _branch_rows(
        spark, text.suite_branch_builders(spark, sf_dir, **shared))


def _branch_rows(spark, builders) -> list[dict]:
    rows: list = []
    for name, build in builders:
        try:
            n, cost = counted(spark, lambda: build().count())
        except Exception as exc:  # noqa: BLE001
            rows.append({"op": name, "error": str(exc)[:160]})
            continue
        rows.append({"op": name, "rows": int(n), **cost})
    return rows


def counted(spark, thunk) -> tuple[object, dict]:
    """(thunk(), {"sec", "jobs"}): thunk run under a fresh Spark job
    group, whose job ids the status tracker then counts."""
    sc = spark.sparkContext
    group = f"breakdown-{uuid.uuid4().hex}"
    t0 = time.time()
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return out, {"sec": round(time.time() - t0, 3), "jobs": len(jobs)}


def _spread_warnings(attempts: dict[str, list[float]]) -> list[str]:
    """Queries whose timed attempts disagree by more than
    SPREAD_WARN_RATIO (max/min); a single attempt never does."""
    return [
        name for name, att in attempts.items()
        if len(att) > 1 and max(att) > SPREAD_WARN_RATIO * min(att)
    ]


def _tool_row(script: str, *args, timeout: int) -> tuple[dict, str | None]:
    """(row, error note) of one measurement subprocess,
    `python <script> args...` with `script` relative to the repo root:
    the last stdout line that starts with "{". Subprocess rows are
    extras to the headline, so a hang, a failed launch, a garbled line or
    no JSON line at all gives ({}, note) and never kills the
    one-JSON-line contract."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, script), *map(str, args)],
            capture_output=True, text=True, timeout=timeout,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not lines:
            return {}, f"no JSON line (rc={proc.returncode}): {proc.stderr}"[-500:]
        return json.loads(lines[-1]), None
    except (subprocess.TimeoutExpired, OSError, json.JSONDecodeError) as exc:
        return {}, f"{type(exc).__name__}: {exc}"[-500:]


def _flops_bound() -> tuple[dict, str | None]:
    """(row, error note) of the off-board realistic-FLOP row
    (tools/flops_bench.py): det throughput with the mobile-width DB graph
    (~2 GMACs at 640), so the round record bounds production neural
    cost, not just the analytic byte-exact graphs'. Subprocess — the
    32-proc pool + numpy conv must not inherit this session's JVM."""
    return _tool_row("tools/flops_bench.py", 320, CPUS, CPUS, timeout=900)


def _submit_pair(lo: int, hi: int, pages_path: str) -> dict:
    """north_star deployment clause, exercised end-to-end: the SAME
    extraction job launched through a real `spark-submit --py-files
    paddleocr_spark.zip` (package imported from the shipped zip on
    driver and python workers, broadcast weights, per-partition
    lineage audit) at local[lo] and local[hi] over the identical
    pre-materialized pages table. Reports throughput at both sizes,
    the lo->hi efficiency, and whether the two outputs are
    byte-identical (extracted text must not depend on parallelism).
    A failure gives {"error": ...}, never an exception."""
    import shutil
    import tempfile

    import duckdb

    from tools.submit_pyfiles import build_zip, submit_extract

    workdir = tempfile.mkdtemp(prefix="spark_graft_submit_")
    try:
        zip_path = build_zip(os.path.join(workdir, "paddleocr_spark.zip"))
        # one sink per leg: on a 1-core host lo == hi, and run_job's
        # resume anti-join would skip every url on the shared sink
        runs = [
            submit_extract(
                cores, SF_DIR, os.path.join(workdir, leg), zip_path=zip_path,
                pages=pages_path, partitions=128,
            )
            for leg, cores in (("n", lo), ("4n", hi))
        ]
        con = duckdb.connect()
        hashes = [
            con.sql(
                "SELECT md5(string_agg(url || chr(31) || extracted_text, "
                "chr(30) ORDER BY url)) FROM read_parquet('"
                + run["results"] + "/*/*.parquet')"
            ).fetchone()[0]
            for run in runs
        ]
        tput_lo, tput_hi = runs[0]["docs_per_sec"], runs[1]["docs_per_sec"]
        return {
            "cores_n": lo,
            "cores_4n": hi,
            "docs": runs[1]["docs"],
            "docs_per_sec_n": round(tput_lo, 2),
            "docs_per_sec_4n": round(tput_hi, 2),
            "efficiency": round(tput_hi / (tput_lo * (hi / lo)), 3),
            "output_identical_across_sizes": hashes[0] == hashes[1],
        }
    except Exception as exc:  # noqa: BLE001
        return {"error": str(exc)[-500:]}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    spark = local_session(CPUS, "bench")

    import __spark_entry__ as entrymod
    from paddleocr_spark.plans.pipeline import extract_pages

    pages_path = _pages_cache(spark, SF_DIR)
    qs = entrymod.queries()

    # One untimed full pass of the flagship, at the timed partition
    # count: Python-worker spin-up, kernel imports, the noop sink and
    # codegen classloading are paid here, so the timed passes measure
    # steady-state throughput (the reference's predict_system does 10
    # warmup iterations for the same reason,
    # tools/infer/predict_system.py:201-205).
    pages_df = spark.read.parquet(pages_path)
    extract_pages(pages_df, num_partitions=4 * CPUS).write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}
    attempts_log: dict[str, list[float]] = {}
    probe_before = probe()

    # Flagship measured over the materialized pages table, best-of-2.
    att = []
    for _ in range(2):
        t0 = time.time()
        extract_docs = extract_pages(pages_df, num_partitions=4 * CPUS).count()
        att.append(round(time.time() - t0, 3))
    timings["ocr_extract_text"] = min(att)
    attempts_log["ocr_extract_text"] = att
    extract_tput = round(extract_docs / timings["ocr_extract_text"], 2)

    for name in HEADLINE:
        if name == "ocr_extract_text" or name not in qs:
            continue
        att = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            att.append(round(time.time() - t0, 3))
            if att[0] < RERUN_FLOOR_SEC:
                break
        timings[name] = min(att)
        attempts_log[name] = att
    probe_after = probe()

    breakdown = {} if SKIP_BREAKDOWN else _suite_breakdown(spark, SF_DIR)
    spark.stop()

    # Every subprocess below starts its own Spark (or a pool) and runs
    # only after this session stopped: two jobs never share the cores.
    flops_bound, flops_error = {}, None
    if os.environ.get("SPARK_GRAFT_SKIP_FLOPS", "") != "1":
        flops_bound, flops_error = _flops_bound()

    scaling: dict = {}
    if not SKIP_SCALING:
        # traced, so the row carries <workload>.pipeline.scaling_eff
        # (1->nproc) and the per-layer ledger with perfbench's verdict
        scaling["perfbench"], err = _tool_row(
            "perfbench/run.py", "--workload", "all", "--seed", 1,
            "--seconds", 20, "--trace", 1, timeout=900,
        )
        if err:
            scaling["perfbench_error"] = err
        lo, hi = max(1, CPUS // 4), CPUS
        scaling[f"submit_pyfiles_{lo}_to_{hi}"] = _submit_pair(lo, hi, pages_path)

    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "query_attempts": attempts_log,
        "spread_warnings": _spread_warnings(attempts_log),
        "suite_breakdown": breakdown,
        "sf": _sf_label(SF_DIR),
        "extract_docs": extract_docs,
        "extract_docs_per_sec": extract_tput,
        "host": fingerprint(),
        "probe_before": probe_before,
        "probe_after": probe_after,
        "flops_bound": flops_bound,
        "scaling": scaling,
    }
    if flops_error:
        out["flops_bound_error"] = flops_error
    print(json.dumps(out))


if __name__ == "__main__":
    main()
