"""The end-to-end extraction pipeline as a Spark plan.

Shape (SURVEY.md §3.6): pages scan -> resume anti-join -> salted
repartition on url-hash -> mapInPandas OCR stage (decode + det + order +
crop + rec + CTC + drop_score, all inside one Arrow-batched UDF so crops
never cross the Arrow boundary) -> per-row results + per-partition audit
rows.

Scale notes (the parts that matter at 10^12 docs / 1000 executors):
- The only shuffle is the salted repartition; everything downstream is
  narrow. Salting key = pmod(xxhash64(url), P) so host-heavy url prefixes
  spread evenly (BASELINE.json north_rule).
- Multi-page payloads explode to pages *inside* the UDF before the heavy
  kernels, so one fat PDF can't serialize a task (the per-page loop is
  the unit of work, and pages of one doc stay in one task only because
  they share a payload row — acceptable because page count is capped).
- The model weights ship once as a broadcast. Each task turns them into
  its own engine (`OcrEngine.from_weights` in `_ocr_batches`); ONNX
  sessions are cached per process by content (onnx_rt.session_for), as
  the reference's create_predictor (tools/infer/utility.py) builds one
  predictor per process, so a task's engine costs no model load. The
  worker itself is tuned once, when a task first imports the package
  (paddleocr_spark._tune_worker), so the stage carries no per-task
  worker fix of its own.
- Results carry per-row stage timings: `decode_ms` is routing plus
  decode (or the DOM strip / PDF text layer), `det_ms` the orientation
  sweep (when `orient`) plus the page's det, and `rec_ms` the page chain
  after det (`OcrEngine.ocr_page`: reading order, crop, rec and the
  drop_score filter). Every extraction writer, batch
  (`run_job`, snapshots.run_job_snapshot) or streaming (the
  streaming/pipeline.py foreachBatch sinks), takes the lineage/audit
  rows (north_star) from the extraction tasks themselves: each task
  tallies the frames it yields, plus its own wall time, into a driver
  accumulator keyed by partition, so no query reads back what was just
  written. Once the results write returns, the driver writes those rows
  to one parquet file per run or epoch (`write_task_audit`): the audit
  starts no Spark job. Resume is an anti-join of committed urls
  (Iceberg MERGE/snapshot in production; parquet directory in the
  sandbox). Sink and audit paths may be plain paths or file:// URIs.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark import Accumulator, AccumulatorParam, TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RESULTS_SCHEMA = (
    "url string, img_idx int, "
    "spans array<struct<box: array<array<float>>, text: string, score: float>>, "
    "extracted_text string, n_spans int, "
    "decode_ms double, det_ms double, rec_ms double"
)

AUDIT_SCHEMA = (
    "run_id string, partition_id int, url_count long, page_count long, "
    "ok_count long, err_count long, decode_ms double, det_ms double, "
    "rec_ms double, wall_ms double, ts timestamp"
)
_TALLIED = ["url", "img_idx", "decode_ms", "det_ms", "rec_ms"]


class _TaskAudit(AccumulatorParam):
    """Driver accumulator of extraction-task audit rows,
    {partition_id: row}. The merge is keyed and the last row wins, so a
    retried or speculative attempt, or a second run of the same plan,
    replaces its partition's row instead of adding to it. Module-level
    so the workers unpickle it by import path."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        value1.update(value2)
        return value1


def _tally_task(frames: list[pd.DataFrame], wall_ms: float) -> dict:
    """{partition_id: audit row} of one finished extraction task from
    the frames it yielded; {} when it yielded no page."""
    done = pd.concat(frames) if frames else pd.DataFrame()
    if done.empty:
        return {}
    pid = TaskContext.get().partitionId()
    ok = int((done["img_idx"] >= 0).sum())
    return {
        pid: dict(
            partition_id=pid,
            url_count=int(done["url"].nunique()),
            page_count=len(done),
            ok_count=ok,
            err_count=len(done) - ok,
            decode_ms=float(done["decode_ms"].sum()),
            det_ms=float(done["det_ms"].sum()),
            rec_ms=float(done["rec_ms"].sum()),
            wall_ms=wall_ms,
        )
    }


def _ocr_batches(
    batches: Iterator[pd.DataFrame],
    page_limit: int,
    orient: bool,
    weights_bc,
    tally: Accumulator | None = None,
) -> Iterator[pd.DataFrame]:
    """One extraction task: build the engine of the broadcast model
    weights (`OcrEngine.from_weights`, the ship-weights-once pattern of
    north_star's 'broadcast model weights') and run the OCR loop with
    it. The engine lives as long as the task, so nothing is installed
    into the python worker that a later task could see.

    With a `tally` (from `task_audit`), a task that runs to the end adds
    its audit row, keyed by its partition; its wall_ms is the task's
    wall time in this worker."""
    from paddleocr_spark.kernels.ocr import OcrEngine

    t0 = time.perf_counter()
    engine = OcrEngine.from_weights(weights_bc.value)
    counted: list[pd.DataFrame] = []
    for frame in _ocr_batches_run(batches, engine, page_limit, orient):
        if tally is not None:
            counted.append(frame[_TALLIED])
        yield frame
    if tally is not None:
        wall_ms = (time.perf_counter() - t0) * 1000.0
        tally.add(_tally_task(counted, wall_ms))


def _sniff_html(payload: bytes) -> bool:
    """True when the payload router sends `payload` to the DOM strip
    (perfbench's solo replay routes through this name)."""
    from paddleocr_spark.kernels.multipage import route

    return route(payload)[0] == "html"


def _ocr_batches_run(
    batches: Iterator[pd.DataFrame],
    engine,
    page_limit: int,
    orient: bool = False,
) -> Iterator[pd.DataFrame]:
    from paddleocr_spark.kernels.cls import orient_page
    from paddleocr_spark.kernels.det import detect_lines
    from paddleocr_spark.kernels.multipage import decode_pages, route
    from paddleocr_spark.kernels.ocr import get_rotate_crop_image
    from paddleocr_spark.kernels.pdf import pdf_text_pages

    from paddleocr_spark.operators.html_extract import extract_main_text

    for pdf in batches:
        rows: list[dict] = []
        for url, payload in zip(pdf["url"], pdf["html"]):
            t0 = time.perf_counter()
            payload = bytes(payload)
            kind, offset = route(payload)
            texts = None
            try:
                if kind == "html":
                    # DOM text-density main-content strip (north_star's
                    # boilerplate branch) instead of the OCR chain — one
                    # job handles Common-Crawl HTML and scans side by side.
                    texts = [
                        extract_main_text(
                            payload.decode("utf-8", errors="replace")
                        )
                    ]
                elif kind == "pdf":
                    # born-digital triage (the reference's text-vs-scan
                    # router): a PDF whose every page carries text-show
                    # operators extracts WITHOUT OCR. Any page without a
                    # text layer (or a malformed PDF) falls through to the
                    # scan path; mixed documents pay OCR rather than
                    # silently dropping their scanned pages.
                    try:
                        texts = pdf_text_pages(payload[offset:])
                    except Exception:
                        texts = None
                    if not texts or any(t is None for t in texts):
                        texts = None
                    elif page_limit:
                        texts = texts[:page_limit]
                if texts is None:
                    pages = decode_pages(payload, kind, offset, page_limit)
                    if not pages:  # an error row still commits the url
                        raise ValueError("payload decodes to no page")
            except Exception:
                rows.append(
                    dict(
                        url=url, img_idx=-1, spans=[], extracted_text="",
                        n_spans=0, decode_ms=0.0, det_ms=0.0, rec_ms=0.0,
                    )
                )
                continue
            t1 = time.perf_counter()
            if texts is not None:
                for idx, text in enumerate(texts):
                    rows.append(
                        dict(
                            url=url, img_idx=idx, spans=[],
                            extracted_text=text, n_spans=0,
                            decode_ms=(t1 - t0) * 1000.0 / len(texts),
                            det_ms=0.0, rec_ms=0.0,
                        )
                    )
                continue
            for idx, img in enumerate(pages):
                d0 = time.perf_counter()
                if orient:
                    # fork's prioritized rotation sweep (fastapi_app.py
                    # :304-455): try angles, score by rec confidence,
                    # early-exit — multiplies det cost, so opt-in only.
                    # The page it returns is one it probed, so that
                    # probe's det is the page's det.
                    probes: list = []

                    def probe(im, probes=probes):
                        probes.append((im, detect_lines(im, engine.det_model)))
                        return probes[-1][1]

                    img, _angle = orient_page(
                        img,
                        probe,
                        get_rotate_crop_image,
                        engine.rec_model,
                        cls_model=engine.cls_model,
                    )
                    boxes = next(det for im, det in probes if im is img)[0]
                else:
                    boxes, _ = detect_lines(img, engine.det_model)
                d1 = time.perf_counter()
                spans = engine.ocr_page(img, boxes)
                d2 = time.perf_counter()
                rows.append(
                    dict(
                        url=url,
                        img_idx=idx,
                        spans=spans,
                        extracted_text="\n".join(s["text"] for s in spans),
                        n_spans=len(spans),
                        decode_ms=(t1 - t0) * 1000.0 / max(len(pages), 1),
                        det_ms=(d1 - d0) * 1000.0,
                        rec_ms=(d2 - d1) * 1000.0,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "url", "img_idx", "spans", "extracted_text", "n_spans",
                "decode_ms", "det_ms", "rec_ms",
            ],
        )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Spread host-skewed urls: repartition on the url's 64-bit salt.

    Partitioning on xxhash64(url) (NOT on pmod(hash, P) — re-hashing a
    small int into P buckets leaves ~1/e of them empty) gives a uniform
    spread that is independent of url host structure, so a host that
    dominates the corpus cannot pin one executor (north_rule)."""
    return df.repartition(num_partitions, F.xxhash64(F.col("url")))


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    page_limit: int = 0,
    orient: bool = False,
    weights: bytes | None = None,
    backend: str = "stub",
    *,
    _tally: Accumulator | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> results DataFrame.

    The recognition weights ship as a Spark broadcast: serialized once
    on the driver (kernels/font.export_weights, a caller-supplied blob,
    or — backend='onnx' — a genuine ONNX model bundle exported by
    kernels/onnx_models.build_onnx_bundle), and each task builds its
    engine from them (`OcrEngine.from_weights`) — so a driver-side
    weight change genuinely propagates (tests/test_pipeline_spark.py
    pins this with perturbed weights on BOTH backends).

    `_tally`, an accumulator from `task_audit`, collects each finished task's
    audit row (every writer that records an audit passes one)."""
    from paddleocr_spark.kernels.font import export_weights

    df = pages.select("url", "html")  # column prune before the shuffle
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    if weights is None:
        if backend == "onnx":
            from paddleocr_spark.kernels.onnx_models import build_onnx_bundle

            weights = build_onnx_bundle()
        else:
            weights = export_weights()
    bc = pages.sparkSession.sparkContext.broadcast(weights)
    return df.mapInPandas(
        lambda it: _ocr_batches(it, page_limit, orient, bc, _tally),
        schema=RESULTS_SCHEMA,
    )


def task_audit(spark: SparkSession) -> Accumulator:
    """A fresh accumulator of task audit rows for one extraction pass.
    A streaming query keeps one for its whole life and resets it
    (`tally.value = {}`) on the driver when each epoch starts."""
    return spark.sparkContext.accumulator({}, _TaskAudit())


def _filesystem(path: str):
    """(pyarrow FileSystem, path inside it) for a plain path or a URI
    such as file:///..., so the driver-side checks and writes here reach
    the same files Spark does."""
    from pyarrow import fs

    if "://" not in path:
        path = os.path.abspath(path)
    return fs.FileSystem.from_uri(path)


# Writer option that stops Hadoop's committer leaving a `_SUCCESS` file.
NO_SUCCESS_MARKER = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def write_task_audit(tally: Accumulator, run_id: str, audit_dir: str) -> str:
    """Write the task rows in `tally` (AUDIT_SCHEMA) to one parquet file,
    `part-<run_id>.parquet` under `audit_dir`, and return its path. Call
    it only after the write action that ran the tasks has returned:
    Spark merges a task's accumulator update when the task completes.

    The driver writes the file itself, so the audit costs no Spark job.
    It is written under a `.`-prefixed name and renamed into place, so
    no reader sees a partial file (Spark and pyarrow skip dot files). A
    rerun under the same run_id replaces the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(AUDIT_SCHEMA))
    ts = datetime.now(timezone.utc)
    rows = [
        dict(tally.value[p], run_id=run_id, ts=ts) for p in sorted(tally.value)
    ]
    table = pa.Table.from_pylist(rows, schema=schema)
    fs, root = _filesystem(audit_dir)
    fs.create_dir(root, recursive=True)
    name = f"part-{run_id}.parquet"
    tmp = f"{root}/.{name}"
    pq.write_table(table, tmp, filesystem=fs)
    fs.move(tmp, f"{root}/{name}")
    return f"{audit_dir.rstrip('/')}/{name}"


def resume_filter(pages: DataFrame, results_path: str) -> DataFrame:
    """Idempotent resume: anti-join urls already committed to the results
    sink (Iceberg snapshot anti-join / MERGE INTO in production)."""
    from pyarrow.fs import FileType

    fs, path = _filesystem(results_path)
    if fs.get_file_info(path).type == FileType.NotFound:
        return pages
    # recursiveFileLookup reads every committed file regardless of sink
    # layout generation (flat part-files, partitionBy dirs, or run_id=
    # subdir appends) — plain partition discovery would raise
    # 'Conflicting directory structures' on a mixed-layout sink and
    # crash the resume contract instead of committing nothing. The fixed
    # schema skips inference (a footer read per listing, and an error on
    # a sink with no data file yet). No distinct: a left-anti join keeps
    # the same rows whether or not the right side repeats a url.
    done = (
        pages.sparkSession.read.schema("url string")
        .option("recursiveFileLookup", "true")
        .parquet(results_path)
    )
    return pages.join(done, "url", "left_anti")


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    results_path: str,
    audit_path: str,
    num_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = True,
    **extract_kwargs,
) -> int:
    """Full job: resume -> extract -> append results + audit. Returns
    the number of result rows this run committed. `extract_kwargs` pass
    through to `extract_pages` (page_limit, orient, weights)."""
    rid = run_id or uuid.uuid4().hex
    todo = resume_filter(pages, results_path) if resume else pages
    tally = task_audit(spark)
    results = extract_pages(
        todo, num_partitions, _tally=tally, **extract_kwargs
    ).withColumn("run_id", F.lit(rid))
    # Append into an EXPLICIT run_id= subdirectory (not partitionBy):
    # same physical layout, but no partition discovery is involved at
    # write time, even if the sink root carries older layout generations
    # (a pre-partitioning flat sink would make partition discovery raise
    # 'Conflicting directory structures'). run_id stays IN the data
    # files, so recursive reads of old and new generations both work.
    # No Hadoop `_SUCCESS` marker: nothing reads it (recursive parquet
    # reads skip `_` files, and the audit file written next marks a
    # finished run), and each marker costs a file, its .crc and two
    # forked chmods on the driver.
    run_dir = os.path.join(results_path, f"run_id={rid}")
    results.write.mode("append").option(NO_SUCCESS_MARKER, "false").parquet(run_dir)
    # The audit covers THIS run's increment only, from the rows the
    # extraction tasks tallied while they wrote it: no read-back of the
    # files, no second run of the OCR stage, and no Spark job.
    write_task_audit(tally, rid, audit_path)
    return sum(r["page_count"] for r in tally.value.values())


def export_training_shards(
    df: DataFrame,
    out_dir: str,
    shards_per_partition: int = 4,
    partition_col: str = "lang",
    order_col: str = "url",
) -> None:
    """Final training-data export layout: directory-partitioned by a
    low-cardinality column (lang/crawl-date — readers prune whole
    directories, Spark's PartitionFilters), a FIXED shard count inside
    each partition (downstream loaders want stable, same-sized file
    lists, not one file per reduce task), and rows sorted by `order_col`
    WITHIN each shard (SURT-ordered urls put one host's pages adjacent —
    the locality web-archive layouts use, without any global sort).
    File-count contract: AT MOST shards_per_partition files per
    directory (hash collisions may merge two shards into one file;
    the explicit task count stops AQE from merging them all).

    Plan shape: one repartition Exchange on (partition_col,
    hash(order_col) % shards) then sortWithinPartitions — no global
    ordering anywhere, so the write scales linearly with executors. At
    100 TB, tune shards_per_partition so a shard lands near the 1 GiB
    object-store sweet spot."""
    # one cheap metadata-scale job: partition values are low-cardinality
    # by contract (lang / crawl-date), so this count is tiny
    n_parts = df.select(partition_col).distinct().count()
    n_tasks = max(n_parts * shards_per_partition, 1)
    shard = F.pmod(F.xxhash64(F.col(order_col)), F.lit(shards_per_partition))
    tmp = "__ets_shard"  # collision-proof vs caller columns
    (
        df.withColumn(tmp, shard)
        # EXPLICIT task count: without it AQE coalesces the exchange and
        # merges every shard of a partition into one file. Hash
        # collisions of (partition, shard) combos can still merge two
        # shards into one larger file — the guarantee is AT MOST
        # shards_per_partition files per directory, never skew across
        # directories.
        .repartition(n_tasks, F.col(partition_col), F.col(tmp))
        # sort by (partition, order) — the shard column only bounds the
        # file count; the file itself must be order_col-sorted
        .sortWithinPartitions(partition_col, order_col)
        .drop(tmp)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(out_dir)
    )
