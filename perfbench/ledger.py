"""The traced run and its per-layer ledger.

The traced run takes the first job's worth of a workload and measures it
three ways:
1. the Spark job, once untraced and once with Spark's event log on;
2. the passthrough plan (same scan -> salted_repartition -> mapInPandas
   shape, a UDF that only reads payload lengths) at the same cores;
3. a solo replay in this process that calls each layer's public function
   in the order `_ocr_batches_run` does, recording spans in memory.

Nothing inside the program is instrumented: spans wrap the calls into it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

# span name -> ledger layer whose self time it is
_LAYER_SPANS = {
    "html_extract": "html_extract.ms",
    "pdf.text": "pdf.text_ms",
    "multipage.decode": "multipage.decode_ms",
    "det": "det.ms",
    "crop": "crop.ms",
    "rec": "rec.ms",
}


class Tracer:
    """Spans kept in memory: (name, start, end, parent index, doc id).
    A span's self time is its duration minus its children's."""

    def __init__(self):
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, doc: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, doc]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def self_ms(self) -> Counter:
        child = Counter()
        for name, t0, t1, parent, _doc in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out = Counter()
        for i, (name, t0, t1, _p, _d) in enumerate(self.spans):
            out[name] += (t1 - t0 - child[i]) * 1000.0
        return out

    def total_ms(self, name: str) -> float:
        return sum((t1 - t0) * 1000.0 for n, t0, t1, _p, _d in self.spans if n == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, doc in self.spans:
                fh.write(json.dumps([name, t0, t1, parent, doc]) + "\n")


def _engine(weights: bytes):
    """An OcrEngine with the broadcast weights installed the way the
    program's executors install them."""
    from paddleocr_spark.kernels import font
    from paddleocr_spark.kernels.ocr import OcrEngine
    from paddleocr_spark.kernels.onnx_models import (
        OnnxClsModel,
        is_onnx_bundle,
        onnx_engine_models,
        split_onnx_bundle,
    )
    from paddleocr_spark.kernels.onnx_rt import session_for

    engine = OcrEngine()
    engine.cls_model = None
    if is_onnx_bundle(weights):
        parts = split_onnx_bundle(weights)
        engine.det_model, engine.rec_model = onnx_engine_models(
            parts[0], parts[1], engine.cfg.det, engine.cfg.rec
        )
        if len(parts) > 2:
            engine.cls_model = OnnxClsModel(session_for(parts[2]))
    else:
        font.load_weights(weights)
    return engine


def replay(docs, orient: bool, weights: bytes, tracer: Tracer) -> dict:
    """Solo replay of the extraction path over `docs`, one call per layer
    in `_ocr_batches_run` order; returns text per (url, img_idx)."""
    from paddleocr_spark.kernels import font
    from paddleocr_spark.kernels.cls import orient_page
    from paddleocr_spark.kernels.det import detect_lines
    from paddleocr_spark.kernels.geometry import sorted_boxes
    from paddleocr_spark.kernels.multipage import decode_payload
    from paddleocr_spark.kernels.ocr import get_rotate_crop_image
    from paddleocr_spark.kernels.pdf import pdf_text_pages
    from paddleocr_spark.kernels.rec import recognize_crops
    from paddleocr_spark.operators.html_extract import extract_main_text
    from paddleocr_spark.plans.pipeline import _sniff_html  # the router's own rule, so the replay routes alike

    saved = font.TEMPLATES
    engine = _engine(weights)
    c = tracer.counts
    rows: dict = {}
    try:
        for d in docs:
            url, payload = d.url, d.payload
            with tracer.span("doc", url):
                if _sniff_html(payload):
                    with tracer.span("html_extract", url):
                        try:
                            rows[(url, 0)] = extract_main_text(payload.decode("utf-8", errors="replace"))
                        except Exception:
                            rows[(url, 0)] = ""
                    c["html_extract.calls"] += 1
                    continue
                if payload[:5] == b"%PDF-":
                    with tracer.span("pdf.text", url):
                        try:
                            texts = pdf_text_pages(payload)
                        except Exception:
                            texts = None
                    c["pdf.text_calls"] += 1
                    if texts and all(t is not None for t in texts):
                        c["pdf.text_hits"] += 1
                        rows.update(((url, k), t) for k, t in enumerate(texts))
                        continue
                with tracer.span("multipage.decode", url):
                    try:
                        pages = decode_payload(payload, 0)
                    except Exception:
                        pages = None
                c["multipage.decode_calls"] += 1
                c["multipage.bytes_in"] += len(payload)
                if pages is None:
                    rows[(url, -1)] = ""
                    continue
                c["multipage.pages"] += len(pages)
                for idx, img in enumerate(pages):
                    if orient:

                        def probe(im, _url=url):
                            with tracer.span("cls.det_probe", _url):
                                c["cls.det_probes"] += 1
                                return detect_lines(im, engine.det_model)

                        with tracer.span("cls.orient", url):
                            img, _angle = orient_page(
                                img, probe, get_rotate_crop_image, engine.rec_model,
                                cls_model=engine.cls_model,
                            )
                        c["cls.pages"] += 1
                    with tracer.span("det", url):
                        boxes, _ = detect_lines(img, engine.det_model)
                        boxes = sorted_boxes(boxes)
                    c["det.calls"] += 1
                    c["det.boxes"] += len(boxes)
                    with tracer.span("crop", url):
                        crops = [get_rotate_crop_image(img, b) for b in boxes]
                    c["crop.calls"] += len(crops)
                    with tracer.span("rec", url):
                        res = recognize_crops(crops, engine.rec_model)
                    c["rec.calls"] += 1
                    c["rec.crops"] += len(crops)
                    rows[(url, idx)] = "\n".join(
                        t for t, s in res if s >= engine.cfg.drop_score
                    )
    finally:
        font.TEMPLATES = saved
    return rows


def _length_only(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame({"url": pdf["url"], "n": [len(b) for b in pdf["html"]]})


def passthrough(spark, paths: list[str], cores: int, out: str) -> float:
    """The job's plan shape with a UDF that does no kernel work."""
    from paddleocr_spark.plans.pipeline import salted_repartition
    from perfbench.jobs import partitions

    t0 = time.perf_counter()
    pages = spark.read.parquet(*paths).select("url", "html")
    salted_repartition(pages, partitions(cores)).mapInPandas(_length_only, "url string, n long").write.mode(
        "overwrite"
    ).parquet(out)
    return time.perf_counter() - t0


def read_event_log(ev_dir: str, phase: str) -> dict:
    """Task and job figures of the jobs submitted under the local
    property perfbench.phase = `phase`."""
    events = []
    for path in sorted(glob.glob(f"{ev_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stages, executions = set(), set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and e.get("Properties", {}).get("perfbench.phase") == phase:
            stages.update(e["Stage IDs"])
            executions.add(e["Properties"].get("spark.sql.execution.id"))
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]
    metrics = [t.get("Task Metrics") or {} for t in tasks]
    durations = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks]
    starts, audit_ms = {}, 0.0
    for e in events:
        name = e["Event"].rsplit(".", 1)[-1]
        if name == "SparkListenerSQLExecutionStart" and str(e["executionId"]) in executions:
            plan = e.get("physicalPlanDescription", "")
            if "HashAggregate" in plan and "MapInPandas" not in plan:
                starts[e["executionId"]] = e["time"]
        elif name == "SparkListenerSQLExecutionEnd" and e["executionId"] in starts:
            audit_ms += e["time"] - starts[e["executionId"]]
    return {
        "tasks": len(tasks),
        "task_p50_ms": statistics.median(durations) if durations else 0.0,
        "task_max_ms": max(durations, default=0.0),
        "run_ms": sum(m.get("Executor Run Time", 0) for m in metrics),
        "gc_ms": sum(m.get("JVM GC Time", 0) for m in metrics),
        "shuffle_write_mb": sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in metrics
        ) / 2**20,
        "fetch_wait_ms": sum(
            m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) for m in metrics
        ),
        "audit_job_ms": audit_ms,
    }


def _rotated_pass(spark, docs, cores: int, work: str) -> dict:
    """One job of 180-degree scans through extract_pages(orient=True,
    backend="onnx") and its solo replay: the orientation sweep
    (kernels.cls.orient_page) and the numpy ONNX runtime."""
    from perfbench.corpus import Workload
    from perfbench.jobs import Runner, partitions, weights_for

    if not docs:
        return {"metrics": {}, "checked": [], "mismatches": 0}
    runner = Runner(Workload("rotated", [docs], orient=True, backend="onnx"), work)
    t0 = time.perf_counter()
    weights = weights_for(runner.wl)
    bundle_s = time.perf_counter() - t0
    cold = runner.verify(runner.job(spark, [0], partitions(cores), weights))  # first ONNX use per worker
    job = runner.verify(runner.job(spark, [0], partitions(cores), weights))
    tracer = Tracer()
    solo = replay(docs, True, weights, tracer)
    spark_text = {(r["url"], r["img_idx"]): r["extracted_text"] for r in job["table"].to_pylist()}
    mismatches = sum(1 for k in set(solo) | set(spark_text) if solo.get(k) != spark_text.get(k))
    c, self_ms = tracer.counts, tracer.self_ms()
    return {
        "metrics": {
            "cls.pages": c["cls.pages"],
            "cls.self_ms": self_ms["cls.orient"],
            "cls.det_probes": c["cls.det_probes"],
            "cls.useful_probe_ratio": c["cls.pages"] / c["cls.det_probes"] if c["cls.det_probes"] else 0.0,
            "cls.onnx_det_ms": self_ms["det"] + self_ms["cls.det_probe"],
            "cls.onnx_rec_ms": self_ms["rec"],
            "cls.docs_per_s": job["docs"] / job["wall_s"],
            "setup.onnx_bundle_s": bundle_s,
        },
        "checked": [cold, job],
        "mismatches": mismatches,
        "self_ms": dict(self_ms),
    }


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


def _route(url_rows: list[dict], payload: bytes) -> str:
    if any(r["img_idx"] < 0 for r in url_rows):
        return "error"
    if any(r["det_ms"] > 0 or r["n_spans"] > 0 for r in url_rows):
        return "scan"
    return "pdf_text" if payload[:5] == b"%PDF-" else "html"


def traced(runner, work: str, spans_path: str, names) -> tuple[dict, dict]:
    """The per-layer metrics `names` (those of layers the workload does
    not exercise read 0) and the tally of every job it checked."""
    from perfbench.host import RssSampler, jvm_pid, nproc, tree_cpu_s
    from perfbench.jobs import closed_loop, partitions, setup, tally

    cores = nproc()
    units = runner.group(0, cores)
    paths = [runner.inputs[u] for u in units]
    docs = [d for u in units for d in runner.wl.units[u]]

    spark, weights, _cold, cold_warmup = setup(cores, work, runner)
    settle = runner.verify(runner.job(spark, units, partitions(cores), weights))  # settles the cold JVM
    pid = jvm_pid()
    cpu0 = tree_cpu_s(pid)
    plain = runner.job(spark, units, partitions(cores), weights)
    plain_cpu_s = tree_cpu_s(pid) - cpu0
    plain = runner.verify(plain)
    _, narrow = closed_loop(spark, runner, 1, 0.0, weights, min_jobs=2)
    spark.stop()

    ev = f"{work}/events"
    spark, weights, warm, warm_warmup = setup(cores, work, runner, event_log=ev)
    sc = spark.sparkContext
    sc.setLocalProperty("perfbench.phase", "job")
    with RssSampler(jvm_pid()) as rss:
        job = runner.job(spark, units, partitions(cores), weights)
        peak = rss.mark()
    results_mb = _dir_mb(job["rows_at"])
    job = runner.verify(job)
    sc.setLocalProperty("perfbench.phase", "passthrough")
    pass_s = passthrough(spark, paths, cores, f"{work}/out/passthrough")
    sc.setLocalProperty("perfbench.phase", "rotated")
    rotated = _rotated_pass(spark, runner.wl.rotated, cores, f"{work}/rotated")
    spark.stop()
    log = read_event_log(ev, "job")

    tracer = Tracer()
    solo_t0 = time.perf_counter()
    solo = replay([d for d in docs if not d.committed], runner.wl.orient, weights, tracer)
    solo_s = time.perf_counter() - solo_t0
    tracer.dump(spans_path)

    table = job["table"].to_pylist()
    spark_text = {(r["url"], r["img_idx"]): r["extracted_text"] for r in table}
    mismatches = sum(
        1 for k in set(solo) | set(spark_text) if solo.get(k) != spark_text.get(k)
    )
    by_url: dict = {}
    for r in table:
        by_url.setdefault(r["url"], []).append(r)
    routes = Counter(_route(by_url[d.url], d.payload) for d in docs if d.url in by_url)

    in_job_ms = sum(r["decode_ms"] + r["det_ms"] + r["rec_ms"] for r in table)
    kernel_s = in_job_ms / 1000.0 / cores
    self_ms = tracer.self_ms()
    c = tracer.counts
    m = dict.fromkeys(names, 0.0)
    m.update(
        {
            "pipeline.job_s": job["wall_s"],
            "pipeline.passthrough_s": pass_s,
            "pipeline.kernel_s": kernel_s,
            "pipeline.residual_s": job["wall_s"] - pass_s - kernel_s,
            "pipeline.tasks": log["tasks"],
            "pipeline.task_p50_ms": log["task_p50_ms"],
            "pipeline.task_max_ms": log["task_max_ms"],
            "pipeline.core_busy_ratio": log["run_ms"] / (job["wall_s"] * 1000.0 * cores),
            "pipeline.shuffle_write_mb": log["shuffle_write_mb"],
            "pipeline.shuffle_fetch_wait_ms": log["fetch_wait_ms"],
            "pipeline.gc_ms": log["gc_ms"],
            "pipeline.contention_ratio": in_job_ms / max(tracer.total_ms("doc"), 1e-9),
            "pipeline.scaling_eff": (plain["docs"] / plain["wall_s"]) / (
                cores * statistics.median(j["docs"] / j["wall_s"] for j in narrow)
            ),
            "sink.results_mb": results_mb,
            "sink.audit_job_ms": log["audit_job_ms"],
            "resume.skipped_docs": job["skipped"],
            "setup.session_s": warm["session_s"],
            "setup.weights_s": warm["weights_s"],
            "setup.warmup_s": warm["warmup_s"],
            "mem.jvm_rss_mb": peak["jvm_mb"],
            "mem.python_rss_mb": peak["python_mb"],
            "trace.docs_per_s": job["docs"] / job["wall_s"],
            "trace.untraced_docs_per_s": plain["docs"] / plain["wall_s"],
            "cpu.ms_per_doc": plain_cpu_s * 1000.0 / plain["docs"],
            "replay.docs": len(docs) - job["skipped"],
            "replay.parity_mismatches": mismatches,
            "multipage.mb_in": c["multipage.bytes_in"] / 2**20,
            "pdf.text_hit_ratio": c["pdf.text_hits"] / c["pdf.text_calls"] if c["pdf.text_calls"] else 0.0,
            "rec.us_per_crop": self_ms["rec"] * 1000.0 / c["rec.crops"] if c["rec.crops"] else 0.0,
        }
    )
    for route in ("html", "pdf_text", "scan", "error"):
        m[f"route.{route}"] = routes[route]
    for name in ("html_extract.calls", "pdf.text_calls", "multipage.decode_calls", "multipage.pages",
                 "det.calls", "det.boxes", "crop.calls",
                 "rec.calls", "rec.crops"):
        m[name] = c[name]
    for span, key in _LAYER_SPANS.items():
        m[key] = self_ms[span]
    m.update(rotated["metrics"])

    layers = {"machinery (passthrough)": pass_s, "residual": m["pipeline.residual_s"]}
    solo_kernel_ms = sum(self_ms[s] for s in _LAYER_SPANS)
    for span, key in _LAYER_SPANS.items():
        # each kernel's share of the in-job kernel time, split as the solo replay splits it
        layers[key] = kernel_s * self_ms[span] / solo_kernel_ms if solo_kernel_ms else 0.0
    largest = max(layers, key=layers.get)
    print(f"ledger ({runner.wl.name}, one job of {len(docs)} docs at {cores} cores, "
          f"wall {job['wall_s']:.3f} s):")
    for name, sec in sorted(layers.items(), key=lambda kv: -kv[1]):
        print(f"  {name:28s} {sec:9.3f} s  {100.0 * sec / job['wall_s']:6.1f} %")
    if largest == "residual":
        print("  WARNING: the residual is the largest layer; the ledger does not explain this job")
    detail = {
        "ledger": {"layers_s": layers, "largest": largest, "solo_replay_s": solo_s,
                   "event_log": log, "self_ms": dict(self_ms), "counts": dict(c),
                   "rotated_self_ms": rotated.get("self_ms", {})},
        "setups": [warm],
    }
    checked = [cold_warmup, settle, plain, *narrow, warm_warmup, job, *rotated["checked"]]
    t = tally(checked)
    t["failed"] += mismatches + rotated["mismatches"]
    return m, {**t, "detail": detail}
