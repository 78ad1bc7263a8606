"""paddleocr_spark — a PySpark-native document-to-structured-text extraction
engine built from scratch with the capabilities of the reference PaddleOCR
fork (see SURVEY.md).

Layout:
    kernels/    pure numpy/stdlib compute kernels (no Spark imports) —
                bitmap font page rendering, PNG codec, DB-style detection
                postprocess, geometric reading order, template recognition,
                CTC decode, perspective crop.
    functions/  Spark DataFrame builders for text analytics, dedup
                (exact/minhash/simhash/jaccard) and embedding similarity.
    operators/  HTML main-content extraction and rule-based field
                extraction (Malaysia-IC parity layer).
    sources/    deterministic synthesis of the `pages` corpus
                (url, warc_ts, html, text, lang) from the testdata tables.
    plans/      the end-to-end Spark extraction pipeline (mapInPandas
                stages, skew salting, audit/lineage, idempotent resume).
    streaming/  foreachBatch wrapper for incremental runs.

Everything model-like is a deterministic numpy "stub model" (the sandbox has
no onnxruntime/cv2); the Spark-side plumbing — Arrow batching, partitioning,
schemas, session caching — is the real engine and is what scales to a
cluster. Real ONNX weights are a drop-in behind the same interfaces.

Imported inside a Spark task, the package tunes its Python worker once
(`_tune_worker`): it guards the worker's zip finders
(`tuning.guard_zip_finders`) and freezes its heap.
"""

import gc
import sys

__version__ = "0.1.0"


def _tune_worker() -> None:
    """In a Python worker running a Spark task, install the zip-finder
    guard, then collect once and move every surviving object to the
    GC's permanent generation.

    pyspark's worker re-reads every cached zip archive before each task
    unless the guard is in place, and its daemon runs a full
    gc.collect() after each task of a reused worker; without the freeze
    every collect re-scans the worker's import-time heap (tens of
    thousands of objects). Runs once per process, because the package is
    imported once (the guard also refuses to install twice). A no-op on
    the driver and in plain Python, and it never imports pyspark itself,
    so the kernels stay importable without Spark."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    from paddleocr_spark.tuning import guard_zip_finders

    guard_zip_finders()
    gc.collect()
    gc.freeze()


_tune_worker()
