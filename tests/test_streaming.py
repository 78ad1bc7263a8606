"""Structured Streaming extraction: checkpointed incremental processing
(only new files per run), text parity with the batch oracle, and the
foreachBatch audit sinks."""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from paddleocr_spark.streaming.pipeline import (
    stream_extract,
    stream_extract_with_audit,
)


def _write_batch(spark, out_dir, lo, hi):
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )
    n = docs.count()
    # reuse the normal source rendering, dumped to files for the stream
    from paddleocr_spark.sources import pages as pages_mod

    df = docs.mapInPandas(
        lambda it: pages_mod._render_batches(it, False),
        schema=pages_mod.PAGES_SCHEMA,
    )
    df.coalesce(1).write.mode("append").parquet(out_dir)
    return n


def test_stream_extract_incremental_checkpoint(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    n1 = _write_batch(spark, src, 0, 12)
    q = stream_extract(spark, src, out, ckpt, num_partitions=8)
    q.awaitTermination()
    got1 = spark.read.parquet(out)
    assert got1.count() == n1

    # second batch: same checkpoint only processes the new files
    n2 = _write_batch(spark, src, 12, 20)
    q = stream_extract(spark, src, out, ckpt, num_partitions=8)
    q.awaitTermination()
    got2 = spark.read.parquet(out)
    assert got2.count() == n1 + n2
    assert got2.select("url").distinct().count() == n1 + n2

    # byte parity against the SQL-normalized text
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 20
    )
    expected = docs.select(
        F.expr(
            "concat('https://', source, '.example.test/doc/', cast(doc_id as string))"
        ).alias("url"),
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
        ).alias("norm"),
    )
    joined = got2.select(
        "url", F.regexp_replace("extracted_text", "\n", "").alias("got")
    ).join(expected, "url")
    assert joined.count() == n1 + n2
    assert joined.filter(F.col("got") != F.col("norm")).count() == 0


def test_stream_extract_with_audit(spark, tmp_path):
    """Ten landing files drain in two epochs (maxFilesPerTrigger is 8).
    Each epoch's audit comes from its own extraction tasks: at most one
    row per extraction partition, none carried over from the epoch
    before, the pages of all epochs sum to the committed rows, and
    wall_ms is task wall time, which covers the stage timers."""
    src = str(tmp_path / "pages")
    out = str(tmp_path / "results")
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    n = sum(_write_batch(spark, src, lo, lo + 2) for lo in range(0, 20, 2))
    q = stream_extract_with_audit(spark, src, out, audit, ckpt, num_partitions=4)
    q.awaitTermination()

    assert spark.read.parquet(out).count() == n
    rows = spark.read.parquet(audit).collect()
    epochs: dict[str, list] = {}
    for r in rows:
        epochs.setdefault(r.run_id, []).append(r)
    assert len(epochs) >= 2, sorted(epochs)
    assert all(run_id.startswith("epoch-") for run_id in epochs)
    for epoch in epochs.values():
        pids = [r.partition_id for r in epoch]
        assert len(pids) <= 4 and len(set(pids)) == len(pids)
    assert sum(r.page_count for r in rows) == n
    for r in rows:
        assert r.wall_ms >= r.decode_ms + r.det_ms + r.rec_ms


def test_stream_stateful_dedup_merges_state_across_batches(spark, tmp_path):
    """applyInPandasWithState ledger: keys span micro-batches AND
    restarted runs; the collapsed view must equal the batch GROUP BY
    (min url / total count per 8-char-prefix key)."""
    from paddleocr_spark.streaming.pipeline import (
        stateful_dedup_view,
        stream_stateful_dedup,
    )

    src = str(tmp_path / "pages")
    out = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    n1 = _write_batch(spark, src, 0, 16)
    q = stream_stateful_dedup(spark, src, out, ckpt)
    q.awaitTermination()
    # restart with more files: state store must resume, not reset
    n2 = _write_batch(spark, src, 16, 28)
    q = stream_stateful_dedup(spark, src, out, ckpt)
    q.awaitTermination()

    got = {
        r["key"]: (r["first_url"], r["n_docs"])
        for r in stateful_dedup_view(spark, out).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 28
    )
    exp_rows = docs.selectExpr(
        "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', ''), 1, 8)) AS key",
        "concat('https://', source, '.example.test/doc/', cast(doc_id as string)) AS url",
    ).groupBy("key").agg(
        F.min("url").alias("first_url"), F.count("*").alias("n_docs")
    )
    exp = {r["key"]: (r["first_url"], r["n_docs"]) for r in exp_rows.collect()}
    assert got == exp
    assert sum(v[1] for v in got.values()) == n1 + n2


def test_snapshot_sink_exactly_once_on_replay(spark, tmp_path):
    """The snapshot streaming sink commits each epoch once: a replayed
    foreachBatch call with an already-committed batch_id is dropped, so
    a crash between sink and checkpoint cannot duplicate rows — and
    results+audit always land in the SAME snapshot version."""
    from paddleocr_spark.plans import snapshots as snap
    from paddleocr_spark.plans.pipeline import task_audit
    from paddleocr_spark.streaming.pipeline import (
        snapshot_batch_sink,
        stream_extract_snapshot,
    )

    src = str(tmp_path / "pages")
    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    n1 = _write_batch(spark, src, 0, 10)
    q = stream_extract_snapshot(spark, src, root, ckpt, num_partitions=4)
    q.awaitTermination()
    assert snap.read(spark, root).count() == n1
    v_drained = snap.current_version(root)
    assert snap.read(spark, root, "audit").count() >= 1

    # simulate foreachBatch replay after a crash-before-checkpoint:
    # same epoch id, same rows, delivered again
    last_epoch = int(snap.watermark(root, key="batch_id"))
    replay = snap.read(spark, root)  # same rows the epoch committed
    snapshot_batch_sink(root, task_audit(spark))(replay, last_epoch)
    assert snap.current_version(root) == v_drained  # no new snapshot
    assert snap.read(spark, root).count() == n1  # no duplicates

    # a genuinely NEW epoch still commits
    snapshot_batch_sink(root, task_audit(spark))(
        replay.limit(3), last_epoch + 1
    )
    assert snap.current_version(root) == v_drained + 1
    assert snap.read(spark, root).count() == n1 + 3
