"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.10); its "resume" is
re-running over the input directory. Here the same extraction plan runs
as an incremental job: a file-source stream of pages parquet ->
`mapInPandas` OCR stage -> parquet sink, with exactly-once progress
tracked by the checkpoint (file-source log + sink commit log). That is
the Spark-native form of the north_rule's "resumable from checkpoint":
restarting after a crash re-processes only unfinished files, and
`Trigger.AvailableNow` drains the backlog then stops (batch-like runs on
a streaming ledger).

The audit variants use foreachBatch so each micro-batch writes results
AND per-partition audit rows in the same epoch — the lineage/metrics
contract of the batch job, kept in streaming, and taken the same way:
the query's extraction tasks tally their rows into one accumulator
(plans/pipeline.task_audit), each epoch resets it on the driver when it
starts, and once the epoch's results write returns the driver writes
the epoch's rows (plans/pipeline.write_task_audit, run_id
`epoch-<batch_id>`). The audit adds no Spark job to an epoch.
"""

from __future__ import annotations

from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from paddleocr_spark.plans.pipeline import (
    extract_pages,
    task_audit,
    write_task_audit,
)
from paddleocr_spark.sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet files.
    maxFilesPerTrigger bounds micro-batch size so one giant backlog
    can't blow executor memory at 10^12-doc scale."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        # landing dirs accumulate _SUCCESS markers / partial uploads;
        # without the glob a single non-parquet file kills the query
        .option("pathGlobFilter", "*.parquet")
        .parquet(source_dir)
    )


def stream_extract(
    spark: SparkSession,
    source_dir: str,
    results_path: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    page_limit: int = 0,
    orient: bool = False,
    weights: bytes | None = None,
) -> StreamingQuery:
    """pages stream -> OCR -> parquet sink; AvailableNow drains & stops."""
    pages = read_pages_stream(spark, source_dir)
    results = extract_pages(
        pages, num_partitions=num_partitions, page_limit=page_limit,
        orient=orient, weights=weights,
    )
    return (
        results.writeStream.format("parquet")
        .option("path", results_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_with_audit(
    spark: SparkSession,
    source_dir: str,
    results_path: str,
    audit_path: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    page_limit: int = 0,
    orient: bool = False,
    weights: bytes | None = None,
) -> StreamingQuery:
    """foreachBatch variant: results + audit rows per micro-batch epoch
    (`epoch-<batch_id>` recorded as the run_id for lineage)."""
    pages = read_pages_stream(spark, source_dir)
    tally = task_audit(spark)
    results = extract_pages(
        pages, num_partitions=num_partitions, page_limit=page_limit,
        orient=orient, weights=weights, _tally=tally,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tally.value = {}  # this epoch's tasks only
        batch_df.write.mode("append").parquet(results_path)
        write_task_audit(tally, f"epoch-{batch_id}", audit_path)

    return (
        results.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stateful_dedup(
    spark: SparkSession,
    source_dir: str,
    results_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom STATEFUL streaming operator (applyInPandasWithState): an
    incremental exact-dedup ledger. Pages stream in grouped by a content
    fingerprint key; per-key GroupState carries (min_url, n_docs) across
    micro-batches, and every batch that touches a key emits the key's
    UPDATED running state.

    The emission history depends on how the file source slices
    micro-batches, but both state fields are monotone merges (min,
    count), so the per-key LAST state — equivalently min(first_url),
    max(n_docs) over all emissions — is invariant to the batch split.
    `stateful_dedup_view` below collapses the ledger to that final view,
    which is exactly the batch GROUP BY the DuckDB oracle runs: a
    STRICT correctness gate over a genuinely stateful streaming plan
    (state store + checkpoint + AvailableNow restart semantics).
    """
    import pandas as pd

    pages = read_pages_stream(spark, source_dir).selectExpr(
        "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', ''), 1, 8)) AS key",
        "url",
    )

    def update(key, pdfs, state):
        if state.exists:
            min_url, count = state.get
        else:
            min_url, count = None, 0
        for pdf in pdfs:
            for u in pdf["url"]:
                count += 1
                if min_url is None or u < min_url:
                    min_url = u
        state.update((min_url, count))
        yield pd.DataFrame(
            {"key": [key[0]], "first_url": [min_url], "n_docs": [count]}
        )

    ledger = pages.groupBy("key").applyInPandasWithState(
        update,
        outputStructType="key string, first_url string, n_docs long",
        stateStructType="min_url string, count long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return (
        ledger.writeStream.format("parquet")
        .option("path", results_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_dedup_view(spark: SparkSession, results_path: str) -> DataFrame:
    """Collapse the emission ledger to the batch-split-invariant final
    state per key (see stream_stateful_dedup)."""
    from pyspark.sql import functions as F

    led = spark.read.parquet(results_path)
    return led.groupBy("key").agg(
        F.min("first_url").alias("first_url"),
        F.max("n_docs").cast("long").alias("n_docs"),
    )


def snapshot_batch_sink(table_root: str, tally: Accumulator):
    """foreachBatch body with EXACTLY-ONCE semantics over the
    snapshot table (plans/snapshots.py). Plain foreachBatch is
    at-least-once: a crash after the parquet append but before the
    checkpoint commit re-delivers the batch and appends it twice. Here
    every commit records its batch_id in the manifest summary, and a
    re-delivered batch whose id is already committed SKIPS — the
    transactional-sink pattern (Delta's txnAppId/txnVersion), built on
    the same atomic manifest publish the batch job uses. Results and
    the epoch's audit rows, tallied into `tally` (a `task_audit`
    accumulator the batch's extraction tasks add to), land in ONE
    commit (snapshots.commit_extraction), so replay can never split
    them."""
    from paddleocr_spark.plans import snapshots as snap

    table_root = snap.resolve_root(table_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tally.value = {}  # this epoch's tasks only
        done = snap.watermark(table_root, key="batch_id")
        if done is not None and batch_id <= done:
            return  # replayed epoch: already committed, drop it
        snap.commit_extraction(
            table_root, batch_df, tally, f"epoch-{batch_id}",
            {"batch_id": batch_id},
        )

    return sink


def stream_extract_snapshot(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    page_limit: int = 0,
    orient: bool = False,
    weights: bytes | None = None,
) -> StreamingQuery:
    """stream_extract_with_audit, but the sink is the snapshot table:
    each micro-batch is one atomic results+audit commit, idempotent
    under foreachBatch replay (see snapshot_batch_sink)."""
    tally = task_audit(spark)
    sink = snapshot_batch_sink(table_root, tally)  # checks the root first
    results = extract_pages(
        read_pages_stream(spark, source_dir), num_partitions=num_partitions,
        page_limit=page_limit, orient=orient, weights=weights, _tally=tally,
    )
    return (
        results.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
