"""Batch job entry point for spark-submit.

    spark-submit --py-files paddleocr_spark.zip -m [...] \
        paddleocr_spark/job.py --pages /data/pages --results /out/results \
        --audit /out/audit --partitions 4096

or locally: python -m paddleocr_spark.job --sf-dir /root/testdata/sf0.001 ...

Replaces the reference's `python tools/infer/predict_system.py --use_mp
--total_process_num N` self-respawn sharding (tools/infer/
predict_system.py:310-326) with Spark task scheduling: read the pages
table (or synthesize it from a documents table for fixtures), anti-join
already-committed urls (idempotent resume), salted repartition, OCR UDF,
write results + per-partition audit rows. Model weights ship as a Spark
broadcast (kernels/font.export_weights by default; --weights swaps in a
caller blob, e.g. ONNX bytes); each task builds its engine from them. --stream runs
the same plan as a checkpointed Structured Streaming job instead
(incremental: only unprocessed landing files per run). --snapshot turns
the results sink into an Iceberg-style snapshot table (plans/
snapshots.py): one atomic commit publishes results + audit, resume
reads the last committed snapshot.
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="paddleocr_spark.job",
        description="Distributed document-to-text extraction job",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet dir with pages(url, warc_ts, html, text, lang)")
    src.add_argument("--sf-dir", help="testdata dir; pages are synthesized from documents.parquet")
    src.add_argument("--warc", help="dir/glob of .warc(.gz) archives (Common-Crawl layout); "
                                    "response records explode into pages rows")
    src.add_argument("--maintain", action="store_true",
                     help="table maintenance instead of extraction: "
                          "compact the --results snapshot table's small "
                          "files (rewrite snapshot), then optionally "
                          "expire old snapshots (--expire-keep)")
    p.add_argument("--results", required=True, help="results parquet sink")
    p.add_argument("--audit", default=None,
                   help="audit parquet sink (required unless --snapshot, "
                        "which carries audit rows inside the table)")
    p.add_argument("--partitions", type=int, default=None,
                   help="salted repartition width (default: 2x defaultParallelism)")
    p.add_argument("--page-limit", type=int, default=0,
                   help="cap pages per multi-page payload (reference --page_num)")
    p.add_argument("--orient", action="store_true",
                   help="enable the rotation sweep for unoriented scans")
    p.add_argument("--no-resume", action="store_true",
                   help="skip the committed-url anti-join")
    p.add_argument("--master", default=None,
                   help="override master (default: whatever spark-submit set)")
    p.add_argument("--weights", default=None,
                   help="path to a model-weights blob to broadcast "
                        "(default: the packaged recognition templates)")
    p.add_argument("--stream", default=None, metavar="CHECKPOINT_DIR",
                   help="run as a checkpointed Structured Streaming job "
                        "(requires --pages as the landing dir); resumes "
                        "incrementally from the checkpoint")
    p.add_argument("--wet", default=None, metavar="OUT_DIR",
                   help="after the run, publish the committed extracted "
                        "text as Common-Crawl-style WET archives "
                        "(conversion-record .warc.gz blobs, CDX-range-"
                        "addressable) into OUT_DIR as parquet")
    p.add_argument("--wat", default=None, metavar="OUT_DIR",
                   help="also publish WAT metadata archives (link/title "
                        "JSON in metadata-record .warc.gz blobs, CDX-"
                        "range-addressable) for the INPUT pages into "
                        "OUT_DIR as parquet; requires HTML payloads "
                        "(--warc or an HTML --pages dir)")
    p.add_argument("--zorder", default=None, metavar="COL:MODE[,COL:MODE]",
                   help="with --maintain: re-cluster the compaction "
                        "rewrite in Z-order over these dimensions "
                        "(modes: value | day | prefix), e.g. "
                        "'url:prefix,warc_ts:day' — OPTIMIZE ZORDER as "
                        "part of the same rewrite snapshot")
    p.add_argument("--zorder-files", type=int, default=16, metavar="N",
                   help="with --zorder: cluster count for the rewrite")
    p.add_argument("--expire-keep", type=int, default=0, metavar="N",
                   help="with --maintain: after compaction, expire all "
                        "but the last N snapshots and reclaim their "
                        "unreferenced data files (0 = keep everything)")
    p.add_argument("--bench-json", default=None, metavar="PATH",
                   help="write one JSON object {docs, sec, docs_per_sec} "
                        "timing the extraction action only (session "
                        "startup excluded) — bench.py's spark-submit "
                        "scaling section reads it (batch modes only)")
    p.add_argument("--train-quality", action="store_true",
                   help="with --curate: train the averaged-perceptron "
                        "quality classifier on this corpus (Gopher "
                        "bootstrap labels), calibrate its threshold, "
                        "and filter with the TRAINED model")
    p.add_argument("--curate", action="store_true",
                   help="run the end-to-end curation funnel (lang -> "
                        "gopher -> quality -> exact dedup -> near dedup) "
                        "over --sf-dir's documents table, pack survivors "
                        "into training sequences, and write "
                        "lang-partitioned shards + the funnel report "
                        "under --results")
    p.add_argument("--shards-per-partition", type=int, default=4,
                   help="with --curate: max parquet files per lang dir "
                        "(shard near the 1 GiB sweet spot at scale)")
    p.add_argument("--tokenize", type=int, default=0, metavar="N_MERGES",
                   help="train an N-merge BPE tokenizer on the documents "
                        "table (--sf-dir) and write per-doc encodings + "
                        "the merge table under --results instead of "
                        "running extraction")
    p.add_argument("--export-wds", metavar="DIR", default="",
                   help="ship (page image, extracted text) pairs as "
                        "WebDataset tar shards under DIR with a manifest "
                        "parquet beside them, instead of running the "
                        "standard extraction job (requires --sf-dir)")
    p.add_argument("--tokenizer-algo", choices=("bpe", "unigram"),
                   default="bpe",
                   help="with --tokenize: merge-based BPE (Sennrich) or "
                        "unigram-LM hard-EM (Kudo/SentencePiece); for "
                        "unigram, N is the vocab target instead of the "
                        "merge count")
    p.add_argument("--snapshot", action="store_true",
                   help="treat --results as an Iceberg-style snapshot "
                        "table root: results + this run's audit rows are "
                        "published in ONE atomic commit, resume reads "
                        "only the last committed snapshot, and a crashed "
                        "run's partial files stay invisible (--audit is "
                        "ignored; the audit branch lives in the table)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if (not args.snapshot and not args.audit and not args.maintain
            and not args.tokenize and not args.curate
            and not args.export_wds):
        print("--audit is required unless --snapshot is set", file=sys.stderr)
        return 2
    # usage errors are adjudicated BEFORE the SparkSession exists — an
    # early `return 2` below the builder would leak a live JVM
    if args.curate and not args.sf_dir:
        print("--curate requires --sf-dir (the documents table)",
              file=sys.stderr)
        return 2
    if args.tokenize and not args.sf_dir:
        print("--tokenize requires --sf-dir (the documents table)",
              file=sys.stderr)
        return 2
    if args.export_wds and not args.sf_dir:
        print("--export-wds requires --sf-dir (the documents table)",
              file=sys.stderr)
        return 2

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from paddleocr_spark.tuning import SESSION_CONF

    # getOrCreate() may hand us a pre-existing session (e.g. pytest's shared
    # fixture when main() runs in-process); stopping one we did not create
    # would kill that host's SparkContext for everything after us, so every
    # exit path goes through _stop() which only stops a session we built.
    # getActiveSession() is thread-local, so it misses the default session
    # another thread built; getOrCreate() reuses any live SparkContext, so
    # a live context is what makes the session pre-existing.
    pre_existing = SparkContext._active_spark_context is not None

    # spark-submit (or --master) owns the master, the driver heap and
    # spark.local.dir; on a live session getOrCreate() applies only the
    # settings a running session can still change
    builder = SparkSession.builder.appName("paddleocr-spark-extract").config(
        map=SESSION_CONF
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def _stop():
        if not pre_existing:
            spark.stop()

    weights = None
    if args.weights:
        with open(args.weights, "rb") as fh:
            weights = fh.read()

    if args.maintain:
        from paddleocr_spark.plans import snapshots as _snap

        zdims = None
        if args.zorder:
            from paddleocr_spark.plans.zorder import parse_zorder_spec

            zdims = parse_zorder_spec(args.zorder)
        v = _snap.compact(
            spark, args.results, zorder_by=zdims,
            target_files=args.zorder_files if zdims else 1,
        )
        if v is None:
            print(f"compaction: no-op ({args.results} already compact)")
        elif zdims:
            print(f"compaction: published Z-ordered rewrite snapshot v{v} "
                  f"({args.zorder})")
        else:
            print(f"compaction: published rewrite snapshot v{v}")
        if args.expire_keep > 0:
            gone = _snap.expire_snapshots(
                args.results, keep_last=args.expire_keep
            )
            print(f"expire: reclaimed {len(gone)} path(s), kept last "
                  f"{args.expire_keep} snapshot(s)")
        _stop()
        return 0

    if args.curate:
        from paddleocr_spark.plans.curate import curate_job

        out = curate_job(
            spark, args.sf_dir, args.results,
            shards_per_partition=args.shards_per_partition,
            train_quality=args.train_quality,
        )
        funnel = ", ".join(
            f"{k}={v}" for k, v in sorted(out["stages"].items())
        )
        print(f"curation complete: {out['kept']}/{out['total']} docs kept "
              f"({funnel}) -> {args.results}/shards")
        _stop()
        return 0

    if args.export_wds:
        from pyspark.sql import functions as F

        from paddleocr_spark.plans.pipeline import extract_pages
        from paddleocr_spark.plans.webdataset import export_webdataset
        from paddleocr_spark.sources.pages import pages_from_documents

        pages = pages_from_documents(spark, args.sf_dir).localCheckpoint()
        results = extract_pages(
            pages, num_partitions=spark.sparkContext.defaultParallelism
        )
        # key = url with the scheme/path flattened to a tar-safe name
        pairs = results.join(pages.select("url", "html"), "url").select(
            F.regexp_replace(
                F.regexp_replace("url", "^[a-z]+://", ""), "/", "_"
            ).alias("key"),
            F.col("html").alias("image"),
            F.col("extracted_text").alias("text"),
        )
        manifest = export_webdataset(spark, pairs, args.export_wds)
        manifest.coalesce(1).write.mode("overwrite").parquet(
            f"{args.export_wds}/manifest.parquet"
        )
        m = spark.read.parquet(f"{args.export_wds}/manifest.parquet")
        tot = m.groupBy().sum("n_pairs").collect()[0][0]
        print(f"webdataset: {tot} pairs in {m.count()} shards -> "
              f"{args.export_wds}")
        _stop()
        return 0

    if args.tokenize:
        if args.tokenizer_algo == "unigram":
            from paddleocr_spark.functions.unigram import (
                encode_unigram,
                train_unigram,
                unigram_fertility,
            )

            pieces = train_unigram(
                spark, args.sf_dir, vocab_target=args.tokenize
            )
            enc = encode_unigram(spark, args.sf_dir, pieces)
            enc.write.mode("overwrite").parquet(
                f"{args.results}/encodings.parquet"
            )
            spark.createDataFrame(
                [(p, c) for p, c in pieces], "piece string, cnt long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{args.results}/pieces.parquet"
            )
            committed = spark.read.parquet(
                f"{args.results}/encodings.parquet"
            )
            unigram_fertility(committed).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{args.results}/fertility.parquet")
            n = committed.count()
            print(f"tokenizer: learned {len(pieces)} unigram pieces, "
                  f"encoded {n} docs -> {args.results}")
            _stop()
            return 0
        from paddleocr_spark.functions.bpe import run_tokenize_job

        out = run_tokenize_job(
            spark, args.sf_dir, args.results, n_merges=args.tokenize
        )
        print(f"tokenizer: learned {out['n_merges']} merges, encoded "
              f"{out['n_docs']} docs -> {args.results}")
        _stop()
        return 0

    if args.stream:
        if not args.pages:
            print("--stream requires --pages (the landing directory)",
                  file=sys.stderr)
            return 2
        if args.snapshot:
            from paddleocr_spark.plans import snapshots as _snap
            from paddleocr_spark.streaming.pipeline import (
                stream_extract_snapshot,
            )

            q = stream_extract_snapshot(
                spark, args.pages, args.results, args.stream,
                num_partitions=args.partitions, page_limit=args.page_limit,
                orient=args.orient, weights=weights,
            )
            q.awaitTermination()
            v = _snap.current_version(args.results)
            n = _snap.read(spark, args.results).count() if v else 0
            print(
                f"stream drained: {n} rows committed to {args.results} "
                f"(snapshot v{v}, exactly-once epochs)"
            )
            _stop()
            return 0
        from paddleocr_spark.streaming.pipeline import stream_extract_with_audit

        q = stream_extract_with_audit(
            spark, args.pages, args.results, args.audit, args.stream,
            num_partitions=args.partitions, page_limit=args.page_limit,
            orient=args.orient, weights=weights,
        )
        q.awaitTermination()
        try:
            n = spark.read.parquet(args.results).count()
        except Exception:
            n = 0  # zero-batch drain: foreachBatch never created the sink
        print(f"stream drained: {n} rows committed to {args.results}")
        _stop()
        return 0

    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.warc:
        from paddleocr_spark.sources.pages import pages_from_warc

        pages = pages_from_warc(spark, args.warc)
    else:
        from paddleocr_spark.sources.pages import pages_from_documents

        pages = pages_from_documents(spark, args.sf_dir)

    if args.wat:
        # WAT metadata is parsed out of HTML payloads; the default
        # --sf-dir path renders PNG page images into the html column,
        # which would fail deep in an executor AFTER the whole
        # extraction run. Route one payload up front and fail fast.
        from paddleocr_spark.kernels.multipage import route

        probe = pages.select("html").limit(1).collect()
        if probe and route(bytes(probe[0]["html"]))[0] != "html":
            print(
                "error: --wat needs HTML page payloads (use --warc or "
                "--pages over an html-bearing table); the current source "
                "carries non-HTML bytes in the html column",
                file=sys.stderr,
            )
            _stop()
            return 2

    parts = args.partitions or 2 * spark.sparkContext.defaultParallelism
    if args.bench_json:
        # Timing mode measures steady-state throughput: spin up the
        # python workers (numpy/kernel imports), the noop/parquet
        # committers, and codegen BEFORE the timed action — the same
        # warm-up convention as bench.py and the reference's 10 warmup
        # iterations (tools/infer/predict_system.py:201-205).
        from paddleocr_spark.plans.pipeline import extract_pages

        ncpu = spark.sparkContext.defaultParallelism
        extract_pages(
            pages.limit(8 * ncpu), num_partitions=ncpu, weights=weights
        ).write.format("noop").mode("overwrite").save()
    if args.snapshot:
        from paddleocr_spark.plans.snapshots import run_job_snapshot

        t0 = time.monotonic()
        out = run_job_snapshot(
            spark, pages, args.results, num_partitions=parts,
            resume=not args.no_resume, page_limit=args.page_limit,
            orient=args.orient, weights=weights,
        )
        _write_bench(args.bench_json, out["rows"], time.monotonic() - t0)
        print(
            f"extraction complete: {out['rows']} rows committed as "
            f"snapshot v{out['version']} of {args.results} "
            f"(run {out['run_id']})"
        )
        if args.wet:
            from paddleocr_spark.plans.snapshots import read as snap_read

            _export_wet(snap_read(spark, args.results), args.wet)
        _stop()
        return 0

    from paddleocr_spark.plans.pipeline import run_job

    t0 = time.monotonic()
    n_committed = run_job(
        spark, pages, args.results, args.audit, num_partitions=parts,
        resume=not args.no_resume, page_limit=args.page_limit,
        orient=args.orient, weights=weights,
    )
    sec = time.monotonic() - t0
    _write_bench(args.bench_json, n_committed, sec)
    print(
        f"extraction complete: {n_committed} rows committed to "
        f"{args.results}"
    )
    if args.wet:
        committed = spark.read.option("recursiveFileLookup", "true").parquet(
            args.results
        )
        _export_wet(committed, args.wet)
    if args.wat:
        _export_wat(pages, args.wat)
    _stop()
    return 0


def _write_bench(path: str | None, docs: int, sec: float) -> None:
    if not path:
        return
    import json

    with open(path, "w") as fh:
        json.dump(
            {"docs": docs, "sec": sec,
             "docs_per_sec": docs / sec if sec > 0 else 0.0},
            fh,
        )


def _export_wet(committed, out_dir: str) -> None:
    from paddleocr_spark.sources.pages import wet_archives

    arch = wet_archives(committed.select("url", "extracted_text"))
    arch.write.mode("overwrite").parquet(out_dir)
    print(f"wet export: archives written to {out_dir}")


def _export_wat(pages, out_dir: str) -> None:
    from paddleocr_spark.operators.wat import wat_archives

    wat_archives(pages).write.mode("overwrite").parquet(out_dir)
    print(f"wat export: archives written to {out_dir}")


if __name__ == "__main__":
    sys.exit(main())
