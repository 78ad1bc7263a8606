"""End-to-end Spark pipeline tests: byte-identical extraction per url,
multi-page explode, resume idempotency, audit lineage (FIXTURES.md §2/§6)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from paddleocr_spark.plans.pipeline import (
    AUDIT_SCHEMA,
    extract_pages,
    resume_filter,
    run_job,
    salted_repartition,
    task_audit,
)
from paddleocr_spark.sources.pages import (
    html_pages_from_documents,
    pages_from_documents,
)

N_DOCS = 40  # subset for speed; full corpus is covered by the driver gate


def _expected(spark, limit=N_DOCS, n=120):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(limit)
    return docs.select(
        F.expr(
            "concat('https://', source, '.example.test/doc/', cast(doc_id as string))"
        ).alias("url"),
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, n)
        ).alias("norm"),
    )


def test_extraction_byte_identical(spark):
    pages = pages_from_documents(spark, SF_SMALL, limit=N_DOCS)
    res = extract_pages(pages, num_partitions=8)
    got = res.select("url", F.regexp_replace("extracted_text", "\n", "").alias("got"))
    joined = got.join(_expected(spark), "url")
    rows = joined.collect()
    assert len(rows) == N_DOCS
    bad = [r for r in rows if r.got != r.norm]
    assert not bad, f"text mismatch for {len(bad)} urls, e.g. {bad[:1]}"


def test_multipage_explodes_with_img_idx(spark):
    pages = pages_from_documents(spark, SF_SMALL, multipage=True, limit=10)
    res = extract_pages(pages, num_partitions=4)
    rows = res.select("url", "img_idx").collect()
    per_url = {}
    for r in rows:
        per_url.setdefault(r.url, []).append(r.img_idx)
    for url, idxs in per_url.items():
        assert sorted(idxs) == list(range(len(idxs))), url


def test_spans_schema_and_order(spark):
    pages = pages_from_documents(spark, SF_SMALL, limit=5)
    res = extract_pages(pages, num_partitions=2)
    row = res.filter(F.col("n_spans") > 1).first()
    ys = [s.box[0][1] for s in row.spans]
    assert ys == sorted(ys), "spans must be in reading order"
    for s in row.spans:
        assert s.score >= 0.5
        assert len(s.box) == 4 and len(s.box[0]) == 2


def test_salted_repartition_balances(spark):
    pages = pages_from_documents(spark, SF_SMALL, limit=N_DOCS)
    parts = (
        salted_repartition(pages.select("url"), 8)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) >= 6  # hash-spread across nearly all partitions
    assert max(counts) <= 3 * (N_DOCS // 8 + 1)


def test_run_job_resume_idempotent(spark, tmp_path):
    """Resume holds for plain sink paths and for file:// URIs alike."""
    pages = pages_from_documents(spark, SF_SMALL, limit=12).cache()
    half = pages.limit(6)
    for root in (str(tmp_path / "plain"), (tmp_path / "uri").as_uri()):
        results, audit = f"{root}/results", f"{root}/audit"
        run_job(spark, half, results, audit, num_partitions=4, run_id="r1")
        assert spark.read.parquet(results).count() == 6
        # A second run over the full set processes only the other 6 urls.
        todo = resume_filter(pages, results)
        assert todo.count() == 6
        n = run_job(spark, pages, results, audit, num_partitions=4, run_id="r2")
        assert n == 6
        run_dirs = sorted((tmp_path / root.rsplit("/", 1)[-1] / "results").iterdir())
        assert [d.name for d in run_dirs] == ["run_id=r1", "run_id=r2"]
        for d in run_dirs:
            assert not list(d.glob("*_SUCCESS*")), d
        final = spark.read.parquet(results)
        assert final.count() == 12
        assert final.select("url").distinct().count() == 12
    pages.unpersist()


def test_run_job_audit_is_incremental(spark, tmp_path):
    """Each run's audit rows aggregate ONLY that run's committed
    increment — a resume cycle over already-committed data must not
    re-count prior runs' pages under the new run_id (at 10^12 docs the
    old full-sink re-aggregation was also a full-table scan per
    resume)."""
    results = str(tmp_path / "results")
    audit = str(tmp_path / "audit")
    pages = pages_from_documents(spark, SF_SMALL, limit=8).cache()
    run_job(spark, pages.limit(5), results, audit, num_partitions=2, run_id="a1")
    run_job(spark, pages, results, audit, num_partitions=2, run_id="a2")
    # Fully-committed input: nothing left to do, audit must add nothing.
    run_job(spark, pages, results, audit, num_partitions=2, run_id="a3")
    rows = spark.read.parquet(audit)
    per_run = {
        r["run_id"]: r["pages"]
        for r in rows.groupBy("run_id")
        .agg(F.sum("page_count").alias("pages"))
        .collect()
    }
    assert per_run.get("a1") == 5
    assert per_run.get("a2") == 3
    assert per_run.get("a3", 0) in (0, None)  # empty increment
    total = rows.agg(F.sum("page_count")).first()[0]
    assert total == 8  # never double-counts committed pages
    pages.unpersist()


def test_resume_over_sink_without_data_files(spark, tmp_path):
    """A first run that died after creating its run_id= directory leaves
    a sink with no data file: resume must return every page instead of
    failing to infer a schema."""
    results = tmp_path / "results"
    (results / "run_id=crashed").mkdir(parents=True)
    pages = pages_from_documents(spark, SF_SMALL, limit=6)
    assert resume_filter(pages, str(results)).count() == 6


def _pages_with_errors(spark):
    """Multi-page scans plus two undecodable payloads and a PDF of no
    page: pages differ from urls, and some rows are error rows."""
    import pandas as pd

    from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages

    broken = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "https://x.test/broken1",
                    "https://x.test/broken2",
                    "https://x.test/no-pages",
                ],
                "html": [b"not a png at all", b"\x00\x01", pdf_encode_gray_pages([])],
            }
        )
    )
    pages = pages_from_documents(spark, SF_SMALL, multipage=True, limit=10)
    return pages.select("url", "html").unionByName(broken)


def _extraction_partitions(pages, n):
    """Partition ids of the extraction stage that receive input rows."""
    return {
        r.pid
        for r in salted_repartition(pages.select("url"), n)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .collect()
    }


def test_run_job_task_audit_matches_committed_rows(spark, tmp_path):
    """run_job's audit comes from the extraction tasks: per run its
    url/page/ok/err sums equal the committed rows', it has one row per
    non-empty extraction partition, and each row's wall_ms is task wall
    time, which covers its stage timers. The driver writes it as one
    file per run, which Spark reads back with AUDIT_SCHEMA's fields and
    types, and leaves no temp file behind."""
    from pyspark.sql.types import StructType

    results = str(tmp_path / "results")
    audit = str(tmp_path / "audit")
    pages = _pages_with_errors(spark).cache()
    n = run_job(spark, pages, results, audit, num_partitions=4, run_id="t1")
    committed = spark.read.parquet(results).drop("run_id")
    assert n == committed.count()
    # the results write leaves data files only: no Hadoop `_SUCCESS`
    # marker (nor its .crc); the audit file marks the finished run
    assert [f for f in os.listdir(f"{results}/run_id=t1") if "_SUCCESS" in f] == []

    assert sorted(os.listdir(audit)) == ["part-t1.parquet"]
    tallied = spark.read.parquet(audit)
    assert [(f.name, f.dataType) for f in tallied.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(AUDIT_SCHEMA)
    ]

    # One url's pages share a payload row, so they share a task: the
    # per-task distinct-url counts sum to the run's distinct urls.
    want = committed.agg(
        F.countDistinct("url").alias("url_count"),
        F.count(F.lit(1)).alias("page_count"),
        F.count(F.when(F.col("img_idx") >= 0, 1)).alias("ok_count"),
        F.count(F.when(F.col("img_idx") < 0, 1)).alias("err_count"),
    ).first()
    got = tallied.agg(*[F.sum(k).alias(k) for k in want.asDict()]).first()
    assert got == want
    # every error url, the PDF of no page too, commits one error row
    assert got.err_count == 3 and got.page_count > got.url_count

    rows = tallied.collect()
    pids = [r.partition_id for r in rows]
    assert sorted(pids) == sorted(_extraction_partitions(pages, 4))
    assert {r.run_id for r in rows} == {"t1"}
    for r in rows:
        assert r.wall_ms >= r.decode_ms + r.det_ms + r.rec_ms
    pages.unpersist()


def test_task_audit_keyed_across_reruns(spark):
    """Running one results plan twice against one accumulator replaces
    each partition's row: one entry per partition, pages counted once."""
    pages = pages_from_documents(spark, SF_SMALL, limit=10)
    tally = task_audit(spark)
    res = extract_pages(pages, num_partitions=4, _tally=tally)
    for _ in range(2):
        res.write.format("noop").mode("overwrite").save()
    assert set(tally.value) == _extraction_partitions(pages, 4)
    assert all(pid == row["partition_id"] for pid, row in tally.value.items())
    assert sum(row["page_count"] for row in tally.value.values()) == 10


def test_html_extraction_byte_identical(spark):
    import pandas as pd

    pages = html_pages_from_documents(spark, SF_SMALL).limit(N_DOCS)

    def run(batches):
        from paddleocr_spark.operators.html_extract import extract_main_text

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "got": [
                        extract_main_text(bytes(b).decode("utf-8")) for b in pdf["html"]
                    ],
                    "want": pdf["text"],
                }
            )

    out = pages.mapInPandas(run, schema="url string, got string, want string")
    bad = out.filter(F.col("got") != F.col("want")).count()
    assert bad == 0


def test_corrupt_payload_flagged_not_fatal(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"url": ["https://x.test/broken"], "html": [b"not a png at all"]}
    )
    df = spark.createDataFrame(pdf)
    res = extract_pages(df)
    row = res.first()
    assert row.img_idx == -1
    assert row.extracted_text == ""


def test_broadcast_weights_reach_workers(spark):
    """The rec weights ship as a Spark broadcast: a driver-side blob
    with the 'A' and 'B' template rows swapped must make every worker
    read A as B and B as A — proving the weights genuinely flow from
    driver to executors rather than being re-derived worker-side."""
    import io

    import numpy as np
    import pytest

    from paddleocr_spark.kernels.font import CHARSET, export_weights, load_weights
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import pages_from_documents

    z = np.load(io.BytesIO(export_weights()))
    t = z["templates"].copy()
    ia, ib = CHARSET.index("A"), CHARSET.index("B")
    t[[ia, ib]] = t[[ib, ia]]
    buf = io.BytesIO()
    np.savez(buf, templates=t, charset=z["charset"])
    swapped = buf.getvalue()

    pages = pages_from_documents(spark, SF_SMALL, limit=6)
    base = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(pages, num_partitions=4).collect()
    }
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(pages, num_partitions=4, weights=swapped).collect()
    }
    tr = str.maketrans("AB", "BA")
    assert got == {u: t.translate(tr) for u, t in base.items()}
    assert any("A" in t or "B" in t for t in base.values())

    # a structurally-valid blob with the wrong label space must refuse
    buf = io.BytesIO()
    np.savez(
        buf,
        templates=z["templates"],
        charset=np.frombuffer(b"WRONG", dtype=np.uint8),
    )
    with pytest.raises(ValueError):
        load_weights(buf.getvalue())


def test_text_stats_suite_no_int32_overflow(spark, tmp_path):
    """A doc with >=2148 punctuation chars: int32 * 1000000 overflows
    under ANSI mode unless the count is widened to long first
    (regression — the 10^12-scale overflow discipline applies to every
    scaled ratio)."""
    from paddleocr_spark.functions.text import text_stats_suite

    spark.createDataFrame(
        [(1, "!" * 3000 + " the the the", "en", "synthetic", 3012)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["op"]: r["v"]
        for r in text_stats_suite(spark, str(tmp_path)).collect()
        if r["op"] == "quality_scores"
    }
    micro_punct = int(rows["quality_scores"].split("|")[0])
    assert micro_punct == round(3000 * 1000000 / 3012)


def test_boilerplate_grams_semantics(spark, tmp_path):
    """A bigram repeated in >= BOILER_DF docs of one host is boilerplate;
    the same bigram on another host with fewer repeats is not."""
    from paddleocr_spark.functions.text import boilerplate_gram_rows

    rows = [
        # host A: 'nav menu' appears in 3 docs -> boilerplate there
        (1, "nav menu alpha beta", "ha"),
        (2, "nav menu gamma delta", "ha"),
        (3, "nav menu epsilon zeta", "ha"),
        # host B: same bigram only twice -> NOT boilerplate
        (4, "nav menu eta theta", "hb"),
        (5, "nav menu iota kappa", "hb"),
    ]
    spark.createDataFrame(
        [(d, t, "en", s, len(t)) for d, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["k"]: r["v"]
        for r in boilerplate_gram_rows(spark, str(tmp_path)).collect()
    }
    # each doc has 3 bigrams; on host A exactly one ('nav menu') is shared
    assert got["1"] == "1|3" and got["2"] == "1|3" and got["3"] == "1|3"
    assert got["4"] == "0|3" and got["5"] == "0|3"


def test_repetition_stats_matches_bruteforce(spark):
    """Top-word/top-bigram mass fractions == a plain-Python count over
    the same documents, at exact integer micro-units (long div, so no
    float ever enters the compare)."""
    import re as _re
    from collections import Counter

    from paddleocr_spark.functions.text import repetition_stats

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    want = {}
    for r in docs:
        toks = _re.split(r"\s+", str(r["text"]).strip())
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        w = Counter(toks)
        b = Counter(grams)
        mw = (max(w.values()) * 1000000) // sum(w.values())
        mb = (max(b.values()) * 1000000) // sum(b.values()) if grams else 0
        want[int(r["doc_id"])] = (mw, mb)
    got = {
        int(r["doc_id"]): (int(r["micro_top_word"]), int(r["micro_top_bigram"]))
        for r in repetition_stats(spark, SF_SMALL).collect()
    }
    assert got == want


class TestExportTrainingShards:
    def test_layout_pruning_and_in_shard_order(self, spark, tmp_path):
        """Directory-partitioned by lang, <= shards files per partition
        dir, rows sorted by url inside each file, and a lang filter
        reaches the scan as a PartitionFilter (whole directories
        pruned)."""
        import glob
        import os

        from paddleocr_spark.plans.pipeline import export_training_shards

        rows = [
            (f"https://h{i % 7}.test/doc/{i}", "en" if i % 3 else "de",
             f"text {i}")
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "url string, lang string, text string")
        out = str(tmp_path / "shards")
        export_training_shards(df, out, shards_per_partition=4)

        dirs = sorted(
            d for d in os.listdir(out) if d.startswith("lang=")
        )
        assert dirs == ["lang=de", "lang=en"]
        for d in dirs:
            files = glob.glob(f"{out}/{d}/*.parquet")
            assert 1 <= len(files) <= 4
            for f in files:
                urls = [r.url for r in spark.read.parquet(f).collect()]
                assert urls == sorted(urls)  # in-shard order

        got = spark.read.parquet(out).filter("lang = 'en'")
        assert got.count() == sum(1 for _, l, _ in rows if l == "en")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(lang" in plan
        # round trip is lossless
        assert spark.read.parquet(out).count() == len(rows)


def test_sessionize_gap_semantics(spark, tmp_path):
    """30-min gap rule: == gap stays in-session, > gap starts a new one;
    ids dense per user; ties broken by event_id."""
    import datetime as dt

    from paddleocr_spark.functions.relational import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 3 events within gaps, then a 30:00.000001 jump
        (1, 1, base),
        (2, 1, base + dt.timedelta(minutes=29)),
        (3, 1, base + dt.timedelta(minutes=59)),  # exactly 30:00 gap -> same
        (4, 1, base + dt.timedelta(minutes=89, microseconds=1)),  # > gap -> new
        # user 2: single event
        (5, 2, base),
        # user 1: same-ts tie with event 1 (event_id orders it)
        (0, 1, base),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).write.parquet(f"{sf}/events.parquet")
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.dur_us)
        for r in sessionize(spark, sf).collect()
    }
    m = dt.timedelta(minutes=59) // dt.timedelta(microseconds=1)
    assert got == {
        (1, 1): (4, m),
        (1, 2): (1, 0),
        (2, 1): (1, 0),
    }


def test_pdf_text_triage_routes_without_ocr(spark):
    """extract_pages' born-digital triage: a text-layer PDF extracts
    its content-stream text verbatim (one row per page, zero spans) and
    never enters the OCR chain; a scan PDF still OCRs byte-exactly.
    The triage is per-PAYLOAD (all pages text -> direct, else the scan
    path): a document mixing text and scan pages is NOT silently
    half-extracted — it leaves the fast path entirely."""
    import datetime as dt

    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.pdf import (
        pdf_encode_gray_pages,
        pdf_encode_text_pages,
    )
    from paddleocr_spark.operators.media import synth_text_pdf
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import wrap_lines

    born, want = synth_text_pdf(3)  # 2 pages (3 % 2 == 1)
    scan_img = render_page(wrap_lines("HELLOSCANWORLD"))
    scan = pdf_encode_gray_pages([scan_img])
    # mixed: first page has a text layer, second is a scan
    mixed = pdf_encode_text_pages([["ONLYPAGEONE"]], [[0]])
    # pdf_encode_text_pages only writes text PDFs; emulate "mixed" by a
    # text PDF followed by a scan payload in separate rows instead —
    # the per-PAYLOAD triage contract is all-text-or-OCR
    ts = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            ("pdf://born", ts, bytearray(born), "", "en"),
            ("pdf://scan", ts, bytearray(scan), "", "en"),
            ("pdf://textonly", ts, bytearray(mixed), "", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {}
    for r in extract_pages(pages, num_partitions=2).collect():
        got[(r.url, r.img_idx)] = (r.extracted_text, r.n_spans)
    assert got[("pdf://born", 0)] == (want[0], 0)
    assert got[("pdf://born", 1)] == (want[1], 0)
    assert got[("pdf://textonly", 0)] == ("ONLYPAGEONE", 0)
    text, n = got[("pdf://scan", 0)]
    assert n > 0 and "HELLOSCANWORLD" in text.replace("\n", "")


def test_reused_workers_import_after_zip_importer_release(spark):
    """A worker that imports the package guards its zip finders
    (tuning.guard_zip_finders): before each later task they are no
    longer re-read. A rerun on the same, reused workers must give
    identical rows, and a later task must still import a pyspark
    submodule its worker has never loaded, from the finder's directory
    read when the worker first imported from that archive."""
    pages = pages_from_documents(spark, SF_SMALL, limit=16)
    cols = ["url", "img_idx", "extracted_text", "n_spans", "spans"]

    def run():
        return sorted(extract_pages(pages, num_partitions=8).select(*cols).collect())

    first = run()
    assert len(first) == 16
    assert run() == first

    def probe(batches):
        import importlib
        import sys

        import pandas as pd
        import pyspark

        candidates = (
            "pyspark.sql.avro.functions",
            "pyspark.sql.protobuf.functions",
            "pyspark.instrumentation_utils",
            "pyspark.mllib.common",
        )
        name = next((m for m in candidates if m not in sys.modules), None)
        origin = importlib.import_module(name).__file__ if name else None
        for pdf in batches:
            yield pd.DataFrame(
                {"name": [name] * len(pdf), "origin": [origin] * len(pdf),
                 "pyspark": [pyspark.__file__] * len(pdf)}
            )

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInPandas(probe, "name string, origin string, pyspark string")
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert r.name is not None, "every candidate submodule already loaded"
        assert r.origin.endswith(".py")
        if ".zip" in r.pyspark:  # pyspark shipped as an archive
            assert r.pyspark.split(".zip")[0] == r.origin.split(".zip")[0]
