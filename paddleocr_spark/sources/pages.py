"""Synthesize the `pages` corpus (url, warc_ts, html BINARY, text, lang)
from the testdata `documents` table — the BASELINE.json input_hint shape.

Determinism contract (this is what makes the DuckDB oracle possible):

    norm(text)   = upper(substring(regexp_replace(text, '[^a-zA-Z0-9]',
                   ''), 1, PAGE_CHARS))          -- plain ANSI SQL
    page image   = norm(text) wrapped into WRAP-char lines, rendered with
                   the fixed bitmap font, PNG-encoded
    OCR invariant: replace(extracted_text, '\n', '') == norm(text)

So a DuckDB query over `documents` reproduces the expected extraction
output byte-for-byte without running any OCR — the oracle for the whole
det->crop->rec->CTC->reading-order chain.

For multi-page payloads (the PDF analogue) the normalized text is taken
at MULTI_CHARS and split into PAGE_CHARS chunks, one rendered page each;
chunk k is page img_idx=k (SQL oracle: substring arithmetic + UNION ALL).
"""

from __future__ import annotations

import datetime
import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

PAGE_CHARS = 120
WRAP = 24
MULTI_CHARS = 300  # up to 3 pages for multi-page fixtures

# Bump when the renderer/normalization changes: benchmark page caches are
# keyed by this + the documents.parquet mtime so a stale materialization
# is never silently reused (bench.py _pages_cache).
FIXTURE_VERSION = 3  # v3: multipage corpus is a real PDF container

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_NORM_RE = re.compile(r"[^a-zA-Z0-9]")


def normalize_text(text: str, n_chars: int = PAGE_CHARS) -> str:
    """Must match the SQL: upper(substring(regexp_replace(text,
    '[^a-zA-Z0-9]', ''), 1, n_chars))."""
    return _NORM_RE.sub("", text or "")[:n_chars].upper()


def wrap_lines(norm: str, width: int = WRAP) -> list[str]:
    return [norm[i : i + width] for i in range(0, len(norm), width)]


def doc_url(doc_id: int, source: str) -> str:
    # Host comes from `source` (20 distinct hosts for ~N docs): the
    # host-level skew the north_rule's salted repartition must absorb.
    return f"https://{source}.example.test/doc/{doc_id}"


def doc_ts(doc_id: int) -> datetime.datetime:
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return base + datetime.timedelta(seconds=int(doc_id) * 37 % 2_592_000)


def _render_rows(multipage: bool, rotate180: bool = False, wrap: int = WRAP):
    """The row function of `pages_from_documents`: (doc_id, text,
    source, lang) -> one pages row with the rendered payload."""
    # Imported here, not at module level, so the kernels stay out of
    # this module's import (they are Spark-free and need no session).
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.imageops import rotate180 as _rot180
    from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
    from paddleocr_spark.kernels.png import encode_gray_png

    def render(doc_id, text, source, lang):
        if multipage:
            norm = normalize_text(text, MULTI_CHARS)
            chunks = [
                norm[i : i + PAGE_CHARS]
                for i in range(0, len(norm), PAGE_CHARS)
            ] or [""]
            imgs = [render_page(wrap_lines(c, wrap)) for c in chunks]
            # REAL PDF container (kernels/pdf.py): one lossless
            # FlateDecode gray XObject per page — the byte-identity
            # contract forbids a lossy page codec
            payload = pdf_encode_gray_pages(imgs)
        else:
            page = render_page(wrap_lines(normalize_text(text), wrap))
            if rotate180:
                page = _rot180(page)
            payload = encode_gray_png(page)
        return [(doc_url(int(doc_id), str(source)), doc_ts(int(doc_id)),
                 payload, str(text), str(lang))]

    return render


def pages_from_documents(
    spark: SparkSession,
    sf_dir: str,
    multipage: bool = False,
    limit: int | None = None,
    rotate180: bool = False,
    wrap: int = WRAP,
) -> DataFrame:
    """documents.parquet -> pages DataFrame with rendered PNG payloads.

    Column-pruned scan (only doc_id/text/source/lang leave the parquet
    reader); rendering runs Arrow-batched on executors. rotate180
    produces upside-down scans for the orientation-sweep path (the
    fork's rotated-IC test cases, e.g. test_taman_seroja.py)."""
    if limit is None and not rotate180:
        # Benchmark hygiene: when the harness has materialized this exact
        # corpus (cache keyed by FIXTURE_VERSION + documents mtime), read
        # it instead of re-rendering — downstream timings then measure
        # the operator, not fixture synthesis. Rendering is deterministic,
        # so the two paths are byte-identical.
        root = os.environ.get("SPARK_GRAFT_PAGES_CACHE")
        if root:
            kind = "multi" if multipage else "single"
            if wrap != WRAP:
                kind = f"{kind}w{wrap}"
            label = os.path.basename(sf_dir.rstrip("/"))
            path = os.path.join(root, f"{kind}_{label}.parquet")
            if os.path.exists(path):
                return spark.read.parquet(path)
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source", "lang"
    )
    if limit:
        docs = docs.limit(limit)
    # Fixture-synthesis parallelism: the documents scan is often a
    # single parquet split, and a narrow map inherits it — rendering
    # 5k pages single-threaded disguises ~15 s of fixture cost as
    # operator time. The exchange moves only tiny text rows; the PNG
    # payloads are created after it.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return map_rows(
        docs, _render_rows(multipage, rotate180, wrap), PAGES_SCHEMA
    )


def html_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> pages whose payload is a synthetic HTML
    document: the doc text verbatim inside <article>, wrapped in
    deterministic boilerplate (nav/sidebar/ads/footer). The main-content
    extractor must recover `text` byte-identically (oracle: documents.text)."""
    from paddleocr_spark.operators.html_extract import synthesize_html

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source", "lang"
    ).repartition(spark.sparkContext.defaultParallelism)

    def page(d, text, source, lang):
        return [(doc_url(int(d), str(source)), doc_ts(int(d)),
                 synthesize_html(str(text), int(d)).encode("utf-8"),
                 str(text), str(lang))]

    return map_rows(docs, page, PAGES_SCHEMA)


def text_pdf_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> pages whose payload is a born-digital PDF
    (operators/media.synth_text_pdf: real BT..ET text objects across
    the four content-stream encodings). The extraction pipeline's
    text-vs-scan triage must route these through kernels/
    pdf.pdf_text_pages — never the OCR chain; oracle text is the
    fixture's closed-form charset arithmetic."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source", "lang"
    ).repartition(spark.sparkContext.defaultParallelism)

    from paddleocr_spark.operators.media import synth_text_pdf

    def page(d, text, source, lang):
        return [(doc_url(int(d), str(source)), doc_ts(int(d)),
                 synth_text_pdf(int(d))[0], str(text), str(lang))]

    return map_rows(docs, page, PAGES_SCHEMA)


def ic_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the synthetic IC-card transcripts (functions/fields.py) as
    page images — the full fork serving input: a scanned-card corpus.
    Transcript charset is A-Z 0-9 '-' and space, all renderable; spaces
    survive OCR via the recognition gap->space class."""
    from paddleocr_spark.functions.fields import _transcript

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.expr(_transcript(True)).alias("transcript"),
    ).repartition(spark.sparkContext.defaultParallelism)

    return map_rows(docs, transcript_page, PAGES_SCHEMA)


def transcript_page(doc_id, source, transcript):
    """The row function of the IC-card page sources: one pages row whose
    payload is the transcript rendered line by line as a page image."""
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.png import encode_gray_png

    return [(doc_url(int(doc_id), str(source)), doc_ts(int(doc_id)),
             encode_gray_png(render_page(transcript.split("\n"))),
             str(transcript), "ms")]


def pages_from_warc(spark: SparkSession, warc_path: str) -> DataFrame:
    """Read WARC archives (.warc / .warc.gz, the Common-Crawl delivery
    format) into the pages shape: url = WARC-Target-URI, warc_ts =
    WARC-Date, html = the HTTP response body bytes, text = '' (extraction
    fills it), lang = 'und'.

    Scale shape: Spark's binaryFile source gives one task per archive
    (Common-Crawl WARCs are ~1 GiB — a natural split); the record
    explosion is a narrow 1->N map with boundaries from Content-Length
    (sources/warc.py), zero shuffles. The heavy extraction stage then
    applies its own salted repartition on url-hash, so archive-level
    skew (one host's pages concentrated in one WARC) never reaches the
    OCR stage — identical to the multipage-PDF explosion path."""
    files = (
        spark.read.format("binaryFile")
        .load(warc_path)
        .select("content")
    )

    CHUNK = 256  # records per emitted frame: bounds task memory to a
    # chunk of payloads, not a whole ~1 GiB archive's worth

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from paddleocr_spark.sources.warc import (
            warc_date,
            warc_iter_records,
        )

        def flush(urls, tss, payloads):
            return pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": tss,
                    "html": payloads,
                    "text": [""] * len(urls),
                    "lang": ["und"] * len(urls),
                }
            )

        for pdf in batches:
            urls, tss, payloads = [], [], []
            for blob in pdf["content"]:
                # warc_iter_records streams gzip members one at a time,
                # so peak memory is (compressed blob + one member +
                # current chunk), never the decompressed archive
                for rec in warc_iter_records(bytes(blob)):
                    if (
                        rec["type"] != "response"
                        or not rec["url"]
                        or not rec["date"]
                    ):
                        continue
                    urls.append(rec["url"])
                    # warc_date keeps sub-second precision (WARC 1.1
                    # fractional seconds) — capture ordering depends on it
                    tss.append(warc_date(rec["date"]))
                    payloads.append(rec["payload"])
                    if len(urls) >= CHUNK:
                        yield flush(urls, tss, payloads)
                        urls, tss, payloads = [], [], []
            if urls:
                yield flush(urls, tss, payloads)

    return files.mapInPandas(gen, schema=PAGES_SCHEMA)


def wet_archives(results: DataFrame, records_per_archive: int = 1000) -> DataFrame:
    """Extraction results (url, extracted_text [+ warc_ts]) -> WET
    archives: (name, wet binary, n_records), one Common-Crawl-style
    `conversion`-record .warc.gz per ~records_per_archive rows. The
    export half of the WARC story: the pipeline reads crawl archives
    (pages_from_warc) and ships extracted text back out in the same
    range-addressable container (one gzip member per record, indexable
    by cdx_rows).

    Narrow map: each task packs only its own rows — no shuffle; archive
    names embed (partition, chunk) so concurrent tasks never collide.
    Blobs land in a parquet binary column in the sandbox (production
    writes the same bytes straight to object storage)."""
    has_ts = "warc_ts" in results.columns
    cols = ["url", "extracted_text"] + (["warc_ts"] if has_ts else [])
    df = results.select(*cols).withColumn("pid", F.spark_partition_id())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from paddleocr_spark.sources.warc import warc_encode_conversions

        # chunk counter persists across Arrow batches so a partition
        # spanning multiple batches never reuses an archive name
        chunk_no = 0
        for pdf in batches:
            for start in range(0, len(pdf), records_per_archive):
                chunk = pdf.iloc[start : start + records_per_archive]
                recs = []
                for _, row in chunk.iterrows():
                    ts = (
                        row["warc_ts"].isoformat().replace("+00:00", "")
                        + "Z"
                        if has_ts
                        else "2026-01-01T00:00:00Z"
                    )
                    recs.append((row["url"], ts, str(row["extracted_text"])))
                pid = int(chunk["pid"].iloc[0])
                name = f"wet-{pid:05d}-{chunk_no:05d}.warc.gz"
                chunk_no += 1
                yield pd.DataFrame(
                    {
                        "name": [name],
                        "wet": [warc_encode_conversions(recs)],
                        "n_records": [len(recs)],
                    }
                )

    return df.mapInPandas(gen, schema="name string, wet binary, n_records long")


def cdx_rows(archives: DataFrame) -> DataFrame:
    """(name, blob) WARC archives -> CDX index rows (archive, url, date,
    offset, length, digest, type): the compressed byte range of every
    record's gzip member, so any record is a ranged GET + one-member
    gunzip away. Narrow 1->N map, no shuffle; the index itself is tiny
    (O(records) metadata) and is what a 100 TB store scans instead of
    archives."""
    blob_col = "wet" if "wet" in archives.columns else "content"
    name_col = "name" if "name" in archives.columns else "path"

    from paddleocr_spark.sources.warc import cdx_index

    def index(name, blob):
        return [
            (str(name), e["url"], e["date"], e["offset"], e["length"],
             e["digest"], e["type"])
            for e in cdx_index(bytes(blob))
        ]

    return map_rows(
        archives, index,
        "archive string, url string, date string, offset long, "
        "length long, digest string, rec_type string",
        cols=[name_col, blob_col],
    )
