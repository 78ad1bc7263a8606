"""WAT metadata archives: the third Common-Crawl artifact beside
WARC (sources/warc.py reads it) and WET (sources/pages.py
wet_archives writes it). A WAT record is a WARC `metadata` record
whose payload is JSON describing the referenced capture — target URI,
head metadata, outlinks — the layer crawl analytics (link graphs,
title indexes) consume WITHOUT touching page bytes.

Built Spark-first over the SAME shared DOM walk as every other
link/metadata operator (operators/html_extract.py extract_links /
extract_metadata — drift against doc_links/html_meta is impossible by
construction), as:

- `build_wat_json`: canonical, byte-deterministic JSON (fixed key
  order, compact separators, escape-free fields asserted) in the CC
  WAT envelope shape.
- `wat_rows`: the gate branch — per page, the JSON is built from the
  real parse, round-tripped through an actual one-member .wat.gz WARC
  metadata record (encode -> gunzip/parse -> byte compare, asserted
  in-runner), and surfaced as (n_links, md5(json)) so the DuckDB twin
  re-derives the EXACT json string closed-form and md5s it.
- `wat_archives`: the production sink — (name, wat binary, n_records)
  .wat.gz archives, one gzip member per record (range-addressable by
  sources/warc.cdx_index), narrow map, names embed (partition, chunk)
  so concurrent tasks never collide (the wet_archives discipline).
"""

from __future__ import annotations

import gzip
import hashlib
import json
from typing import Iterator

import pandas as pd

_SAFE = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " .,:;/@_-?=&%+~#!'()*$"
)


def _safe(s: str) -> str:
    """Fields enter the JSON verbatim (no escaping) so the SQL twin can
    rebuild the string with plain concatenation; anything that would
    need a JSON escape is a hard error, not silent corruption."""
    if not set(s) <= _SAFE:
        raise ValueError(f"WAT field needs JSON escaping: {s!r}")
    return s


def build_wat_json(url: str, title: str, links: list[str]) -> str:
    """Canonical WAT envelope (fixed key order, ',':' separators)."""
    parts = ",".join(
        '{"path":"A@/href","url":"' + _safe(h) + '"}' for h in links
    )
    out = (
        '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'
        + _safe(url)
        + '"},"Payload-Metadata":{"HTML-Metadata":{"Head":{"Title":"'
        + _safe(title)
        + '"},"Links":['
        + parts
        + "]}}}}"
    )
    json.loads(out)  # must be valid JSON, always
    return out


def wat_record(url: str, ts: str, payload_json: str, seq: int) -> bytes:
    """One WARC metadata record (gzip member) carrying WAT JSON."""
    from paddleocr_spark.sources.warc import _warc_record

    rec = _warc_record(
        [
            (b"WARC-Type", b"metadata"),
            (b"WARC-Record-ID", b"<urn:uuid:metadata-%d>" % seq),
            (b"WARC-Refers-To", b"<urn:uuid:response-%d>" % seq),
            (b"WARC-Date", ts.encode()),
            (b"WARC-Target-URI", url.encode()),
            (b"Content-Type", b"application/json"),
        ],
        payload_json.encode("utf-8"),
    )
    return gzip.compress(rec, compresslevel=1, mtime=0)


def _page_wat(url: str, html: str) -> tuple[int, str]:
    """(n_links, canonical json) for one page via the shared parsers."""
    from paddleocr_spark.operators.html_extract import (
        extract_links,
        extract_metadata,
    )

    links = [h for h, _a in extract_links(html)]
    title, _d, _c, _o = extract_metadata(html)
    return len(links), build_wat_json(url, title, links)


def wat_rows(spark, sf_dir: str, pages=None):
    """(op='wat', k=doc_id, v=n_links|md5(json)) — json round-tripped
    through a real one-record .wat.gz member per page in-runner."""
    from paddleocr_spark.frames import map_rows
    from paddleocr_spark.sources.pages import html_pages_from_documents
    from paddleocr_spark.sources.warc import warc_iter_records

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def wat(url, blob):
        doc_id = url.rsplit("/", 1)[1]
        n, js = _page_wat(url, bytes(blob).decode("utf-8"))
        member = wat_record(url, "2026-01-01T00:00:00Z", js, int(doc_id))
        (rec,) = list(warc_iter_records(member))
        if (
            rec["type"] != "metadata"
            or rec["url"] != url
            or rec["payload"].decode("utf-8") != js
        ):
            raise ValueError(f"WAT round-trip mismatch: {url}")
        return [("wat", doc_id, f"{n}|{hashlib.md5(js.encode()).hexdigest()}")]

    return map_rows(
        pages, wat, "op string, k string, v string", cols=["url", "html"]
    )


def wat_archives(pages, records_per_archive: int = 1000):
    """pages (url, warc_ts, html) -> (name, wat binary, n_records)
    .wat.gz archives of metadata records — the production sink. Narrow
    map (each task packs only its own rows, zero shuffles)."""
    from pyspark.sql import functions as F

    df = pages.select("url", "warc_ts", "html").withColumn(
        "pid", F.spark_partition_id()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # chunk counter lives across Arrow batches: a partition larger
        # than arrow.maxRecordsPerBatch spans several pdfs, and a
        # per-batch index would restart at 0 and collide on the name
        chunk_no = 0
        rec_no = 0
        for pdf in batches:
            for start in range(0, len(pdf), records_per_archive):
                chunk = pdf.iloc[start : start + records_per_archive]
                members = []
                for i, (_, row) in enumerate(chunk.iterrows()):
                    url = row["url"]
                    ts = (
                        row["warc_ts"].isoformat().replace("+00:00", "")
                        + "Z"
                    )
                    _n, js = _page_wat(
                        url, bytes(row["html"]).decode("utf-8")
                    )
                    members.append(wat_record(url, ts, js, rec_no + i))
                pid = int(chunk["pid"].iloc[0])
                name = f"wat-{pid:05d}-{chunk_no:05d}.warc.gz"
                chunk_no += 1
                rec_no += len(members)
                yield pd.DataFrame(
                    {
                        "name": [name],
                        "wat": [b"".join(members)],
                        "n_records": [len(members)],
                    }
                )

    return df.mapInPandas(gen, schema="name string, wat binary, n_records long")


# DuckDB twin: the json string is rebuilt closed-form (same link CASE
# as DOC_LINKS_SQL's document-order inner list, same head title as
# HTML_META_SQL) and md5'd — any drift in parser, canonicalization, or
# link order fails the hash.
WAT_SQL = """
SELECT 'wat' AS op, CAST(doc_id AS string) AS k,
       CAST(len(hrefs) AS varchar) || '|' || md5(
         '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'
         || 'https://' || source || '.example.test/doc/' || doc_id
         || '"},"Payload-Metadata":{"HTML-Metadata":{"Head":{"Title":"'
         || 'doc ' || (doc_id % 1000)
         || '"},"Links":['
         || array_to_string(list_transform(hrefs,
              h -> '{"path":"A@/href","url":"' || h || '"}'), ',')
         || ']}}}}'
       ) AS v
FROM (
  SELECT doc_id, source,
         CASE doc_id % 4
           WHEN 0 THEN list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/r1', '/r2', '/about'])
           WHEN 3 THEN list_concat(
             list_transform(generate_series(0, 5),
                            i -> '/t' || ((doc_id + i) % 30)),
             ['/about'])
           ELSE list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/about'])
         END AS hrefs
  FROM documents)
ORDER BY k
"""
