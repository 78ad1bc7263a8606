"""RSS 2.0 / Atom feed discovery: encode + parse + per-host entry
extraction.

The re-crawl sibling of sitemap discovery: a crawler fetches each
host's syndication feed and seeds fresh-content fetches from its
entries (feeds surface NEW urls hours before sitemaps regenerate).
Parsing rides the SAME lightweight DOM build as the HTML layer
(operators/html_extract.py) — the tag-soup parser is exactly right for
item/entry field extraction and keeps the repo at one markup parser.

Format split is data-driven: hosts with an even last-char ordinal
publish RSS 2.0 (`<item>` children, link as TEXT), odd publish Atom
(`<entry>` children, link as an `href` ATTRIBUTE, tag-URI ids) — so
both parse branches and both link conventions are exercised
corpus-wide, the way synthesize_html's four layouts exercise every
scoring branch.

Scale shape: feeds are PER-HOST artifacts — the host census is
broadcast-sized next to the page corpus, so the whole operator is one
DISTINCT(source) exchange plus a narrow 1-host -> N-entry flatMap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet
from paddleocr_spark.operators.html_extract import (
    _Node,
    _node_text,
    build_dom,
)


def rss_encode(host: str, entries: list[tuple[str, str, str, str]]) -> str:
    """RSS 2.0 document from [(guid, title, link, date)] — titles are
    XML-escaped (feeds carry & routinely); the parser decodes entities,
    so escape-then-parse round-trips raw titles."""
    from xml.sax.saxutils import escape

    body = "".join(
        f"<item><guid>{escape(g)}</guid><title>{escape(t)}</title>"
        f"<link>{escape(u)}</link><pubDate>{escape(d)}</pubDate></item>"
        for g, t, u, d in entries
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rss version="2.0"><channel>'
        f"<title>{escape(host)}</title><link>https://{host}/</link>"
        + body
        + "</channel></rss>"
    )


def atom_encode(host: str, entries: list[tuple[str, str, str, str]]) -> str:
    """Atom document from [(id, title, href, updated)] — link rides as
    an href ATTRIBUTE per RFC 4287, unlike RSS's text node."""
    from xml.sax.saxutils import escape, quoteattr

    body = "".join(
        f"<entry><id>{escape(g)}</id><title>{escape(t)}</title>"
        f"<link href={quoteattr(u)}/><updated>{escape(d)}</updated></entry>"
        for g, t, u, d in entries
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        f"<title>{escape(host)}</title>"
        + body
        + "</feed>"
    )


def parse_feed(xml: str) -> tuple[str, list[tuple[str, str, str, str]]]:
    """('rss'|'atom'|'unknown', [(id, title, link, date)]). RSS links
    are text nodes, Atom links are href attributes; entities decode
    through the parser.

    The tag-soup quirk, pinned on purpose: `link` is a VOID element to
    an HTML parser, so RSS's `<link>url</link>` parses as an empty link
    node followed by a text SIBLING — the same famous breakage
    BeautifulSoup+html.parser exhibits on RSS. The extractor reads that
    following text sibling, which round-trips this repo's encoder and
    real-world well-formed feeds alike."""
    root = build_dom(xml)
    kind = "unknown"
    out: list[tuple[str, str, str, str]] = []

    def walk(node: _Node) -> None:
        nonlocal kind
        for ch in node.children:
            if not isinstance(ch, _Node):
                continue
            if ch.tag == "rss":
                kind = "rss"
            elif ch.tag == "feed":
                kind = "atom"
            elif ch.tag in ("item", "entry"):
                eid = title = link = date = ""
                kids = ch.children
                for j, f in enumerate(kids):
                    if not isinstance(f, _Node):
                        continue
                    if f.tag in ("guid", "id"):
                        eid = _node_text(f).strip()
                    elif f.tag == "title":
                        title = _node_text(f).strip()
                    elif f.tag == "link":
                        href = f.attrs.get("href", "")
                        if not href and j + 1 < len(kids) and isinstance(
                            kids[j + 1], str
                        ):
                            href = kids[j + 1]
                        link = href.strip()
                    elif f.tag in ("pubdate", "updated"):
                        date = _node_text(f).strip()
                if eid:
                    out.append((eid, title, link, date))
                continue  # item fields are leaves; no deeper walk needed
            walk(ch)

    walk(root)
    return kind, out


def synth_host_feed(source: str) -> tuple[str, str]:
    """(kind, xml): deterministic per-host feed with 1 + c % 4 entries
    where c = ord(source[-1]) — the same arithmetic the SQL oracle runs
    via ascii()/substr(). Even c publishes RSS, odd publishes Atom."""
    host = source.lower() + ".example.test"
    c = ord(source[-1])
    n = 1 + c % 4
    kind = "rss" if c % 2 == 0 else "atom"
    entries = []
    for i in range(n):
        title = f"News & updates {i}"
        link = f"https://{host}/post/{i}"
        if kind == "rss":
            eid = link
            date = f"{1 + (c + i) % 28:02d} Jan 2026 00:00:00 GMT"
        else:
            eid = f"tag:{host},2026:post-{i}"
            date = f"2026-01-{1 + (c + i) % 28:02d}T00:00:00Z"
        entries.append((eid, title, link, date))
    xml = (
        rss_encode(host, entries)
        if kind == "rss"
        else atom_encode(host, entries)
    )
    return kind, xml


def feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, kind, idx, entry_id, title, link, date): every entry
    discovered by fetching each host's feed — encode + parse round-trip
    per host (the parser is held to its own encoders the way the
    sitemap walk is)."""
    hosts = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
    )

    def entries(source):
        s = str(source)
        host = s.lower() + ".example.test"
        want_kind, xml = synth_host_feed(s)
        kind, entries = parse_feed(xml)
        if kind != want_kind:
            raise ValueError(f"feed kind mismatch: {kind}")
        return [
            (host, kind, i, eid, title, link, date)
            for i, (eid, title, link, date) in enumerate(entries)
        ]

    return map_rows(
        hosts, entries,
        "host string, kind string, idx int, entry_id string, "
        "title string, link string, date string",
    )


def feed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='feed', k=host|idx, v=kind|entry_id|title|link|date)."""
    return feed_entries(spark, sf_dir).select(
        F.lit("feed").alias("op"),
        F.concat_ws("|", "host", "idx").alias("k"),
        F.concat_ws("|", "kind", "entry_id", "title", "link", "date")
        .alias("v"),
    )


# Closed-form twin over the DISTINCT host census: same ord-of-last-char
# arithmetic via ascii(substr(source, length(source))); entity
# round-trip means the raw '&' title reaches the verdict on both sides.
FEED_SQL = """
SELECT lower(source) || '.example.test' AS host,
       CASE WHEN c % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       CAST(i AS int) AS idx,
       CASE WHEN c % 2 = 0
            THEN 'https://' || lower(source) || '.example.test/post/' || i
            ELSE 'tag:' || lower(source) || '.example.test,2026:post-' || i
       END AS entry_id,
       'News & updates ' || i AS title,
       'https://' || lower(source) || '.example.test/post/' || i AS link,
       CASE WHEN c % 2 = 0
            THEN lpad(CAST(1 + (c + i) % 28 AS string), 2, '0')
                 || ' Jan 2026 00:00:00 GMT'
            ELSE '2026-01-' || lpad(CAST(1 + (c + i) % 28 AS string), 2, '0')
                 || 'T00:00:00Z'
       END AS date
FROM (
  SELECT source, ascii(substr(source, length(source), 1)) AS c
  FROM (SELECT DISTINCT source FROM documents)),
  UNNEST(generate_series(0, 3)) t(i)
WHERE i < 1 + c % 4
ORDER BY host, idx
"""
