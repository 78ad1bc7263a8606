"""Sitemap discovery (sitemaps.org protocol): encode + parse + per-host
seed extraction.

The crawl-seeding sibling of robots_allow: a crawler fetches
/sitemap.xml per host, follows <sitemapindex> one level down, and seeds
the frontier with every <loc> (+ lastmod for re-fetch prioritization).
Parsing rides the SAME lightweight DOM build as the HTML layer
(operators/html_extract.py) — sitemaps are XML, but the tag soup
html.parser produces is exactly right for loc/lastmod extraction and
keeps the repo at one markup parser.

Scale shape: sitemaps are PER-HOST artifacts — the host census is
broadcast-sized next to the page corpus, so the whole operator is one
DISTINCT(source) exchange plus a narrow 1-host -> N-seed flatMap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet
from paddleocr_spark.operators.html_extract import (
    _Node,
    _node_text,
    build_dom,
)


def sitemap_encode(entries: list[tuple[str, str]]) -> str:
    """<urlset> document from [(loc, lastmod)] ('' lastmod omits the
    tag). Values are XML-escaped — the protocol REQUIRES entity-escaped
    & in loc, and query-string urls carry & routinely; the parser
    decodes entities, so escape-then-parse round-trips raw urls."""
    from xml.sax.saxutils import escape

    body = "".join(
        f"<url><loc>{escape(loc)}</loc>"
        + (f"<lastmod>{escape(lm)}</lastmod>" if lm else "")
        + "</url>"
        for loc, lm in entries
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + body
        + "</urlset>"
    )


def sitemap_index_encode(locs: list[str]) -> str:
    """<sitemapindex> document pointing at child sitemaps (XML-escaped)."""
    from xml.sax.saxutils import escape

    body = "".join(
        f"<sitemap><loc>{escape(u)}</loc></sitemap>" for u in locs
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + body
        + "</sitemapindex>"
    )


def parse_sitemap(xml: str) -> tuple[str, list[tuple[str, str]]]:
    """('urlset'|'index'|'unknown', [(loc, lastmod)]). Index entries
    carry '' lastmod unless declared. Entities decode through the
    parser (sitemaps must XML-escape &)."""
    root = build_dom(xml)
    kind = "unknown"
    out: list[tuple[str, str]] = []

    def walk(node: _Node) -> None:
        nonlocal kind
        for ch in node.children:
            if not isinstance(ch, _Node):
                continue
            if ch.tag == "urlset":
                kind = "urlset"
            elif ch.tag == "sitemapindex":
                kind = "index"
            elif ch.tag in ("url", "sitemap"):
                loc = lastmod = ""
                for f in ch.children:
                    if isinstance(f, _Node) and f.tag == "loc":
                        loc = _node_text(f).strip()
                    elif isinstance(f, _Node) and f.tag == "lastmod":
                        lastmod = _node_text(f).strip()
                if loc:
                    out.append((loc, lastmod))
            walk(ch)

    walk(root)
    return kind, out


def synth_host_sitemaps(source: str) -> dict[str, str]:
    """Deterministic per-host sitemap tree: /sitemap.xml is an INDEX of
    two children, child k an urlset of 1 + (c + k) % 3 urls where c =
    ord(source[-1]) — the same arithmetic the SQL oracle runs via
    ascii()/substr(). Returned as {path: xml} (the fixture 'fetch')."""
    host = source.lower() + ".example.test"
    c = ord(source[-1])
    tree = {}
    children = []
    for k in range(2):
        n = 1 + (c + k) % 3
        entries = [
            (
                f"https://{host}/page/{k}-{i}",
                f"2026-01-{1 + (c + k + i) % 28:02d}",
            )
            for i in range(n)
        ]
        path = f"/sitemap-{k}.xml"
        tree[path] = sitemap_encode(entries)
        children.append(f"https://{host}{path}")
    tree["/sitemap.xml"] = sitemap_index_encode(children)
    return tree


def sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, child, idx, loc, lastmod): every seed url discovered by
    walking each host's /sitemap.xml index one level down — encode +
    parse round-trip per host (the parser is held to its own encoder
    the way the codec suite holds GIF/JPEG to theirs)."""
    import pandas as pd

    hosts = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for source in pdf["source"]:
                s = str(source)
                host = s.lower() + ".example.test"
                tree = synth_host_sitemaps(s)
                kind, children = parse_sitemap(tree["/sitemap.xml"])
                if kind != "index":
                    raise ValueError("root sitemap must be an index")
                for k, (child_loc, _lm) in enumerate(children):
                    path = child_loc.split(host, 1)[1]
                    ckind, entries = parse_sitemap(tree[path])
                    if ckind != "urlset":
                        raise ValueError("child sitemap must be a urlset")
                    for i, (loc, lastmod) in enumerate(entries):
                        rows.append((host, k, i, loc, lastmod))
            yield pd.DataFrame(
                rows, columns=["host", "child", "idx", "loc", "lastmod"]
            )

    return hosts.mapInPandas(
        run,
        schema="host string, child int, idx int, loc string, lastmod string",
    )


def sitemap_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='sitemap', k=host|child|idx, v=loc|lastmod) suite row."""
    return sitemap_seeds(spark, sf_dir).select(
        F.lit("sitemap").alias("op"),
        F.concat_ws("|", "host", "child", "idx").alias("k"),
        F.concat_ws("|", "loc", "lastmod").alias("v"),
    )


# Closed-form twin over the DISTINCT host census: same ord-of-last-char
# arithmetic via ascii(substr(source, length(source))).
SITEMAP_SQL = """
SELECT lower(source) || '.example.test' AS host,
       CAST(k AS int) AS child, CAST(i AS int) AS idx,
       'https://' || lower(source) || '.example.test/page/' || k || '-' || i
         AS loc,
       '2026-01-' || lpad(CAST(1 + (c + k + i) % 28 AS string), 2, '0')
         AS lastmod
FROM (
  SELECT source, ascii(substr(source, length(source), 1)) AS c,
         UNNEST(generate_series(0, 1)) AS k
  FROM (SELECT DISTINCT source FROM documents)),
  UNNEST(generate_series(0, 2)) t(i)
WHERE i < 1 + (c + k) % 3
ORDER BY host, child, idx
"""
