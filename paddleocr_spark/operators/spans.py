"""Span-level main-content extraction: paragraph spans with DOM paths
and character offsets.

The north-star contract is "extracted text/SPANS per document": a
training pipeline wants not just the flattened main text but where
each piece came from — the DOM path of every paragraph and its
character interval inside the extracted text — so downstream stages
can cite provenance, drop individual paragraphs (per-paragraph dedup,
PII spans), or re-render structure. This is the HTML-side analogue of
the OCR path's word/line boxes (`functions/wordboxes.py`: spans in
image space; here: spans in DOM + text space).

Semantics: the main-content WINNER is chosen by exactly the same rule
as `extract_main_text` (shared `html_extract.best_node`, so the span
set can never drift from the extracted text). Spans are the winner's
<p> descendants in document order — each with
  - dom_path: '>'-joined tag names from <html> down to the <p>
    (structure only, like the template skeleton);
  - char_start / char_end: the span's interval in the concatenated
    extracted text (cumulative over span texts);
  - span_md5: md5 of the span text.
A winner with no <p> descendant yields one span covering the winner
itself (degenerate pages). Documents where nothing scores (empty/
whitespace text) yield no spans.

Spark shape: one narrow `frames.map_rows` map (page -> N span rows,
zero shuffles) riding the shared checkpointed pages frame.

Oracle: the fixture layouts pin the winner and its paragraph structure
(layouts 0/1/3: one <p> holding the whole text; layout 2: the text
split at len//2 across two <p>), so dom_path is a CASE constant per
layout and the intervals/md5s are substr arithmetic on documents.text
— fully closed-form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def extract_spans(html: str) -> list[tuple[str, int, int, str]]:
    """[(dom_path, char_start, char_end, span_text)] for the page's
    main-content winner (module docstring)."""
    from paddleocr_spark.operators.html_extract import (
        _Node,
        _node_text,
        best_node,
    )

    best = best_node(html)
    if best is None:
        return []

    def path_of(node: _Node) -> str:
        parts: list[str] = []
        n: _Node | None = node
        while n is not None and n.tag != "#root":
            parts.append(n.tag)
            n = n.parent
        return ">".join(reversed(parts))

    paras: list[_Node] = []

    def walk(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, _Node):
                if c.tag == "p":
                    paras.append(c)
                else:
                    walk(c)

    walk(best)
    targets = paras if paras else [best]
    out: list[tuple[str, int, int, str]] = []
    pos = 0
    for node in targets:
        txt = _node_text(node)
        out.append((path_of(node), pos, pos + len(txt), txt))
        pos += len(txt)
    return out


def html_spans(spark: SparkSession, sf_dir: str, pages=None) -> DataFrame:
    """(doc_id, span_idx, dom_path, char_start, char_end, span_md5)
    per main-content paragraph span."""
    import hashlib

    from paddleocr_spark.frames import map_rows
    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def spans(url, blob):
        doc_id = int(url.rsplit("/", 1)[1])
        return [
            (doc_id, i, path, a, b,
             hashlib.md5(txt.encode("utf-8")).hexdigest())
            for i, (path, a, b, txt) in enumerate(
                extract_spans(bytes(blob).decode("utf-8"))
            )
        ]

    return map_rows(
        pages, spans,
        "doc_id long, span_idx long, dom_path string, "
        "char_start long, char_end long, span_md5 string",
        cols=["url", "html"],
    )


def html_spans_rows(spark: SparkSession, sf_dir: str, pages=None) -> DataFrame:
    """(op='html_spans', k=doc_id:span_idx, v=path|start|end|md5)."""
    return html_spans(spark, sf_dir, pages=pages).select(
        F.lit("html_spans").alias("op"),
        F.concat_ws(
            ":", F.col("doc_id").cast("string"),
            F.col("span_idx").cast("string"),
        ).alias("k"),
        F.concat_ws(
            "|", "dom_path", "char_start", "char_end", "span_md5"
        ).alias("v"),
    )


# Winner paragraph structure per layout (html_extract.synthesize_html):
# 0: article in div.wrapper, one <p>; 1: div.content in div.page, one
# <p>; 2: <main> with the text split at len//2 over two <p>;
# 3: section.post-body, one <p>. Whitespace-only documents score 0 and
# yield no spans.
HTML_SPANS_SQL = """
WITH d AS (
  SELECT doc_id, text, CAST(doc_id % 4 AS int) AS layout,
         CAST(length(text) AS bigint) AS n,
         CAST(length(text) // 2 AS bigint) AS k
  FROM documents
  WHERE length(trim(text)) > 0),
s AS (
  SELECT doc_id, CAST(0 AS bigint) AS span_idx,
         CASE layout
           WHEN 0 THEN 'html>body>div>article>p'
           WHEN 1 THEN 'html>body>div>div>p'
           WHEN 2 THEN 'html>body>main>p'
           ELSE 'html>body>section>p' END AS dom_path,
         CAST(0 AS bigint) AS char_start,
         CASE WHEN layout = 2 THEN k ELSE n END AS char_end,
         CASE WHEN layout = 2 THEN md5(substr(text, 1, k))
              ELSE md5(text) END AS span_md5
  FROM d
  UNION ALL
  SELECT doc_id, 1, 'html>body>main>p', k, n,
         md5(substr(text, k + 1))
  FROM d WHERE layout = 2)
SELECT doc_id, span_idx, dom_path, char_start, char_end, span_md5
FROM s
ORDER BY doc_id, span_idx
"""
