"""HTML -> Markdown conversion (structure-preserving extraction).

The markup-side twin of `functions/recovery.doc_markdown_recovery`
(which renders OCR'd layout regions to markdown per
ppstructure/recovery/recovery_to_markdown.py): when the source is a
WEB page rather than a scan, a curation pipeline converts the DOM
itself — headings, emphasis, links, lists, quotes, fenced code,
tables, rules — into markdown, the de-facto interchange format for
LLM training corpora. Re-uses the SAME real DOM build as main-content
extraction (`operators/html_extract.build_dom`: void tags, entity
decoding, script/style exclusion), so the renderer sees exactly the
tree the boilerplate stripper scores.

Rendering rules (CommonMark-flavored):
- h1..h6 -> '#'*n, p -> paragraph, blockquote -> '> ',
  ul -> '- ' items, ol -> '1.' numbered items, hr -> '---';
- inline: strong/b -> **x**, em/i -> *x*, code -> `x` (verbatim),
  a -> [text](href), img -> ![alt](src), br -> newline;
- pre>code -> fenced block, language from a `language-*` class
  (the `code_blocks` convention);
- table -> pipe rows with a '---' separator after the first row;
- markdown-significant characters in text nodes (backslash, backtick,
  `* _ [ ] #`)
  are backslash-escaped so round-tripping never invents formatting;
- blocks join with one blank line.

Spark shape: a narrow `frames.map_rows` map (1 row in -> 1 row
out), zero shuffles — rides the scan partitioning at any corpus size.
The fixture page is synthesized per row from (doc_id, text) with a
%3-keyed layout (list / numbered+quote / table) so every rendering
branch appears corpus-wide; the expected markdown is closed-form in
doc_id arithmetic, making the DuckDB oracle a pure string build.
"""

from __future__ import annotations

import hashlib
import html as html_mod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.operators.html_extract import _Node, _node_text, build_dom
from paddleocr_spark.sources.scan import scan_parquet

_HEADINGS = {f"h{i}": i for i in range(1, 7)}
_MD_SPECIALS = set("\\`*_[]#")


def _esc(s: str) -> str:
    return "".join("\\" + c if c in _MD_SPECIALS else c for c in s)


def _inline(node: _Node) -> str:
    parts: list[str] = []
    for c in node.children:
        if isinstance(c, str):
            parts.append(_esc(c))
            continue
        t = c.tag
        if t in ("strong", "b"):
            parts.append("**" + _inline(c) + "**")
        elif t in ("em", "i"):
            parts.append("*" + _inline(c) + "*")
        elif t == "code":
            parts.append("`" + _node_text(c) + "`")
        elif t == "a":
            parts.append("[" + _inline(c) + "](" + c.attrs.get("href", "") + ")")
        elif t == "img":
            parts.append(
                "![" + c.attrs.get("alt", "") + "](" + c.attrs.get("src", "") + ")"
            )
        elif t == "br":
            parts.append("\n")
        else:
            parts.append(_inline(c))
    return "".join(parts)


def _code_lang(code_node: _Node) -> str:
    for cls in code_node.attrs.get("class", "").split():
        if cls.startswith("language-"):
            return cls[len("language-"):]
    return ""


def _table_block(tnode: _Node) -> str:
    rows: list[list[str]] = []

    def walk(n: _Node) -> None:
        for c in n.children:
            if not isinstance(c, _Node):
                continue
            if c.tag == "tr":
                cells = [
                    _inline(x).strip()
                    for x in c.children
                    if isinstance(x, _Node) and x.tag in ("td", "th")
                ]
                if cells:
                    rows.append(cells)
            else:
                walk(c)

    walk(tnode)
    if not rows:
        return ""
    lines = ["| " + " | ".join(rows[0]) + " |"]
    lines.append("| " + " | ".join(["---"] * len(rows[0])) + " |")
    for r in rows[1:]:
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines)


def render_markdown(html: str) -> tuple[str, int]:
    """HTML string -> (markdown, n_blocks)."""
    root = build_dom(html)
    blocks: list[str] = []

    def block_walk(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, str):
                if c.strip():
                    blocks.append(_esc(c.strip()))
                continue
            t = c.tag
            if t in _HEADINGS:
                blocks.append("#" * _HEADINGS[t] + " " + _inline(c).strip())
            elif t == "p":
                blocks.append(_inline(c).strip())
            elif t == "blockquote":
                blocks.append("> " + _inline(c).strip())
            elif t == "ul":
                items = [
                    "- " + _inline(li).strip()
                    for li in c.children
                    if isinstance(li, _Node) and li.tag == "li"
                ]
                blocks.append("\n".join(items))
            elif t == "ol":
                items = [
                    f"{i}. " + _inline(li).strip()
                    for i, li in enumerate(
                        (
                            x
                            for x in c.children
                            if isinstance(x, _Node) and x.tag == "li"
                        ),
                        start=1,
                    )
                ]
                blocks.append("\n".join(items))
            elif t == "pre":
                code = next(
                    (
                        x
                        for x in c.children
                        if isinstance(x, _Node) and x.tag == "code"
                    ),
                    None,
                )
                body = _node_text(code if code is not None else c)
                lang = _code_lang(code) if code is not None else ""
                blocks.append(f"```{lang}\n{body}\n```")
            elif t == "hr":
                blocks.append("---")
            elif t == "table":
                tb = _table_block(c)
                if tb:
                    blocks.append(tb)
            else:
                block_walk(c)

    block_walk(root)
    blocks = [b for b in blocks if b]
    return "\n\n".join(blocks), len(blocks)


def markdown_page(text: str, seed: int) -> str:
    """Deterministic HTML page exercising every rendering branch; the
    %3-keyed middle section varies (list / numbered+quote / table) so
    each branch appears corpus-wide. Expected markdown is closed-form
    in (doc_id, text) — see HTML_MARKDOWN_SQL."""
    sid = seed % 1000
    parts = [f"<h1>Doc {sid} guide</h1>"]
    parts.append(
        f"<p>Lead for doc {sid} with <strong>bold term</strong>, "
        f"<em>em text</em>, an inline <code>cfg_{sid}</code>, "
        f'<a href="/ref/{sid}">ref link</a> and raw *stars* plus _under_.</p>'
    )
    if seed % 3 == 0:
        parts.append(f"<ul><li>alpha {sid}</li><li>beta item</li></ul>")
    elif seed % 3 == 1:
        parts.append(f"<ol><li>first step</li><li>step {sid}</li></ol>")
        parts.append(f"<blockquote>quoted note {sid}</blockquote>")
    else:
        parts.append(
            "<table><tr><th>key</th><th>val</th></tr>"
            f"<tr><td>size</td><td>{sid}</td></tr></table>"
        )
    parts.append(
        f'<pre><code class="language-python">x = {sid} &amp; 7</code></pre>'
    )
    parts.append("<p>" + html_mod.escape(text, quote=False) + "</p>")
    parts.append("<hr>")
    return "<html><body>" + "".join(parts) + "</body></html>"


def html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_blocks, markdown_md5) over per-row synthesized pages."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def page(did, text):
        md, n = render_markdown(markdown_page(text, int(did)))
        return [(did, n, hashlib.md5(md.encode()).hexdigest())]

    return map_rows(
        docs, page, "doc_id long, n_blocks long, markdown_md5 string"
    )


# Closed-form expected markdown: the oracle BUILDS the renderer's exact
# output from doc_id arithmetic + the raw text (pure string concat, no
# HTML anywhere on the DuckDB side). chr(10)||chr(10) is the block gap.
HTML_MARKDOWN_SQL = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 1000 AS string) AS sid,
         doc_id % 3 AS v, text
  FROM documents)
SELECT doc_id,
       CAST(CASE v WHEN 1 THEN 7 ELSE 6 END AS bigint) AS n_blocks,
       md5(
         '# Doc ' || sid || ' guide' || chr(10) || chr(10) ||
         'Lead for doc ' || sid || ' with **bold term**, *em text*, '
           || 'an inline `cfg_' || sid || '`, [ref link](/ref/' || sid
           || ') and raw \\*stars\\* plus \\_under\\_.'
           || chr(10) || chr(10) ||
         CASE v
           WHEN 0 THEN '- alpha ' || sid || chr(10) || '- beta item'
           WHEN 1 THEN '1. first step' || chr(10) || '2. step ' || sid
                       || chr(10) || chr(10) || '> quoted note ' || sid
           ELSE '| key | val |' || chr(10) || '| --- | --- |'
                || chr(10) || '| size | ' || sid || ' |'
         END || chr(10) || chr(10) ||
         '```python' || chr(10) || 'x = ' || sid || ' & 7' || chr(10)
           || '```' || chr(10) || chr(10) ||
         trim(text) || chr(10) || chr(10) || '---'
       ) AS markdown_md5
FROM m
ORDER BY doc_id
"""


def html_markdown_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='html_markdown', k=doc_id, v=n_blocks|md5) suite row."""
    return html_markdown(spark, sf_dir).select(
        F.lit("html_markdown").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_blocks", "markdown_md5").alias("v"),
    )
