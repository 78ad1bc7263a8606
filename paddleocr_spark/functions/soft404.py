"""Soft-404 detection — the crawl-hygiene filter for pages that return
HTTP 200 but ARE error pages (ghost listings, "page not found" shells,
parked templates). Left in, they poison dedup (thousands of identical
"not found" bodies per host) and training data (boilerplate error
prose); production crawlers classify them from CONTENT because the
status code lies by definition.

Detector (the standard published recipe, e.g. Bar-Yossef et al. 2004
"Sic transit gloria telae" detect-by-content family):
- TITLE signal: the page title matches an error phrase
  (404 / not found / error) case-insensitively,
- BODY signal: the extracted main text is SHORT (< SOFT404_MIN_CHARS)
  and carries an error phrase.
A page is soft-404 when either fires. Both signals come from the REAL
DOM walk (operators/html_extract.py extract_metadata +
extract_main_text — the same parsers every other HTML operator uses),
run over this module's OWN deterministic page family (doc_id % 4 == 1
synthesizes one of three error-shell layouts; others get genuine
content pages) so the shared corpus fixture and its byte-identity
oracles stay untouched.

Narrow Arrow map, zero shuffles; oracle replays the synth arithmetic
closed-form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

SOFT404_MIN_CHARS = 120

_ERROR_SHELLS = [
    # (title, body) — three common shell layouts
    ("404 Not Found", "The page you requested does not exist."),
    ("Error - page not found", "Sorry, we could not find that page."),
    ("Oops! 404", "Nothing to see here. Try the homepage."),
]


def synth_soft404_page(doc_id: int) -> str:
    """doc_id % 4 == 1 -> an error shell (variant doc_id % 3); else a
    genuine article with enough body text to clear the length gate."""
    d = doc_id
    if d % 4 == 1:
        title, body = _ERROR_SHELLS[d % 3]
        return (
            f"<html><head><title>{title}</title></head>"
            f"<body><div id=\"content\"><p>{body}</p></div>"
            "</body></html>"
        )
    words = " ".join(f"word{(d + i) % 97}" for i in range(40))
    return (
        f"<html><head><title>Article {d % 1000}</title></head>"
        f"<body><nav><a href=\"/home\">home</a></nav>"
        f"<article><p>{words}</p></article>"
        "<footer>footer boilerplate</footer></body></html>"
    )


def is_soft404(html: str) -> tuple[int, int, int]:
    """(verdict, title_flag, body_len) via the shared real parsers."""
    import re

    from paddleocr_spark.operators.html_extract import (
        extract_main_text,
        extract_metadata,
    )

    title, _d, _c, _o = extract_metadata(html)
    # phrases fire anywhere; a bare '404' only at title START —
    # otherwise 'Article 404' (a legitimate numbered page; doc_id 404
    # in this very corpus) false-positives. Found the honest way: the
    # naive any-position rule misclassified exactly doc 404 and the
    # in-runner planted-family assert refused to ship it.
    phrase = re.compile(r"(not found|error)", re.I)
    lead404 = re.compile(r"^\s*(oops!?\s*)?404\b", re.I)
    t = title or ""
    title_flag = 1 if (phrase.search(t) or lead404.search(t)) else 0
    body = extract_main_text(html)
    body_flag = (
        1
        if len(body) < SOFT404_MIN_CHARS
        and (phrase.search(body) or lead404.search(body))
        else 0
    )
    return (1 if title_flag or body_flag else 0, title_flag, len(body))


def soft404_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='soft404', k=doc_id, v=verdict|title_flag|body_len)."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )

    def verdict(d):
        verdict, tflag, blen = is_soft404(synth_soft404_page(d))
        # the detector must recover the planted family exactly
        if verdict != (1 if d % 4 == 1 else 0):
            raise ValueError(f"soft404 misclassified doc {d}")
        return [("soft404", str(d), f"{verdict}|{tflag}|{blen}")]

    return map_rows(docs, verdict, "op string, k string, v string")


# Closed-form twin: error shells have title_flag=1 and body_len =
# len(shell body); articles have 40 words 'wordNN ' -> the exact
# length arithmetic below (word{k}: 4 + len(str(k)) chars + 39 spaces).
_SHELL_LENS = [len(b) for _t, b in _ERROR_SHELLS]

SOFT404_SQL = f"""
SELECT 'soft404' AS op, CAST(doc_id AS string) AS k,
       CASE WHEN doc_id % 4 = 1 THEN
         '1|1|' || CAST(CASE doc_id % 3
                          WHEN 0 THEN {_SHELL_LENS[0]}
                          WHEN 1 THEN {_SHELL_LENS[1]}
                          ELSE {_SHELL_LENS[2]} END AS varchar)
       ELSE
         '0|0|' || CAST(
           39 + list_sum(list_transform(generate_series(0, 39),
             i -> 4 + length(CAST((doc_id + i) % 97 AS varchar))))
           AS varchar)
       END AS v
FROM documents
ORDER BY k
"""
