"""jusText boilerplate removal (Pomikalek 2011) — paragraph-level
main-content classification.

The north_star mandates "HTML boilerplate stripping via text-density
heuristics"; `html_extract.py` carries the Readability-style CONTAINER
scorer (pick one winning subtree). jusText is the published complement
a corpus pipeline runs alongside it: classify every PARAGRAPH of the
page good/bad by stopword density, length and link density, then
revise short/near-good paragraphs from their neighbours so isolated
captions sink and headings above content float. Canonical public
algorithm (used by trafilatura as a fallback and by corpus tooling at
Common-Crawl scale); no reference counterpart (SURVEY.md §7.4 class).

Semantics (faithful to the published algorithm, defaults from the
paper: LENGTH_LOW=70, LENGTH_HIGH=200, STOPWORDS_LOW=0.30,
STOPWORDS_HIGH=0.32, MAX_LINK_DENSITY=0.2, MAX_HEADING_DISTANCE=200):

1. Segmentation: DFS over the SAME DOM build as main-content
   extraction (`html_extract.build_dom`: script/style skipped, void
   tags, entity decoding). A paragraph closes at every BLOCK-tag
   boundary (open or close); <head> is skipped entirely. Paragraph
   text is whitespace-collapsed; the paragraph records its dom_path
   (at first text), chars inside <a> (collapsed), and whether any
   enclosing tag was h1-h6.
2. Context-free classification (exact decision list, thresholds
   compared in EXACT INTEGER arithmetic — 0.30/0.32/0.2 are not
   float-representable, so both engines compare stop*50 >= n*16 etc.):
     link_density > 0.2                      -> bad
     copyright sign / '&copy'                -> bad
     len < 70: any link chars ? bad : short
     stop_density >= 0.32: len > 200 ? good : neargood
     stop_density >= 0.30                    -> neargood
     else                                    -> bad
3. Context-sensitive revision (the four passes of the published
   implementation, in order, with its exact neighbour rules):
     a. short HEADINGS with a good paragraph within 200 chars below
        become neargood;
     b. each short paragraph takes good/bad from its nearest
        good/bad neighbours (both-good -> good, both-bad -> bad,
        mixed -> good only if the bad side is screened by a
        neargood, else bad) — neighbours computed on the post-(a)
        classes, updates applied after the pass;
     c. each neargood paragraph becomes bad only if both nearest
        good/bad neighbours are bad, else good — IN PLACE, so an
        earlier neargood flipped to good feeds the next one;
     d. headings now bad (but not context-free bad) are rescued to
        good if a good paragraph sits within 200 chars below.

Stoplist: the corpus vocabulary is a near-uniform 30-word set
(TESTDATA.md), so a 10-word stoplist puts the expected stopword
density exactly between the 0.30/0.32 thresholds — all four
context-free classes occur corpus-wide on the CONTENT paragraph
alone (measured at sf0.01: good 209 / neargood 140 / bad 135 /
short 16). A production run swaps the language stoplist in
(broadcast-size, like the langid profile table).

Spark shape: one narrow Arrow mapInPandas over the shared
checkpointed pages frame (page -> N paragraph rows, zero shuffles) —
the per-row work is a bounded DOM walk, the sanctioned Python
exception (NFC discipline: no Spark builtin parses HTML).

Oracle: the fixture layouts (`html_extract.synthesize_html`) pin the
boilerplate paragraph sequence per layout — every boilerplate
paragraph's text is closed-form in doc_id, and the content
paragraph's class is computable from documents.text in SQL — so the
oracle rebuilds the (cf, final, len, md5) tuple per paragraph with
CASE arithmetic branching only on the layout and the content class.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LENGTH_LOW = 70
LENGTH_HIGH = 200
MAX_HEADING_DISTANCE = 200

# density thresholds as exact rationals (numerator, denominator):
# stop/n >= 0.30  <=>  stop*10 >= n*3 ; stop/n >= 0.32 <=> stop*25 >= n*8
# link/len > 0.2  <=>  link*5 > len
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_BLOCKS = {
    "body", "blockquote", "caption", "center", "col", "colgroup", "dd",
    "div", "dl", "dt", "fieldset", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "legend", "li", "optgroup", "option", "p", "pre", "table",
    "td", "textarea", "tfoot", "th", "thead", "tr", "ul", "ol",
    "section", "article", "main", "aside", "header", "footer", "nav",
    "figure", "figcaption", "title",
}

JUSTEXT_STOPLIST = frozenset(
    ("the", "a", "data", "row", "key", "join", "table", "scan", "sort",
     "merge")
)


def segment_paragraphs(html: str) -> list[dict]:
    """[{path, text, link_chars, heading}] in document order (module
    docstring step 1)."""
    from paddleocr_spark.operators.html_extract import build_dom

    root = build_dom(html)
    out: list[dict] = []
    buf: list[str] = []
    state = {"link": 0, "heading": False, "path": "", "started": False}

    def flush() -> None:
        text = " ".join("".join(buf).split())
        if text:
            out.append(
                {
                    "path": state["path"],
                    "text": text,
                    "link_chars": min(state["link"], len(text)),
                    "heading": state["heading"],
                }
            )
        buf.clear()
        state["link"] = 0
        state["heading"] = False
        state["path"] = ""
        state["started"] = False

    def walk(node, path: str, in_link: bool, in_heading: bool) -> None:
        for c in node.children:
            if isinstance(c, str):
                norm = " ".join(c.split())
                buf.append(c)
                if norm:
                    if not state["started"]:
                        state["path"] = path
                        state["started"] = True
                    if in_link:
                        state["link"] += len(norm)
                    if in_heading:
                        state["heading"] = True
                continue
            if c.tag == "head":
                continue
            child_path = path + (">" if path else "") + c.tag
            heading = in_heading or c.tag in _HEADINGS
            if c.tag in _BLOCKS:
                flush()
                walk(c, child_path, in_link, heading)
                flush()
            else:
                walk(c, child_path, in_link or c.tag == "a", heading)

    walk(root, "", False, False)
    flush()
    return out


def classify_cf(text: str, link_chars: int) -> str:
    """Context-free class (module docstring step 2; exact-integer
    threshold compares)."""
    length = len(text)
    words = text.split()
    n = len(words)
    stop = sum(1 for w in words if w in JUSTEXT_STOPLIST)
    if link_chars * 5 > length:
        return "bad"
    if "\xa9" in text or "&copy" in text:
        return "bad"
    if length < LENGTH_LOW:
        return "bad" if link_chars > 0 else "short"
    if stop * 25 >= n * 8:
        return "good" if length > LENGTH_HIGH else "neargood"
    if stop * 10 >= n * 3:
        return "neargood"
    return "bad"


def revise(paras: list[dict]) -> list[str]:
    """Final classes after the four context-sensitive passes (module
    docstring step 3). Each para dict needs cf/heading/text."""
    cls = [p["cf"] for p in paras]
    n = len(paras)

    def _promote_headings(want: str, to: str, require_cf_not_bad: bool):
        for i in range(n):
            if not (paras[i]["heading"] and cls[i] == want):
                continue
            if require_cf_not_bad and paras[i]["cf"] == "bad":
                continue
            dist = 0
            for j in range(i + 1, n):
                if dist > MAX_HEADING_DISTANCE:
                    break
                if cls[j] == "good":
                    cls[i] = to
                    break
                dist += len(paras[j]["text"])

    def _prev(i: int, ignore_ng: bool) -> str:
        for k in range(i - 1, -1, -1):
            if cls[k] in ("good", "bad") or (
                not ignore_ng and cls[k] == "neargood"
            ):
                return cls[k]
        return "bad"

    def _next(i: int, ignore_ng: bool) -> str:
        for k in range(i + 1, n):
            if cls[k] in ("good", "bad") or (
                not ignore_ng and cls[k] == "neargood"
            ):
                return cls[k]
        return "bad"

    _promote_headings("short", "neargood", require_cf_not_bad=False)

    new: dict[int, str] = {}
    for i in range(n):
        if cls[i] != "short":
            continue
        p, q = _prev(i, True), _next(i, True)
        if {p, q} == {"good"}:
            new[i] = "good"
        elif {p, q} == {"bad"}:
            new[i] = "bad"
        elif (p == "bad" and _prev(i, False) == "neargood") or (
            q == "bad" and _next(i, False) == "neargood"
        ):
            new[i] = "good"
        else:
            new[i] = "bad"
    for i, c in new.items():
        cls[i] = c

    for i in range(n):
        if cls[i] != "neargood":
            continue
        p, q = _prev(i, True), _next(i, True)
        cls[i] = "bad" if (p, q) == ("bad", "bad") else "good"

    _promote_headings("bad", "good", require_cf_not_bad=True)
    return cls


def _analyze(html: str) -> tuple[list[dict], list[str]]:
    """(paragraphs with cf, final classes) — the one classification
    pass justext_classify / justext_extract_text / the suite builder
    all share."""
    paras = segment_paragraphs(html)
    for p in paras:
        p["cf"] = classify_cf(p["text"], p["link_chars"])
    return paras, revise(paras)


def justext_classify(html: str) -> list[tuple[str, str, str, int, str]]:
    """[(path, cf, final, length, md5)] per paragraph."""
    paras, final = _analyze(html)
    return [
        (
            p["path"],
            p["cf"],
            final[i],
            len(p["text"]),
            hashlib.md5(p["text"].encode("utf-8")).hexdigest(),
        )
        for i, p in enumerate(paras)
    ]


def justext_extract_text(html: str) -> str:
    """The jusText EXTRACTION: final-good paragraph texts joined by
    newline ('' when nothing classifies good)."""
    paras, final = _analyze(html)
    return "\n".join(
        p["text"] for p, f in zip(paras, final) if f == "good"
    )


def justext_suite_rows(
    spark: SparkSession, sf_dir: str, pages=None
) -> DataFrame:
    """ONE Arrow pass emitting BOTH suite ops:

    - op='justext' (k=doc_id:para_idx, v=cf|final|len|md5|path) — the
      per-paragraph classification board;
    - op='extract_eval' (k=doc_id, v=n_gold|n_ext|I|p|r|f1|md5) — the
      CleanEval-style extraction-quality evaluation (Baroni et al.
      2008): whitespace-token multiset precision / recall / F1 of the
      jusText extraction against the gold text, plus one corpus-mean
      row (k='corpus') — the tuning-signal gate row for the
      boilerplate stripper (lsh_eval / ann_recall pattern: a
      regression is a red row, not a silent drift).

    Exact-integer metrics: I = sum_w min(count_ext(w), count_gold(w)),
    p = floor(1e6*I/n_ext), r = floor(1e6*I/n_gold), and F1 via the
    Dice identity 2PR/(P+R) = 2I/(n_ext+n_gold) so no float harmonic
    mean ever reaches the compare; the corpus row is the floor-mean of
    per-doc F1s (bigint division on both engines).

    Fused on purpose: classification, extraction and evaluation share
    one DOM walk per page (gold text rides the pages frame), so the
    whole family costs ONE scan of the HTML corpus — at 10^12 pages a
    second pass is the difference that matters. The corpus row is one
    tiny agg over the localCheckpoint'd combined frame (never re-runs
    the extraction)."""
    import pandas as pd
    from collections import Counter

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ops, ks, vs, f1col = [], [], [], []
            for url, blob, gold in zip(pdf["url"], pdf["html"], pdf["text"]):
                doc_id = int(url.rsplit("/", 1)[1])
                paras, final = _analyze(bytes(blob).decode("utf-8"))
                for i, p in enumerate(paras):
                    ops.append("justext")
                    ks.append(f"{doc_id}:{i}")
                    vs.append(
                        f"{p['cf']}|{final[i]}|{len(p['text'])}|"
                        + hashlib.md5(p["text"].encode()).hexdigest()
                        + f"|{p['path']}"
                    )
                    f1col.append(-1)
                ext = "\n".join(
                    p["text"] for p, f in zip(paras, final) if f == "good"
                )
                gold_toks = str(gold).split()
                ext_toks = ext.split()
                cg, ce = Counter(gold_toks), Counter(ext_toks)
                inter = sum(min(c, cg[w]) for w, c in ce.items())
                ng, ne = len(gold_toks), len(ext_toks)
                f1 = 2000000 * inter // max(ng + ne, 1)
                ops.append("extract_eval")
                ks.append(str(doc_id))
                vs.append(
                    "|".join(
                        map(
                            str,
                            (
                                ng, ne, inter,
                                1000000 * inter // max(ne, 1),
                                1000000 * inter // max(ng, 1),
                                f1,
                            ),
                        )
                    )
                    + "|"
                    + (
                        hashlib.md5(ext.encode("utf-8")).hexdigest()
                        if ext
                        else "-"
                    )
                )
                f1col.append(f1)
            yield pd.DataFrame(
                {
                    "op": ops,
                    "k": ks,
                    "v": vs,
                    "f1_micro": pd.Series(f1col, dtype="int64"),
                }
            )

    combined = pages.mapInPandas(
        run, schema="op string, k string, v string, f1_micro long"
    ).localCheckpoint()

    mean_row = combined.filter(F.col("op") == "extract_eval").agg(
        F.expr("sum(f1_micro) div count(*)").alias("mean_f1"),
        F.count(F.lit(1)).alias("n_docs"),
    ).select(
        F.lit("extract_eval").alias("op"),
        F.lit("corpus").alias("k"),
        F.concat_ws("|", "n_docs", "mean_f1").alias("v"),
    )
    return combined.select("op", "k", "v").unionByName(mean_row)


# Oracle (module docstring): the fixture pins the paragraph sequence
# per layout — boilerplate texts are closed-form in doc_id, their
# classes are constants, and the only data-dependent classes are the
# content paragraph's (layouts 0/1/3) or the two split halves'
# (layout 2). The revision matrix was DERIVED from the four passes on
# the fixed skeletons (verified exhaustively at sf0.01):
#   layouts 0/1/3: content final = good iff cf = good; all
#     boilerplate final = bad EXCEPT layout 0's two headings (h1 idx 0,
#     h3 idx 6), which are rescued to good exactly when the content is
#     good (pass a promotes them to neargood, pass c sinks them — both
#     good/bad neighbours are bad — and pass d rescues them: heading,
#     now bad, context-free short, good content within 200 chars).
#   layout 2 halves (h1,h2) — halves differ by <= 1 char so their
#     length classes agree; pass b's neargood-screen and pass c's
#     in-place order reduce to:
#       f1 = good iff cf1 = good, or cf1 = neargood and cf2 = good;
#       f2 = good iff cf2 = good, or cf2 = neargood and cf1 = good;
#     (neargood,neargood) sinks: pass c resolves h1 first against
#     good/bad neighbours only (both bad), and h2 then sees the
#     already-sunk h1.
# Shared CTE prefix: per-doc layout, content-paragraph stats and
# context-free + final classes (content / layout-2 halves), plus the
# closed-form fixture strings. Used by JUSTEXT_SQL and
# EXTRACT_EVAL_SQL so the classification algebra lives in ONE place.
_CF_PREFIX = """
WITH d AS (
  SELECT doc_id, text,
         CAST(doc_id % 4 AS int) AS layout,
         CAST(doc_id % 1000 AS varchar) AS sid,
         CAST(length(text) AS bigint) AS L
  FROM documents),
st AS (
  SELECT *,
         len(string_split(text, ' ')) AS n,
         len(list_filter(string_split(text, ' '), w -> list_contains(
             ['the','a','data','row','key','join','table','scan',
              'sort','merge'], w))) AS s,
         trim(substr(text, 1, CAST(L // 2 AS int))) AS ha,
         trim(substr(text, CAST(L // 2 AS int) + 1)) AS hb
  FROM d),
cf AS (
  SELECT *,
         CASE WHEN L < 70 THEN 'short'
              WHEN s * 25 >= n * 8 THEN
                   CASE WHEN L > 200 THEN 'good' ELSE 'neargood' END
              WHEN s * 10 >= n * 3 THEN 'neargood'
              ELSE 'bad' END AS cfc,
         CASE WHEN length(ha) < 70 THEN 'short'
              WHEN len(list_filter(string_split(ha, ' '), w ->
                     list_contains(['the','a','data','row','key','join',
                       'table','scan','sort','merge'], w))) * 25
                   >= len(string_split(ha, ' ')) * 8 THEN
                   CASE WHEN length(ha) > 200 THEN 'good'
                        ELSE 'neargood' END
              WHEN len(list_filter(string_split(ha, ' '), w ->
                     list_contains(['the','a','data','row','key','join',
                       'table','scan','sort','merge'], w))) * 10
                   >= len(string_split(ha, ' ')) * 3 THEN 'neargood'
              ELSE 'bad' END AS cf1,
         CASE WHEN length(hb) < 70 THEN 'short'
              WHEN len(list_filter(string_split(hb, ' '), w ->
                     list_contains(['the','a','data','row','key','join',
                       'table','scan','sort','merge'], w))) * 25
                   >= len(string_split(hb, ' ')) * 8 THEN
                   CASE WHEN length(hb) > 200 THEN 'good'
                        ELSE 'neargood' END
              WHEN len(list_filter(string_split(hb, ' '), w ->
                     list_contains(['the','a','data','row','key','join',
                       'table','scan','sort','merge'], w))) * 10
                   >= len(string_split(hb, ' ')) * 3 THEN 'neargood'
              ELSE 'bad' END AS cf2
  FROM st),
fin AS (
  SELECT *,
         CASE WHEN cfc = 'good' THEN 'good' ELSE 'bad' END AS fc,
         CASE WHEN cf1 = 'good'
                OR (cf1 = 'neargood' AND cf2 = 'good') THEN 'good'
              ELSE 'bad' END AS f1,
         CASE WHEN cf2 = 'good'
                OR (cf2 = 'neargood' AND cf1 = 'good') THEN 'good'
              ELSE 'bad' END AS f2,
         'def f' || sid || '(x): return x & ' ||
             CAST(doc_id % 97 AS varchar) || ' < ' ||
             CAST(doc_id % 13 AS varchar) AS code_py,
         'if (a < ' || CAST(doc_id % 97 AS varchar) || ' && b > ' ||
             CAST(doc_id % 13 AS varchar) || ') { return ' || sid ||
             '; }' AS code_js,
         'SELECT ' || sid || ' AS v FROM t WHERE a <> ' ||
             CAST(doc_id % 97 AS varchar) || ';' AS code_sq,
         'Figure ' || sid || ': scene ' ||
             CAST(doc_id % 11 AS varchar) AS figcap
  FROM cf)
"""

JUSTEXT_SQL = _CF_PREFIX + """,
paras AS (
  SELECT doc_id,
    CASE WHEN CAST(doc_id % 3 AS int) = 0 THEN code_py
         WHEN CAST(doc_id % 3 AS int) = 1 THEN code_js
         ELSE code_sq END AS code_t,
    CASE layout
      WHEN 0 THEN
        [{'i': 0, 'p': 'html>body>header>h1', 't': 'Example Site',
          'c': 'short', 'f': fc}]
        || list_transform(generate_series(0, 4), j ->
             {'i': CAST(j + 1 AS int), 'p': 'html>body>nav>ul>li>a',
              't': 'Section ' || CAST((doc_id + j) % 20 AS varchar),
              'c': 'bad', 'f': 'bad'})
        || [{'i': 6, 'p': 'html>body>div>aside>h3', 't': 'Related',
             'c': 'short', 'f': fc},
            {'i': 7, 'p': 'html>body>div>aside>a',
             't': 'related onerelated two', 'c': 'bad', 'f': 'bad'},
            {'i': 8, 'p': 'html>body>div>aside>div',
             't': 'BUY NOW limited offer click here',
             'c': 'short', 'f': 'bad'},
            {'i': 9, 'p': 'html>body>div>article>p', 't': text,
             'c': cfc, 'f': fc},
            {'i': 10, 'p': 'html>body>div>p',
             't': 'first comment lorem', 'c': 'short', 'f': 'bad'},
            {'i': 11, 'p': 'html>body>div>p', 't': 'another comment',
             'c': 'short', 'f': 'bad'},
            {'i': 12, 'p': 'html>body>div>table>tr>th', 't': 'k',
             'c': 'short', 'f': 'bad'},
            {'i': 13, 'p': 'html>body>div>table>tr>th', 't': 'v',
             'c': 'short', 'f': 'bad'},
            {'i': 14, 'p': 'html>body>div>table>tr>td', 't': 'id',
             'c': 'short', 'f': 'bad'},
            {'i': 15, 'p': 'html>body>div>table>tr>td', 't': sid,
             'c': 'short', 'f': 'bad'},
            {'i': 16, 'p': 'html>body>div>table>tr>td', 't': 'mod',
             'c': 'short', 'f': 'bad'},
            {'i': 17, 'p': 'html>body>div>table>tr>td',
             't': CAST(doc_id % 7 AS varchar),
             'c': 'short', 'f': 'bad'},
            {'i': 18, 'p': 'html>body>div>figure>figcaption',
             't': figcap, 'c': 'short', 'f': 'bad'},
            {'i': 19, 'p': 'html>body>div>pre>code',
             't': CASE WHEN CAST(doc_id % 3 AS int) = 0 THEN code_py
                       WHEN CAST(doc_id % 3 AS int) = 1 THEN code_js
                       ELSE code_sq END,
             'c': 'short', 'f': 'bad'},
            {'i': 20, 'p': 'html>body>footer>a',
             't': 'aboutcopyright 2026 example',
             'c': 'bad', 'f': 'bad'}]
      WHEN 1 THEN
        list_transform(generate_series(0, 4), j ->
             {'i': CAST(j AS int), 'p': 'html>body>div>div>ul>li>a',
              't': 'Section ' || CAST((doc_id + j) % 20 AS varchar),
              'c': 'bad', 'f': 'bad'})
        || [{'i': 5, 'p': 'html>body>div>div>p', 't': text,
             'c': cfc, 'f': fc},
            {'i': 6, 'p': 'html>body>div>div',
             't': 'subscribe now best deals of the year click ' ||
                  'through for savings',
             'c': 'short', 'f': 'bad'},
            {'i': 7, 'p': 'html>body>div>figure>figcaption',
             't': figcap, 'c': 'short', 'f': 'bad'},
            {'i': 8, 'p': 'html>body>div>time', 't': 'updated',
             'c': 'short', 'f': 'bad'},
            {'i': 9, 'p': 'html>body>div>pre>code',
             't': CASE WHEN CAST(doc_id % 3 AS int) = 0 THEN code_py
                       WHEN CAST(doc_id % 3 AS int) = 1 THEN code_js
                       ELSE code_sq END,
             'c': 'short', 'f': 'bad'},
            {'i': 10, 'p': 'html>body>footer>a',
             't': 'aboutcopyright 2026 example',
             'c': 'bad', 'f': 'bad'}]
      WHEN 2 THEN
        list_transform(generate_series(0, 4), j ->
             {'i': CAST(j AS int), 'p': 'html>body>nav>ul>li>a',
              't': 'Section ' || CAST((doc_id + j) % 20 AS varchar),
              'c': 'bad', 'f': 'bad'})
        || [{'i': 5, 'p': 'html>body>main>p', 't': ha,
             'c': cf1, 'f': f1},
            {'i': 6, 'p': 'html>body>main>p', 't': hb,
             'c': cf2, 'f': f2},
            {'i': 7, 'p': 'html>body>aside',
             't': 'trending stories you may have missed this week',
             'c': 'short', 'f': 'bad'},
            {'i': 8, 'p': 'html>body>div>figure>figcaption',
             't': figcap, 'c': 'short', 'f': 'bad'},
            {'i': 9, 'p': 'html>body>div>pre>code',
             't': CASE WHEN CAST(doc_id % 3 AS int) = 0 THEN code_py
                       WHEN CAST(doc_id % 3 AS int) = 1 THEN code_js
                       ELSE code_sq END,
             'c': 'short', 'f': 'bad'},
            {'i': 10, 'p': 'html>body>footer>a',
             't': 'aboutcopyright 2026 example',
             'c': 'bad', 'f': 'bad'}]
      ELSE
        [{'i': 0, 'p': 'html>body>div>a',
          't': list_aggregate(list_transform(generate_series(0, 5),
                 j -> 'trending topic number ' ||
                      CAST((doc_id + j) % 30 AS varchar) ||
                      ' read more now'), 'string_agg', ''),
          'c': 'bad', 'f': 'bad'},
         {'i': 1, 'p': 'html>body>section>p', 't': text,
          'c': cfc, 'f': fc},
         {'i': 2, 'p': 'html>body>div>p',
          't': 'great post thanks for sharing this really helped ' ||
               'me understand the topic', 'c': 'bad', 'f': 'bad'},
         {'i': 3, 'p': 'html>body>div>p',
          't': 'great post thanks for sharing this really helped ' ||
               'me understand the topic', 'c': 'bad', 'f': 'bad'},
         {'i': 4, 'p': 'html>body>div>p',
          't': 'great post thanks for sharing this really helped ' ||
               'me understand the topic', 'c': 'bad', 'f': 'bad'},
         {'i': 5, 'p': 'html>body>div>figure>figcaption',
          't': figcap, 'c': 'short', 'f': 'bad'},
         {'i': 6, 'p': 'html>body>div>pre>code',
          't': CASE WHEN CAST(doc_id % 3 AS int) = 0 THEN code_py
                    WHEN CAST(doc_id % 3 AS int) = 1 THEN code_js
                    ELSE code_sq END,
          'c': 'short', 'f': 'bad'},
         {'i': 7, 'p': 'html>body>footer>a',
          't': 'aboutcopyright 2026 example',
          'c': 'bad', 'f': 'bad'}]
    END AS plist
  FROM fin)
SELECT 'justext' AS op,
       CAST(doc_id AS varchar) || ':' || CAST(u.i AS varchar) AS k,
       u.c || '|' || u.f || '|' ||
       CAST(length(u.t) AS varchar) || '|' || md5(u.t) || '|' ||
       u.p AS v
FROM paras, UNNEST(plist) AS t(u)
ORDER BY k
"""


# Extraction-evaluation oracle (extraction_eval_rows docstring): the
# extracted text per layout is closed-form in (layout, final classes) —
# layout 0 prepends the two rescued headings, layout 2 concatenates the
# good halves — and the token-multiset intersection is then computed
# RELATIONALLY (per-word min of the two count frames), which handles
# the mid-word split-fragment collisions (a fragment like 'a' from
# 'data' matching a genuine gold token) exactly.
EXTRACT_EVAL_SQL = _CF_PREFIX + """,
ext AS (
  SELECT doc_id, text,
    CASE
      WHEN layout = 0 AND fc = 'good' THEN
        'Example Site' || chr(10) || 'Related' || chr(10) || text
      WHEN layout IN (1, 3) AND fc = 'good' THEN text
      WHEN layout = 2 THEN
        CASE WHEN f1 = 'good' AND f2 = 'good' THEN ha || chr(10) || hb
             WHEN f1 = 'good' THEN ha
             WHEN f2 = 'good' THEN hb
             ELSE '' END
      ELSE '' END AS ext_text
  FROM fin),
tok AS (
  SELECT doc_id, text, ext_text,
    CAST(len(string_split(text, ' ')) AS bigint) AS n_gold,
    CASE WHEN ext_text = '' THEN CAST(0 AS bigint)
         ELSE CAST(len(regexp_split_to_array(ext_text, '\\s+'))
                   AS bigint) END AS n_ext
  FROM ext),
g AS (
  SELECT doc_id, w, count(*) AS cg
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM tok)
  GROUP BY doc_id, w),
e AS (
  SELECT doc_id, w, count(*) AS ce
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(ext_text, '\\s+')) AS w
        FROM tok WHERE ext_text <> '')
  GROUP BY doc_id, w),
i AS (
  SELECT doc_id, CAST(sum(least(cg, ce)) AS bigint) AS ii
  FROM g JOIN e USING (doc_id, w)
  GROUP BY doc_id),
m AS (
  SELECT t.doc_id, n_gold, n_ext, coalesce(ii, 0) AS ii, ext_text
  FROM tok t LEFT JOIN i USING (doc_id))
SELECT 'extract_eval' AS op, CAST(doc_id AS varchar) AS k,
       CAST(n_gold AS varchar) || '|' || CAST(n_ext AS varchar) || '|'
       || CAST(ii AS varchar) || '|'
       || CAST(1000000 * ii // greatest(n_ext, 1) AS varchar) || '|'
       || CAST(1000000 * ii // greatest(n_gold, 1) AS varchar) || '|'
       || CAST(2000000 * ii // greatest(n_gold + n_ext, 1) AS varchar)
       || '|'
       || CASE WHEN ext_text = '' THEN '-' ELSE md5(ext_text) END AS v
FROM m
UNION ALL
SELECT 'extract_eval', 'corpus',
       CAST(count(*) AS varchar) || '|' ||
       CAST(sum(2000000 * ii // greatest(n_gold + n_ext, 1))
            // count(*) AS varchar)
FROM m
"""
