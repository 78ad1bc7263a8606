"""Recovery / aggregation analogues (SURVEY.md §2.4, §2.5, §2.8):

- paragraph_merge: the markdown-recovery line fold
  (ppstructure/recovery/recovery_to_markdown.py:23-126) — each line is
  compared to the previous line's geometry; small y-gaps continue the
  paragraph, large gaps break it. Relational form: Window lag -> gap ->
  running paragraph id (sum of break flags) -> grouped ordered
  aggregation. Two shuffles on doc_id, no Python.
- markdown_escape: the escape chain of recovery_to_markdown.py:141-145
  (escape ``* ` ~ $``, collapse 3+ newlines) as regexp_replace exprs.
- rotation_vote: the fork's weighted multi-detector angle vote
  (rotation_detector.py:291-340; weights 0.25/0.35/0.15/0.25) —
  explode votes -> weighted sum per angle -> top-1 with the reference's
  tie-break preferring smaller angles.
- extraction_accuracy: the rec_metric analogue (ppocr/metrics/
  rec_metric.py:23-78): exact-match rate + mean Levenshtein between the
  REAL pipeline output and the reference text per url — the metric the
  north_rule's text-match rate = 1.0 is defined by.
- base64_roundtrip: the serving path's base64 image input
  (tools/infer/utility.py:845-852 base64_to_cv2) mapped to the
  built-in base64/unbase64 pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

# -- paragraph merge ---------------------------------------------------------

LINE_H = 30
PARA_GAP = 40  # y-gap above this breaks the paragraph


def _lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: n = doc_id%5+3 lines; every 3rd line starts a new visual
    block (extra 30px of y-gap); text = 8-char slice of the normalized
    document text."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
        ).alias("norm"),
    )
    n = (F.col("doc_id") % 5 + 3).cast("int")
    df = docs.select(
        "doc_id", "norm", F.explode(F.sequence(F.lit(0), n - 1)).alias("i")
    )
    i = F.col("i")
    return df.select(
        "doc_id",
        i.cast("long").alias("line_idx"),
        (i * LINE_H + F.floor(i / 3) * 30).cast("long").alias("y"),
        F.substring("norm", (i * 8 + 1).cast("int"), 8).alias("line_text"),
    )


_LINES_SQL = """
lines AS (
  SELECT doc_id,
         CAST(i AS bigint) AS line_idx,
         CAST(i * 30 + (i // 3) * 30 AS bigint) AS y,
         substring(upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120)),
                   CAST(i * 8 + 1 AS int), 8) AS line_text
  FROM documents, UNNEST(generate_series(0, doc_id % 5 + 2)) AS t(i)
)
"""


def paragraph_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _lines(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("line_idx")
    gap = F.col("y") - F.lag("y", 1).over(w)
    brk = F.when(gap > PARA_GAP, 1).otherwise(0)
    with_para = lines.withColumn(
        "para_id", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paras = (
        with_para.groupBy("doc_id", "para_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_idx", "line_text"))),
                    lambda s: s["line_text"],
                ),
            ).alias("para_text")
        )
    )
    return (
        paras.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_id", "para_text"))),
                    lambda s: s["para_text"],
                ),
            ).alias("markdown")
        )
    )


PARAGRAPH_MERGE_SQL = (
    "WITH " + _LINES_SQL + """,
gaps AS (
  SELECT doc_id, line_idx, line_text,
         CASE WHEN y - lag(y) OVER (PARTITION BY doc_id ORDER BY line_idx) > 40
              THEN 1 ELSE 0 END AS brk
  FROM lines
),
with_para AS (
  SELECT doc_id, line_idx, line_text,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY line_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS para_id
  FROM gaps
),
paras AS (
  SELECT doc_id, para_id,
         string_agg(line_text, ' ' ORDER BY line_idx) AS para_text
  FROM with_para GROUP BY doc_id, para_id
)
SELECT doc_id, string_agg(para_text, chr(10) || chr(10) ORDER BY para_id) AS markdown
FROM paras GROUP BY doc_id
"""
)


# -- markdown escapes --------------------------------------------------------


def markdown_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Escape * ` ~ $ and collapse 3+ newlines — applied to a synthetic
    string that actually contains all of them."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    raw = F.concat(
        F.lit("*bold* `code` ~"),
        F.upper("source"),
        F.lit("~ $5\n\n\n\nnext"),
    )
    escaped = raw
    for ch in ("*", "`", "~", "$"):
        # Java replaceAll: '$' in the replacement is a group ref and must
        # itself be backslash-escaped; the other chars are literal.
        repl = "\\\\" + ("\\$" if ch == "$" else ch)
        escaped = F.regexp_replace(escaped, "\\" + ch, repl)
    escaped = F.regexp_replace(escaped, "\n{3,}", "\n\n")
    return docs.select("doc_id", escaped.alias("escaped"))


MARKDOWN_ESCAPE_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 concat('*bold* `code` ~', upper(source), '~ $5', chr(10), chr(10), chr(10), chr(10), 'next'),
                 '\*', '\\*', 'g'),
               '`', '\\`', 'g'),
             '~', '\\~', 'g'),
           '\$', '\\$', 'g'),
         '\n{3,}', chr(10) || chr(10), 'g') AS escaped
FROM documents
"""


# -- composed per-doc markdown recovery --------------------------------------


_MD_TYPES = ["text", "title", "table", "figure", "header"]


def _merge_text_region(lines: list[tuple[str, int, int]], width: int) -> str:
    """The reference's merge_text walk
    (ppstructure/recovery/recovery_to_markdown.py:100-125): a line is
    "full" when its row width reaches region_width - row_height; a full
    line's successor is appended with NO separator, a short line's
    successor starts a new paragraph ("\\n\\n" prefix — including the
    very first line, a faithful quirk: every text block LEADS with a
    blank line and relies on the final \\n{3,} collapse)."""
    text = ""
    first_line = True
    for line_text, row_width, row_height in lines:
        if first_line:
            text += "\n\n"
        text += line_text
        first_line = not (row_width >= width - row_height)
    return text


def _replace_special_char(content: str) -> str:
    """recovery_to_markdown.py:139-143 — escape markdown specials."""
    for char in ("*", "`", "~", "$"):
        content = content.replace(char, "\\" + char)
    return content


def doc_markdown_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED per-doc markdown recovery — the convert_info_markdown
    region walk (ppstructure/recovery/recovery_to_markdown.py:129-187)
    end-to-end, not the pieces in isolation: per region type emit

    - text:   merge_text walk (full-row geometry decides paragraph
              breaks) then markdown-special escaping,
    - title:  '# ' + first line + space-joined rest,
    - table:  the assemble_table_html cell-index walk (matcher.py),
    - figure: the '<div align="center">…<img …{bbox}_{idx}.jpg…' block
              (bbox rendered exactly as Python str(list)),
    - header: skipped entirely (the reference's pass branch),

    then join surviving blocks with '\\n\\n' in two-column reading order
    (sorted_layout_boxes semantics: column bucket, then y, then x) and
    collapse \\n{3,} -> \\n\\n.

    Scale shape: one narrow Arrow-batched walk per region, then ONE
    shuffle (groupBy doc_id with an array_sort ordered fold — reading
    order is per-doc, so no global sort). Regions are synthesized
    deterministically from doc_id so the DuckDB twin computes the same
    document from closed-form CASE arithmetic.
    """
    from paddleocr_spark.functions.structure import assemble_table_html

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
        ).alias("norm"),
    )
    k = (F.col("doc_id") % 5 + 3).cast("int")
    regions = docs.select(
        "doc_id", "norm", F.explode(F.sequence(F.lit(0), k - 1)).alias("i")
    )

    width, height = 480, 80

    def region(doc_id, norm, i):
        x0 = 10 if i % 2 == 0 else 510
        y0 = (i // 2) * 100 + doc_id % 37
        rtype = _MD_TYPES[i % 5]
        if rtype == "text":
            l1 = norm[i * 6 : i * 6 + 6]
            l2 = norm[i * 6 + 6 : i * 6 + 12] + "*x$"
            # line geometry drives the merge: row 1 is full-width
            # on even (doc_id+i) parity, short otherwise
            w1 = 470 if (doc_id + i) % 2 == 0 else 300
            merged = _merge_text_region(
                [(l1, w1, 20), (l2, 300, 20)], width
            )
            block = _replace_special_char(merged)
        elif rtype == "title":
            parts = [norm[i * 6 : i * 6 + 5], norm[i * 6 + 5 : i * 6 + 10]]
            block = "# " + parts[0] + "".join(
                " " + p for p in parts[1:]
            )
        elif rtype == "table":
            tokens = [
                "<table>", "<tr>", "<td></td>", "<td></td>", "</tr>",
                "</table>",
            ]
            texts = [norm[i * 6 : i * 6 + 4], norm[i * 6 + 4 : i * 6 + 8]]
            block = assemble_table_html(tokens, texts)
        elif rtype == "figure":
            bbox = [x0, y0, x0 + width, y0 + height]
            img_name = f"doc{doc_id}"
            img_file_name = "{}_{}.jpg".format(bbox, 0)
            block = (
                '<div align="center">\n\t<img src="'
                + img_name + "/" + img_file_name
                + '">\n</div>'
            )
        else:  # header/footer: the reference's pass branch
            block = None
        return [(doc_id, 0 if x0 < 250 else 1, y0, x0, block)]

    blocks = map_rows(
        regions, region,
        "doc_id long, colg long, y0 long, x0 long, block string",
    ).where(F.col("block").isNotNull())
    md = blocks.groupBy("doc_id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("colg", "y0", "x0", "block"))
                ),
                lambda s: s["block"],
            ),
        ).alias("markdown")
    )
    return md.select(
        "doc_id",
        F.regexp_replace("markdown", "\n{3,}", "\n\n").alias("markdown"),
    )


def _md_recovery_sql() -> str:
    norm = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
    nl2 = "chr(10) || chr(10)"
    text_block = (
        f"{nl2} || substring(norm, i*6 + 1, 6) || "
        f"(CASE WHEN (doc_id + i) % 2 = 0 THEN '' ELSE {nl2} END) || "
        "substring(norm, i*6 + 7, 6) || '\\*x\\$'"
    )
    title_block = (
        "'# ' || substring(norm, i*6 + 1, 5) || ' ' || substring(norm, i*6 + 6, 5)"
    )
    table_block = (
        "'<table><tr><td>' || substring(norm, i*6 + 1, 4) || '</td><td>' || "
        "substring(norm, i*6 + 5, 4) || '</td></tr></table>'"
    )
    figure_block = (
        "'<div align=\"center\">' || chr(10) || chr(9) || "
        "'<img src=\"doc' || doc_id || '/[' || x0 || ', ' || y0 || ', ' || "
        "(x0 + 480) || ', ' || (y0 + 80) || ']_0.jpg\">' || chr(10) || '</div>'"
    )
    return f"""
WITH regions AS (
  SELECT doc_id, CAST(i AS bigint) AS i, {norm} AS norm,
         CAST(CASE WHEN i % 2 = 0 THEN 10 ELSE 510 END AS bigint) AS x0,
         CAST(i // 2 AS bigint) * 100 + doc_id % 37 AS y0,
         ['text','title','table','figure','header'][(i % 5) + 1] AS rtype
  FROM documents, UNNEST(generate_series(0, doc_id % 5 + 2)) AS t(i)
),
blocks AS (
  SELECT doc_id,
         CASE WHEN x0 < 250 THEN 0 ELSE 1 END AS colg, y0, x0,
         CASE rtype
           WHEN 'text' THEN {text_block}
           WHEN 'title' THEN {title_block}
           WHEN 'table' THEN {table_block}
           WHEN 'figure' THEN {figure_block}
           ELSE NULL
         END AS block
  FROM regions
)
SELECT doc_id,
       regexp_replace(
         string_agg(block, {nl2} ORDER BY colg, y0, x0),
         '\\n{{3,}}', {nl2}, 'g') AS markdown
FROM blocks WHERE block IS NOT NULL
GROUP BY doc_id
"""


DOC_MARKDOWN_RECOVERY_SQL = _md_recovery_sql()


# -- Arabic RTL segment reverse ----------------------------------------------

AR1 = "سلام"  # سلام
AR2 = "نور"  # نور


def rtl_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arabic RTL repair of decoded transcripts (BaseRecLabelDecode
    .pred_reverse, ppocr/postprocess/rec_postprocess.py:53-67) as an
    oracle-checked query: transcripts are synthesized per doc in four
    mixed-direction layouts (pure LTR / LTR-AR-LTR / leading AR / two AR
    runs) and repaired by the real kernel
    (kernels/ctc.reverse_rtl_segments) in one Arrow-batched narrow map —
    zero shuffles. The DuckDB twin inlines the reversed Arabic literals
    (the run reversal is a compile-time constant of the layout), so the
    comparison pins the kernel's segment semantics, not an engine's
    reverse() behavior."""
    from paddleocr_spark.kernels.ctc import reverse_rtl_segments

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
        ).alias("norm"),
    )
    p1 = F.substring("norm", 1, 6)
    p2 = F.substring("norm", 7, 6)
    layout = F.col("doc_id") % 4
    transcript = (
        F.when(layout == 0, F.concat(p1, p2))
        .when(layout == 1, F.concat(p1, F.lit(AR1), p2))
        .when(layout == 2, F.concat(F.lit(AR1), p1))
        .otherwise(F.concat(p1, F.lit(AR1), p2, F.lit(AR2)))
    )
    src = docs.select("doc_id", transcript.alias("transcript"))

    return map_rows(
        src, lambda d, t: [(d, t, reverse_rtl_segments(t))],
        "doc_id long, transcript string, rtl_fixed string",
    )


def _rtl_reverse_sql() -> str:
    norm = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
    r1, r2 = AR1[::-1], AR2[::-1]
    return f"""
WITH t AS (
  SELECT doc_id,
         substring({norm}, 1, 6) AS p1,
         substring({norm}, 7, 6) AS p2
  FROM documents
)
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN p1 || p2
         WHEN 1 THEN p1 || '{AR1}' || p2
         WHEN 2 THEN '{AR1}' || p1
         ELSE p1 || '{AR1}' || p2 || '{AR2}'
       END AS transcript,
       CASE doc_id % 4
         WHEN 0 THEN p1 || p2
         WHEN 1 THEN p2 || '{r1}' || p1
         WHEN 2 THEN p1 || '{r1}'
         ELSE '{r2}' || p2 || '{r1}' || p1
       END AS rtl_fixed
FROM t
"""


RTL_REVERSE_SQL = _rtl_reverse_sql()


# -- rotation vote -----------------------------------------------------------

DETECTOR_WEIGHTS = [0.25, 0.35, 0.15, 0.25]  # rotation_detector.py:291-340


def _votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 synthetic detectors per doc: detector d proposes angle
    90*((doc_id + d*d) % 4) with confidence ((doc_id*(d+2)) % 10)/10."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    df = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("d")
    )
    d = F.col("d")
    weight = F.element_at(
        F.array(*[F.lit(w) for w in DETECTOR_WEIGHTS]), (d + 1).cast("int")
    )
    return df.select(
        "doc_id",
        d.cast("long").alias("detector"),
        (90 * ((F.col("doc_id") + d * d) % 4)).cast("long").alias("angle"),
        F.round((F.col("doc_id") * (d + 2)) % 10 / 10.0, 2).alias("conf"),
        weight.alias("weight"),
    )


def rotation_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    votes = _votes(spark, sf_dir)
    scored = votes.groupBy("doc_id", "angle").agg(
        F.round(F.sum(F.col("weight") * F.col("conf")), 6).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("angle").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "angle", "score")
    )


ROTATION_VOTE_SQL = """
WITH votes AS (
  SELECT doc_id,
         CAST(90 * ((doc_id + d * d) % 4) AS bigint) AS angle,
         round((doc_id * (d + 2)) % 10 / 10.0, 2) AS conf,
         [0.25, 0.35, 0.15, 0.25][CAST(d AS int) + 1] AS weight
  FROM documents, UNNEST(generate_series(0, 3)) AS t(d)
),
scored AS (
  SELECT doc_id, angle, round(SUM(weight * conf), 6) AS score
  FROM votes GROUP BY doc_id, angle
),
ranked AS (
  SELECT doc_id, angle, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, angle ASC) AS rk
  FROM scored
)
SELECT doc_id, angle, score FROM ranked WHERE rk = 1
"""


# -- extraction accuracy metric ----------------------------------------------


def extraction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rec_metric analogue over the REAL pipeline: exact-match count and
    total Levenshtein distance between extracted text and reference per
    url. The oracle asserts the perfection the north_rule demands
    (exact = all, distance = 0) — any kernel regression flips it."""
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    ncpu = spark.sparkContext.defaultParallelism
    res = extract_pages(pages, num_partitions=ncpu).select(
        "url", F.regexp_replace("extracted_text", "\n", "").alias("got")
    )
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        F.expr(
            "concat('https://', source, '.example.test/doc/', cast(doc_id as string))"
        ).alias("url"),
        F.upper(
            F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
        ).alias("want"),
    )
    return res.join(docs, "url").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("got") == F.col("want")).cast("long")).alias("exact_matches"),
        F.sum(F.levenshtein("got", "want")).cast("long").alias("total_edit_distance"),
    )


EXTRACTION_ACCURACY_SQL = """
SELECT count(*) AS n_docs,
       count(*) AS exact_matches,
       CAST(0 AS bigint) AS total_edit_distance
FROM documents
"""


# -- base64 source roundtrip -------------------------------------------------


def base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-style base64 payload input: encode -> unbase64 -> decode
    must be lossless; base64 length follows 4*ceil(n/3)."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # Spark's base64() emits MIME line wraps every 76 chars; strip them so
    # the length follows the canonical 4*ceil(n/3)
    b64 = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "[\r\n]", ""
    )
    return docs.select(
        "doc_id",
        F.length(b64).cast("long").alias("b64_len"),
        (F.unbase64(b64).cast("string") == F.col("text"))
        .cast("long")
        .alias("lossless"),
    )


BASE64_ROUNDTRIP_SQL = """
-- strlen = BYTE length in DuckDB: base64 length is defined over the
-- UTF-8 encoding (Spark side casts text to binary), so the oracle must
-- count bytes, not characters, to stay valid on non-ASCII corpora.
SELECT doc_id,
       CAST(4 * ceil(strlen(text) / 3.0) AS bigint) AS b64_len,
       CAST(1 AS bigint) AS lossless
FROM documents
"""
