"""Structure/recovery operators: the PP-Structure analogues of
SURVEY.md §2.3/§2.5 re-expressed relationally, each with a DuckDB twin.

- sorted_layout_boxes (ppstructure/recovery/recovery_to_doc.py:87-155):
  assign regions to a single/double-column layout and emit column-wise
  reading order. Relational analogue: column bucket by x-extent +
  row_number window over (column, y, x) — a Window operator, not a
  Python loop, so it scales to 10^12 docs as one shuffle on doc_id.
- table cell walk (ppstructure/table/matcher.py:104-149): sequential
  td_index counter splicing matched OCR text into <td> slots. The walk
  itself is the in-UDF kernel `assemble_table_html`; the oracle builds
  the same HTML independently with unrolled SQL string arithmetic.
- address assembly (fork fastapi_app.py:1027-1070): categorize address
  lines (unit/street/locality/postcode-state), dedup case-insensitively,
  emit in canonical order joined with ', '. Relational analogue:
  explode -> CASE rank -> distinct -> ordered string aggregation.

All inputs are synthesized deterministically from `documents` (doc_id
arithmetic) so both engines compute over identical data.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

PAGE_W = 1000

# ---------------------------------------------------------------------------
# sorted_layout_boxes


def _regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: K = doc_id%4 + 2 regions alternating left/right column,
    stacked down the page with a doc-dependent jitter."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    k = (F.col("doc_id") % 4 + 2).cast("int")
    idx = F.explode(F.sequence(F.lit(0), k - 1)).alias("region_idx")
    df = docs.select("doc_id", idx)
    i = F.col("region_idx")
    return df.select(
        "doc_id",
        i.cast("long").alias("region_idx"),
        (F.when(i % 2 == 0, 10).otherwise(510)).cast("long").alias("x0"),
        ((i / 2).cast("long") * 100 + F.col("doc_id") % 37).alias("y0"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("text", "title", "table", "figure")]),
            (i % 4 + 1).cast("int"),
        ).alias("region_type"),
    )


_REGIONS_SQL = """
regions AS (
  SELECT doc_id,
         CAST(i AS bigint) AS region_idx,
         CAST(CASE WHEN i % 2 = 0 THEN 10 ELSE 510 END AS bigint) AS x0,
         CAST(i // 2 AS bigint) * 100 + doc_id % 37 AS y0,
         ['text','title','table','figure'][(i % 4) + 1] AS region_type
  FROM documents, UNNEST(generate_series(0, doc_id % 4 + 1)) AS t(i)
)
"""


def sorted_layout_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column reading order: left column (x0 < PAGE_W/4) first, then
    right; within a column order by (y0, x0). Emits read_rank per doc."""
    regions = _regions(spark, sf_dir)
    col = F.when(F.col("x0") < PAGE_W / 4, 0).otherwise(1)
    w = Window.partitionBy("doc_id").orderBy(
        col.asc(), F.col("y0").asc(), F.col("x0").asc()
    )
    return regions.select(
        "doc_id",
        "region_idx",
        col.cast("long").alias("column"),
        "y0",
        "region_type",
        F.row_number().over(w).cast("long").alias("read_rank"),
    )


SORTED_LAYOUT_SQL = (
    "WITH " + _REGIONS_SQL + """
SELECT doc_id, region_idx,
       CAST(CASE WHEN x0 < 250 THEN 0 ELSE 1 END AS bigint) AS "column",
       y0, region_type,
       CAST(row_number() OVER (
            PARTITION BY doc_id
            ORDER BY CASE WHEN x0 < 250 THEN 0 ELSE 1 END, y0, x0
       ) AS bigint) AS read_rank
FROM regions
"""
)


# ---------------------------------------------------------------------------
# table HTML assembly (cell-index walk)


def assemble_table_html(tokens: list[str], texts: list[str]) -> str:
    """The reference's sequential cell walk (matcher.py:104-149): walk the
    structure tokens, keep a td counter, splice the matched text for cell
    i into the i-th '<td></td>' slot (html-escaped)."""
    out: list[str] = []
    td_index = 0
    for tok in tokens:
        if tok == "<td></td>":
            content = texts[td_index] if td_index < len(texts) else ""
            out.append("<td>" + _html.escape(content) + "</td>")
            td_index += 1
        else:
            out.append(tok)
    return "".join(out)


N_COLS = 3
CELL_CHARS = 4


def _norm_expr() -> F.Column:
    return F.upper(
        F.substring(F.regexp_replace("text", "[^a-zA-Z0-9]", ""), 1, 120)
    )


def table_html_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: R = doc_id%3+1 rows x 3 cols of structure tokens; cell
    (r,c) text = 4-char slice of the normalized document text. The walk
    runs in an Arrow-batched UDF (the per-table sequential semantics the
    reference requires); everything around it is a plain projection."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", _norm_expr().alias("norm"), (F.col("doc_id") % 3 + 1).alias("rows")
    )

    def table(doc_id, norm, nrows):
        tokens = ["<table>"]
        texts = []
        for r in range(int(nrows)):
            tokens.append("<tr>")
            for c in range(N_COLS):
                tokens.append("<td></td>")
                start = (r * N_COLS + c) * CELL_CHARS
                texts.append(norm[start : start + CELL_CHARS])
            tokens.append("</tr>")
        tokens.append("</table>")
        return [(doc_id, assemble_table_html(tokens, texts))]

    return map_rows(docs, table, "doc_id long, table_html string")


def _table_html_sql() -> str:
    norm = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
    def row_sql(r: int) -> str:
        cells = " || ".join(
            f"'<td>' || substring({norm}, {(r * N_COLS + c) * CELL_CHARS + 1}, {CELL_CHARS}) || '</td>'"
            for c in range(N_COLS)
        )
        return f"'<tr>' || {cells} || '</tr>'"

    whens = []
    for nrows in (1, 2, 3):
        body = " || ".join(row_sql(r) for r in range(nrows))
        whens.append(f"WHEN {nrows} THEN '<table>' || {body} || '</table>'")
    case = "CASE doc_id % 3 + 1 " + " ".join(whens) + " END"
    return f"SELECT doc_id, {case} AS table_html FROM documents"


TABLE_HTML_SQL = _table_html_sql()


# ---------------------------------------------------------------------------
# address assembly


_CATEGORY = [
    # (rank, spark/duck shared regex) — canonical emit order of the fork
    (0, "^(NO|UNIT|LOT) "),      # unit number
    (1, "^(LORONG|JALAN) "),     # street
    (2, "^(TAMAN|KAMPUNG) "),    # area
    (4, "^[0-9]{5} "),           # postcode + city
    (5, "^(SELANGOR|JOHOR|PERAK|KEDAH|MELAKA)$"),  # state
]


def _addr_lines_expr(list_fn: str) -> str:
    """Per-doc address lines in scrambled order with a duplicate street
    line (dedup target). list_fn: 'array' (Spark) / 'list_value' (DuckDB)
    — the only syntax difference between the two engines here."""
    street = "concat('JALAN ', upper(source))"
    unit = "concat('NO ', CAST(doc_id % 90 + 1 AS string))"
    area = "concat('TAMAN ', upper(lang))"
    pc = "concat(lpad(CAST((doc_id * 7) % 90000 + 10000 AS string), 5, '0'), ' SHAH ALAM')"
    state = "'SELANGOR'"
    return f"{list_fn}({street}, {pc}, {unit}, {street}, {area}, {state})"


def address_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_addr_lines_expr("array")).alias("lines")
    )
    lines = docs.select("doc_id", F.explode("lines").alias("line"))
    rank = F.lit(99)
    for r, pat in reversed(_CATEGORY):
        rank = F.when(F.col("line").rlike(pat), r).otherwise(rank)
    ranked = lines.select("doc_id", rank.alias("rank"), "line").distinct()
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.concat_ws(
                ", ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("address")
        )
    )


def _address_sql() -> str:
    cases = " ".join(
        f"WHEN regexp_matches(line, '{pat}') THEN {r}" for r, pat in _CATEGORY
    )
    return f"""
WITH lines AS (
  SELECT doc_id, UNNEST({_addr_lines_expr("list_value")}) AS line FROM documents
),
ranked AS (
  SELECT DISTINCT doc_id, CASE {cases} ELSE 99 END AS rank, line FROM lines
)
SELECT doc_id, string_agg(line, ', ' ORDER BY rank, line) AS address
FROM ranked GROUP BY doc_id
"""


ADDRESS_ASSEMBLY_SQL = _address_sql()


# ---------------------------------------------------------------------------
# table structure from a rendered table IMAGE (structure-net analogue)


def table_structure_from_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image -> structure: render a bordered doc_id%3+1 x doc_id%4+2
    grid, then recover the token stream + per-cell interior bboxes from
    PIXELS ONLY (kernels/table_struct.recover_structure — the
    predict_structure.py net + TableLabelDecode stand-in). Emits one row
    per recovered cell; every value (counts, tokens, cell geometry) is
    computed from the recovery, pinned by the closed-form oracle.
    Scale: narrow per-doc map, no shuffle."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 3 + 1).alias("gr"),
        (F.col("doc_id") % 4 + 2).alias("gc"),
    )

    from paddleocr_spark.kernels.onnx_rt import session_for
    from paddleocr_spark.kernels.table_struct import (
        build_table_onnx,
        recover_structure_onnx,
        render_table_grid,
    )

    model_bytes = build_table_onnx()  # driver-side export, ships in closure

    def cells(doc_id, gr, gc):
        img = render_table_grid(int(gr), int(gc))
        # session_for: per-process cache keyed by the model's digest
        tokens, boxes = recover_structure_onnx(img, session_for(model_bytes))
        n_rows = tokens.count("<tr>")
        n_cols = len(boxes) // n_rows if n_rows else 0
        tok_str = "".join(tokens)
        return [
            (int(doc_id), n_rows, n_cols, tok_str,
             i // n_cols, i % n_cols, x0, y0, x1, y1)
            for i, (x0, y0, x1, y1) in enumerate(boxes)
        ]

    return map_rows(
        docs, cells,
        "doc_id long, n_rows long, n_cols long, tokens string, "
        "r long, c long, x0 long, y0 long, x1 long, y1 long",
    )


TABLE_STRUCTURE_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 3 + 1 AS n_rows, doc_id % 4 + 2 AS n_cols FROM documents
)
SELECT d.doc_id,
       CAST(d.n_rows AS bigint) AS n_rows,
       CAST(d.n_cols AS bigint) AS n_cols,
       concat('<table>', repeat(concat('<tr>', repeat('<td></td>', CAST(d.n_cols AS int)), '</tr>'), CAST(d.n_rows AS int)), '</table>') AS tokens,
       CAST(r.r AS bigint) AS r, CAST(c.c AS bigint) AS c,
       CAST(c.c*62+2 AS bigint) AS x0, CAST(r.r*30+2 AS bigint) AS y0,
       CAST((c.c+1)*62 AS bigint) AS x1, CAST((r.r+1)*30 AS bigint) AS y1
FROM d, generate_series(0,2) r(r), generate_series(0,4) c(c)
WHERE r.r < d.n_rows AND c.c < d.n_cols
"""
