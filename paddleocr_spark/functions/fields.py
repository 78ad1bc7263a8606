"""Field-extraction layer: the reference fork's Malaysia-IC extraction
heuristics re-expressed as JVM-side Spark expressions (no Python UDFs).

Reference parity surface (SURVEY.md §2.8, citations into /root/reference):
- IC-number regex `\\d{6}-\\d{2}-\\d{4}` over transcript lines
  (fastapi_app.py:588-592, ic_extractor_simplified.py:60-65)
- Gender from IC parity: last digit odd -> Male, even -> Female, keyword
  fallback LELAKI/PEREMPUAN (fastapi_app.py:780-799)
- Religion: first of ISLAM/KRISTIAN/BUDDHA/HINDU/SIKH in the full text
  (fastapi_app.py:801-816)
- `correct_ocr_errors`: ORDERED regex substitution chain of known
  misreads (fastapi_app.py:200-218,494-573) — order is semantics, the
  chain must apply top-to-bottom
- Postcode -> state lookup (fastapi_app.py:124-135,1077-1096): the one
  genuine relational join of the fork, mapped to a broadcast hash equi
  join against a dimension table (SURVEY.md §2.3)

Because the sandbox has no real IC scans, the benchmark/oracle corpus is
a deterministic transcript synthesized per document from `documents`
columns (pure SQL arithmetic, reproducible in DuckDB), with misreads
injected so the correction chain is actually exercised. The extraction
expressions themselves are generic over any `raw_ocr_text` column.

Scale notes: everything here is whole-stage-codegen'd string/regex work
plus one broadcast join — per-row cost is microseconds, shuffle-free; at
10^12 rows the plan is scan -> project -> broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet
from paddleocr_spark.functions.corrections import corrections_col_lines

IC_RE = r"(\d{6}-\d{2}-\d{4})"
POSTCODE_RE = r"\b(\d{5})\b"

RELIGIONS = ["ISLAM", "KRISTIAN", "BUDDHA", "HINDU", "SIKH"]

# Postcode prefix (first 2 digits) -> state dimension. Malaysian postcode
# blocks are public; this table keeps the deterministic subset the
# synthetic corpus emits. The lookup is the broadcast-join demo the
# reference does with a JSON dict (fastapi_app.py:124-135).
STATES = [
    "JOHOR", "KEDAH", "KELANTAN", "MELAKA", "NEGERI SEMBILAN", "PAHANG",
    "PULAU PINANG", "PERAK", "PERLIS", "SELANGOR", "TERENGGANU", "SABAH",
    "SARAWAK", "KUALA LUMPUR",
]
POSTCODE_STATE: dict[str, str] = {
    f"{p:02d}": STATES[p % len(STATES)] for p in range(10, 100)
}


def correct_ocr_errors(col: Column) -> Column:
    """Apply the full ordered substitution chain per line (top-to-bottom,
    like the reference's sequential re.sub loop over OCR lines)."""
    return corrections_col_lines(col)


def ic_number(col: Column) -> Column:
    return F.regexp_extract(col, IC_RE, 1)


def gender_from_ic(ic: Column, text: Column) -> Column:
    """Last IC digit odd -> Male, even -> Female; keyword fallback when
    no IC was found (fastapi_app.py:780-799)."""
    last_digit = F.substring(ic, -1, 1).cast("int")
    return (
        F.when(ic != "", F.when(last_digit % 2 == 1, "Male").otherwise("Female"))
        .when(text.contains("PEREMPUAN"), "Female")
        .when(text.contains("LELAKI"), "Male")
        .otherwise("")
    )


def religion(col: Column) -> Column:
    """First matching keyword in fixed priority order
    (fastapi_app.py:801-816 scans an ordered list)."""
    out = F.lit("")
    for r in reversed(RELIGIONS):
        out = F.when(col.contains(r), r).otherwise(out)
    return out


def postcode(col: Column) -> Column:
    return F.regexp_extract(col, POSTCODE_RE, 1)


def postcode_state_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(POSTCODE_STATE.items())],
        "pc_prefix string, state string",
    )


def extract_ic_fields(df: DataFrame, text_col: str = "raw_ocr_text") -> DataFrame:
    """Generic extraction over a transcript column: corrections chain ->
    field expressions -> broadcast postcode->state join.

    The ~78-rule chain is a large expression tree; embedding it once per
    downstream field would multiply Catalyst's analysis cost by 5 (a
    measured ~4 s of one-time driver work per query). Materializing it
    through mapInPandas-free column reuse keeps one occurrence: fields
    reference the named column, and only `ic_number`'s regex re-embeds
    nothing."""
    spark = df.sparkSession
    corrected = correct_ocr_errors(F.col(text_col))
    base = df.select(
        *[c for c in df.columns if c != text_col],
        corrected.alias("corrected_text"),
    )
    ic = ic_number(F.col("corrected_text"))
    out = base.select(
        *[c for c in base.columns if c != "corrected_text"],
        ic.alias("ic_number"),
        gender_from_ic(ic, F.col("corrected_text")).alias("gender"),
        religion(F.col("corrected_text")).alias("religion"),
        postcode(F.col("corrected_text")).alias("postcode"),
        F.col("corrected_text"),
    )
    dim = postcode_state_dim(spark)
    return (
        out.join(
            F.broadcast(dim),
            F.substring("postcode", 1, 2) == dim.pc_prefix,
            "left",
        )
        .withColumn("state", F.coalesce("state", F.lit("")))
        .drop("pc_prefix")
    )


# ---------------------------------------------------------------------------
# Synthetic IC transcript corpus over `documents` (deterministic, so the
# DuckDB oracle below re-derives every output from doc_id arithmetic and
# its own regex engine — an independent re-implementation, not a replay).
# Docs with doc_id % 10 == 0 omit the IC line to exercise the keyword
# fallback path.

def _transcript(spark_side: bool) -> str:
    """Shared SQL expression (valid in both Spark SQL and DuckDB) that
    builds the per-doc transcript. One source string keeps both engines
    honest about operating on identical input."""
    from paddleocr_spark.functions.fixture_shared import IC_EXPR as ic
    gender_kw = "CASE WHEN doc_id % 2 = 1 THEN 'LELAKI' ELSE 'PEREMPUAN' END"
    ic_line = f"CASE WHEN doc_id % 10 = 0 THEN {gender_kw} ELSE {ic} END"
    pc = "lpad(CAST((doc_id * 7) % 90000 + 10000 AS string), 5, '0')"
    religion = (
        "CASE doc_id % 5 WHEN 0 THEN 'ISLAM' WHEN 1 THEN 'KRISTIAN' "
        "WHEN 2 THEN 'BUDDHA' WHEN 3 THEN 'HINDU' ELSE 'SIKH' END"
    )
    return (
        "concat_ws(chr(10), 'MYKAD', "
        f"{ic_line}, "
        "concat('LLORONG ', upper(source), ' JJALAN UTAMA'), "
        f"concat({pc}, ' TAMAN SERI'), "
        f"{religion})"
    )


def synthetic_ic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return docs.select("doc_id", F.expr(_transcript(True)).alias("raw_ocr_text"))


def ic_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: synthesize transcripts -> full extraction."""
    res = extract_ic_fields(synthetic_ic_docs(spark, sf_dir))
    return res.select(
        "doc_id", "ic_number", "gender", "religion", "postcode", "state"
    )


def _ic_field_extract_sql() -> str:
    """Ground-truth oracle: re-derives every field from doc_id arithmetic
    instead of replaying the correction chain (the full ~78-rule chain
    uses lookaheads DuckDB's RE2 cannot run). Of the whole chain, the
    only rule that can touch this transcript's extracted fields is the
    plain '63100'->'53100' postcode repair (digit patterns elsewhere in
    the chain require adjacency the transcript never produces; the
    street-line rewrites never reach a field) — so the ground truth is
    the raw arithmetic value with that one substring replace applied.
    The IC's last digit can never sit inside a '63100' match (5-digit
    window, digits-only, cannot span the dashes), so gender parity is
    unaffected."""
    from paddleocr_spark.functions.fixture_shared import IC_EXPR as ic
    pc = "lpad(CAST((doc_id * 7) % 90000 + 10000 AS string), 5, '0')"
    dim_values = ", ".join(
        f"('{k}', '{v}')" for k, v in sorted(POSTCODE_STATE.items())
    )
    return f"""
WITH fields AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN ''
              ELSE replace({ic}, '63100', '53100') END AS ic_number,
         CASE WHEN doc_id % 10 = 0 THEN 'Female'  -- %10=0 is even -> PEREMPUAN keyword
              WHEN (doc_id * 31) % 2 = 1 THEN 'Male' ELSE 'Female' END AS gender,
         CASE doc_id % 5 WHEN 0 THEN 'ISLAM' WHEN 1 THEN 'KRISTIAN'
              WHEN 2 THEN 'BUDDHA' WHEN 3 THEN 'HINDU' ELSE 'SIKH' END AS religion,
         replace({pc}, '63100', '53100') AS postcode
  FROM documents
),
dim(pc_prefix, state) AS (VALUES {dim_values})
SELECT f.doc_id, f.ic_number, f.gender, f.religion, f.postcode,
       coalesce(d.state, '') AS state
FROM fields f LEFT JOIN dim d ON substring(f.postcode, 1, 2) = d.pc_prefix
"""


IC_FIELD_EXTRACT_SQL = _ic_field_extract_sql()


def ic_fields_from_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE fork serving path on Spark (fastapi_app.py:1147-1213
    upload -> OCR -> extract_fields): IC-card transcripts rendered as
    page images -> salted repartition -> mapInPandas OCR (det + order +
    crop + rec with gap->space decoding) -> corrections chain -> field
    expressions -> broadcast postcode->state join. Oracle: the same
    doc_id arithmetic as ic_field_extract — byte-identical fields prove
    the whole image chain, not just the string layer."""
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import ic_pages_from_documents

    pages = ic_pages_from_documents(spark, sf_dir)
    ncpu = spark.sparkContext.defaultParallelism
    res = extract_pages(pages, num_partitions=ncpu)
    docs = res.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("extracted_text").alias("raw_ocr_text"),
    )
    return extract_ic_fields(docs).select(
        "doc_id", "ic_number", "gender", "religion", "postcode", "state"
    )
