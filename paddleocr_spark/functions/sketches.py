"""Deterministic distributed sketches: HyperLogLog distinct counting and
Count-Min frequency estimation over the web corpus.

Why sketches are first-class at 10^12 documents: `COUNT(DISTINCT url)`
per host is a full-width shuffle of every URL byte in the corpus, and a
token-frequency table is a groupBy whose key cardinality is the open
vocabulary. Both answers are needed constantly (crawl budgeting, dedup
sizing, stopword detection) and both have bounded-width sketch forms:

- **HyperLogLog** (Flajolet et al. 2007, the algorithm behind Spark's
  own `approx_count_distinct` HLL++): per row compute a register index
  (P=8 -> m=256 registers) and a leading-zero rank rho from one hash,
  then `groupBy(host, idx).max(rho)` — the shuffle carries at most
  hosts x 256 tiny int rows with full map-side combine, independent of
  how many distinct URLs exist. Standard error ~1.04/sqrt(256) = 6.5%.
- **Count-Min** (Cormode & Muthukrishnan 2005): d=2 hash rows x w=64
  buckets; building the table is ONE `groupBy(depth, bucket)` whose
  output is exactly d*w = 128 rows regardless of vocabulary size, and
  any term's frequency upper bound is the min over its d buckets —
  served from a broadcast of the 128-row table, no second corpus pass.

Production note: for a plain distinct estimate Spark's built-in
`approx_count_distinct` is the right call — but its HLL++ register
layout is engine-internal, so the strict-oracle build here uses an
md5-based register/rank derivation written as ONE portable SQL snippet
evaluated verbatim by BOTH engines (the functions/pii.py discipline:
md5 / instr / substr / bin behave identically in Spark SQL and DuckDB).
Every verdict the oracle compares is integer except the final HLL
estimate, which is micro-rounded from the same literal float expression
on both sides (the bm25 discipline); its inputs (V, S_scaled) are exact
integers shipped alongside it.

Reference parity: the reference has no sketch layer (its corpus is a
directory of images; `tools/infer/utility.py get_image_file_list` just
lists files) — this module is part of the training-data-pipeline
extension mandated by the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet

# ---------------------------------------------------------------------------
# portable hash snippets (ONE string, evaluated by Spark SQL and DuckDB)

_HEXTAB = "0123456789abcdef"

HLL_P = 8            # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_W = 40           # rank bits -> rho in 1..41
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)   # = 0.7182725932495458
# alpha * m^2 * 2^41  (m^2 * 2^41 = 2^57, exactly representable); repr
# gives the shortest round-tripping literal, the same double on both engines
_HLL_NUM = f"CAST({HLL_ALPHA!r} AS DOUBLE) * 144115188075855872.0"
_HLL_TWO41 = 1 << (HLL_W + 1)

CM_WIDTH = 64
CM_TERMS = ("the", "spark", "join", "vector", "customer", "zzzabsent")


def hex_int_snippet(col_sql: str, start: int, n: int) -> str:
    """Portable SQL turning hex chars [start, start+n) of `col_sql`
    (1-based, lowercase hex) into a non-negative BIGINT. md5() yields
    lowercase hex in both engines; instr/substr share semantics."""
    # each digit is cast to BIGINT before the multiply: Spark parses
    # multipliers < 2^31 as INT, and digit * 16^7 overflows int32 under
    # ANSI mode (DuckDB accepts the cast with identical semantics)
    terms = [
        f"CAST(instr('{_HEXTAB}', substr({col_sql}, {start + i}, 1)) - 1"
        f" AS BIGINT)"
        + (f" * {16 ** (n - 1 - i)}" if n - 1 - i > 0 else "")
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def hll_idx_snippet(key_sql: str) -> str:
    """Register index: first 2 hex chars (8 bits) of md5(key)."""
    return hex_int_snippet(f"md5({key_sql})", 1, 2)


def hll_rho_snippet(key_sql: str) -> str:
    """Leading-zero rank of the next 40 hash bits, in 1..41.
    length(bin(v)) = floor(log2 v) + 1 for v > 0 in both engines, so
    rho = 41 - length(bin(v)); the all-zero suffix maps to 41."""
    v = hex_int_snippet(f"md5({key_sql})", 3, 10)
    return (
        f"(CASE WHEN {v} = 0 THEN {HLL_W + 1} "
        f"ELSE {HLL_W + 1} - length(bin({v})) END)"
    )


def cm_bucket_snippet(key_sql: str, depth: int) -> str:
    """Count-Min bucket for hash row `depth`: 16 salted hash bits mod w.
    The salt rides inside the hashed string so d rows are independent."""
    h = f"md5(concat('{depth}:', {key_sql}))"
    return f"({hex_int_snippet(h, 1, 4)} % {CM_WIDTH})"


# Fixture page key: 5 crawl captures share one logical page (hosts are
# doc_id % n_sources = stride-20 id sets, so the block size is 100 = 5
# strides), making the per-host distinct-page count a real distinct
# (docs/5) that scales with SF, not the row count. Portable: % and
# concat behave identically in both engines.
_PAGE_KEY = "concat(source, '/p', CAST(doc_id - doc_id % 100 AS STRING))"
_HOST = "concat(source, '.example.test')"


# ---------------------------------------------------------------------------
# HyperLogLog per-host distinct pages


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host HLL distinct-page estimate.

    Columns: host, v_zero (registers never hit), s_scaled (sum of
    2^(41-rho) over all 256 registers, an exact BIGINT since every term
    is dyadic with <= 49 bits), est_micro (the HLL estimate with the
    standard small-range linear-counting correction, micro-rounded),
    exact_distinct (the true distinct — computable at test scale only;
    at 10^12 this column IS the point of not computing it, and the
    partial `count(distinct)` under the (host, idx) grouping documents
    the cost the sketch avoids).

    Plan shape: one groupBy(host, idx) with map-side combine (register
    rows are <= hosts x 256 regardless of corpus size), then a
    host-level fold over <= 256 rows. No window, no join.
    """
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    base = docs.select(
        F.expr(_HOST).alias("host"),
        F.expr(_PAGE_KEY).alias("key"),
    )
    regs = (
        base.select(
            "host",
            F.expr(hll_idx_snippet("key")).alias("idx"),
            F.expr(hll_rho_snippet("key")).alias("rho"),
            "key",
        )
        .groupBy("host", "idx")
        .agg(
            F.max("rho").alias("r"),
            F.countDistinct("key").alias("nd"),
        )
    )
    per_host = regs.groupBy("host").agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("v_zero"),
        F.sum(
            F.expr(f"CAST(round(power(2.0, {HLL_W + 1} - r)) AS BIGINT)")
        ).alias("s_set"),
        F.sum("nd").alias("exact_distinct"),
    )
    est0 = (
        f"{_HLL_NUM} / CAST(s_set + v_zero * {_HLL_TWO41} AS DOUBLE)"
    )
    est = (
        f"(CASE WHEN {est0} <= {2.5 * HLL_M} AND v_zero > 0 "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST(v_zero AS DOUBLE)) "
        f"ELSE {est0} END)"
    )
    return per_host.select(
        "host",
        "v_zero",
        (F.col("s_set") + F.col("v_zero") * F.lit(_HLL_TWO41)).alias(
            "s_scaled"
        ),
        F.expr(f"CAST(round({est} * 1000000.0) AS BIGINT)").alias(
            "est_micro"
        ),
        "exact_distinct",
    )


def hll_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='hll_distinct', k=host, v=v_zero|s_scaled|est_micro|exact)."""
    return hll_distinct(spark, sf_dir).select(
        F.lit("hll_distinct").alias("op"),
        F.col("host").alias("k"),
        F.concat_ws(
            "|", "v_zero", "s_scaled", "est_micro", "exact_distinct"
        ).alias("v"),
    )


def _hll_sql() -> str:
    est0 = (
        f"{_HLL_NUM} / CAST(s_set + v_zero * {_HLL_TWO41} AS DOUBLE)"
    )
    est = (
        f"(CASE WHEN {est0} <= {2.5 * HLL_M} AND v_zero > 0 "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST(v_zero AS DOUBLE)) "
        f"ELSE {est0} END)"
    )
    return f"""
WITH base AS (
  SELECT {_HOST} AS host, {_PAGE_KEY} AS key FROM documents
), hashed AS (
  SELECT host, key,
         {hll_idx_snippet('key')} AS idx,
         {hll_rho_snippet('key')} AS rho
  FROM base
), regs AS (
  SELECT host, idx, max(rho) AS r, count(DISTINCT key) AS nd
  FROM hashed GROUP BY host, idx
), per_host AS (
  SELECT host, {HLL_M} - count(*) AS v_zero,
         sum(CAST(round(power(2.0, {HLL_W + 1} - r)) AS BIGINT)) AS s_set,
         sum(nd) AS exact_distinct
  FROM regs GROUP BY host
)
SELECT host, v_zero, s_set + v_zero * {_HLL_TWO41} AS s_scaled,
       CAST(round({est} * 1000000.0) AS BIGINT) AS est_micro,
       exact_distinct
FROM per_host
"""


HLL_DISTINCT_SQL = _hll_sql()


# ---------------------------------------------------------------------------
# Count-Min heavy-hitter frequency estimates


def cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimate vs exact count for a literal probe
    term set.

    Columns: term, cm_est (min over d=2 salted hash rows of the bucket
    count — always >= the true count), true_count (exact occurrences,
    affordable here because the probe set is literal: a bm25-style
    `size(filter(...))` projection plus one scalar agg, never a
    vocabulary-wide groupBy).

    Plan shape: the corpus is exploded to words ONCE; the table build is
    `stack(d)` -> ONE groupBy(depth, bucket) with map-side combine whose
    result is exactly d*w = 128 rows no matter the vocabulary; probes
    join that table broadcast. The absent probe term documents the CM
    guarantee direction (overestimate-only, est >= 0 = truth).
    """
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "text"
    )
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    b0 = cm_bucket_snippet("word", 0)
    b1 = cm_bucket_snippet("word", 1)
    cm = (
        words.select(
            F.expr(f"stack(2, 0, {b0}, 1, {b1})").alias("depth", "bucket")
        )
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # exact counts for the literal probes: one scalar aggregate over the
    # same exploded words (shared scan), no per-key shuffle
    truth = words.agg(
        *[
            F.sum((F.col("word") == t).cast("long")).alias(f"t{i}")
            for i, t in enumerate(CM_TERMS)
        ]
    )
    terms = spark.createDataFrame(
        [(t,) for t in CM_TERMS], "term string"
    ).select(
        "term",
        F.expr(cm_bucket_snippet("term", 0)).alias("b0"),
        F.expr(cm_bucket_snippet("term", 1)).alias("b1"),
    )
    probed = (
        terms.join(
            F.broadcast(cm.filter(F.col("depth") == 0)),
            F.col("b0") == F.col("bucket"),
            "left",
        )
        .select("term", "b1", F.coalesce("cnt", F.lit(0)).alias("c0"))
        .join(
            F.broadcast(cm.filter(F.col("depth") == 1)),
            F.col("b1") == F.col("bucket"),
            "left",
        )
        .select("term", "c0", F.coalesce("cnt", F.lit(0)).alias("c1"))
    )
    true_cols = F.expr(
        "CASE "
        + " ".join(
            f"WHEN term = '{t}' THEN t{i}" for i, t in enumerate(CM_TERMS)
        )
        + " END"
    )
    return probed.crossJoin(F.broadcast(truth)).select(
        "term",
        F.least("c0", "c1").alias("cm_est"),
        true_cols.alias("true_count"),
    )


def cm_heavy_hitters_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='cm_heavy_hitters', k=term, v=cm_est|true_count)."""
    return cm_heavy_hitters(spark, sf_dir).select(
        F.lit("cm_heavy_hitters").alias("op"),
        F.col("term").alias("k"),
        F.concat_ws("|", "cm_est", "true_count").alias("v"),
    )


def _cm_sql() -> str:
    b0 = cm_bucket_snippet("word", 0)
    b1 = cm_bucket_snippet("word", 1)
    terms_rows = ", ".join(f"('{t}')" for t in CM_TERMS)
    return f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), cm AS (
  SELECT depth, bucket, count(*) AS cnt FROM (
    SELECT 0 AS depth, {b0} AS bucket FROM words
    UNION ALL
    SELECT 1 AS depth, {b1} AS bucket FROM words
  ) GROUP BY depth, bucket
), terms(term) AS (
  VALUES {terms_rows}
), probed AS (
  SELECT term,
         {cm_bucket_snippet('term', 0)} AS b0,
         {cm_bucket_snippet('term', 1)} AS b1
  FROM terms
)
SELECT p.term,
       least(coalesce(c0.cnt, 0), coalesce(c1.cnt, 0)) AS cm_est,
       (SELECT count(*) FROM words w WHERE w.word = p.term) AS true_count
FROM probed p
LEFT JOIN cm c0 ON c0.depth = 0 AND c0.bucket = p.b0
LEFT JOIN cm c1 ON c1.depth = 1 AND c1.bucket = p.b1
"""


CM_HEAVY_HITTERS_SQL = _cm_sql()
