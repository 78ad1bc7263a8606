"""Relational analogues of the reference's dataflow operators (SURVEY.md
§2.2-2.6), expressed over the testdata star schema so the DuckDB oracle
can verify exact semantics:

- score filter (drop_score, predict_system.py:149-154) -> predicate on a
  value column, pushed into the parquet scan.
- reading order (sorted_boxes, predict_system.py:160-182) + page_num cap
  (:221-224) -> row_number window per group, filtered to the first K.
- nearest-neighbor assignment join (table/matcher.py:78-102 argmin) ->
  window top-1 by a lexicographic sort key.
- intersection / theta join (_has_intersection,
  ppstructure/predict_system.py:255-271) -> interval-overlap self join.
- postcode lookup (fastapi_app.py:124-135) -> broadcast hash equi join
  over dimension tables.
- max_candidates top-k cap (db_postprocess.py:126) -> global top-k.
- style-token strip (ppstructure/predict_system.py:210-231) ->
  regexp_replace chain.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def reading_order(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """sorted_boxes + page_num analogue: first k events per user in
    (ts, event_id) order with their rank."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("user_id", "event_id", "rn")
    )


READING_ORDER_SQL = """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


def nn_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_result argmin analogue: for each customer, the single order
    minimizing the lexicographic key (-totalprice, orderkey) — i.e. the
    best match by (primary, tie-break) exactly like (1-IoU, L1)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_order"),
            F.round("o_totalprice", 2).alias("best_price"),
        )
    )


NN_ASSIGNMENT_SQL = """
SELECT o_custkey, o_orderkey AS best_order, round(o_totalprice, 2) AS best_price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection-join analogue: same-user event pairs whose 60s windows
    overlap (|ts_a - ts_b| < 60s), a 1-D interval theta join. The user_id
    equi key keeps it a hash join + per-key filter, never a cross join."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.abs(
                    F.unix_timestamp(F.col("a.ts"))
                    - F.unix_timestamp(F.col("b.ts"))
                )
                < 60
            ),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("overlapping_pairs"))
    )


INTERVAL_OVERLAP_SQL = """
SELECT a.user_id AS user_id, count(*) AS overlapping_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND abs(CAST(floor(epoch(a.ts)) AS bigint) - CAST(floor(epoch(b.ts)) AS bigint)) < 60
GROUP BY 1 ORDER BY 1
"""


def dimension_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postcode->state analogue: customers joined through the nation ->
    region dimension chain; both dims explicitly broadcast (the postcode
    DB is a ~3k-row table in the reference — always broadcast)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


DIMENSION_LOOKUP_SQL = """
SELECT r_name AS region_name, n_name AS nation_name,
       count(*) AS customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def style_token_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Style-token strip analogue: remove <b>/<i>/<sub>-like markup and
    collapse the resulting double spaces, as an ordered regexp_replace
    chain (order-sensitive like correct_ocr_errors)."""
    cleaned = F.regexp_replace(
        F.regexp_replace("text", r"\b(the|a|of)\b", ""), r"  +", " "
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.trim(cleaned).alias("clean_text")
    )


STYLE_TOKEN_STRIP_SQL = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(text, '\\b(the|a|of)\\b', '', 'g'),
                           '  +', ' ', 'g')) AS clean_text
FROM documents
"""


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config/metadata parse analogue: extract props.k, aggregate per
    event_type (get_json_object stays JVM-side)."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
    )


JSON_PROPS_ROLLUP_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS k_sum
FROM events GROUP BY 1 ORDER BY 1
"""


SESSION_GAP_US = 1_800 * 1_000_000  # 30-minute inactivity gap, in micros


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream — THE canonical
    stateful-window analytics operator (a crawl pipeline runs the same
    shape over per-host fetch logs to derive crawl sessions): events of
    a user separated by <= 30 min of inactivity share a session.

    (user_id, session_idx, n_events, start_us, end_us, dur_us) per
    session. session_idx = running count of session-STARTS (lag gap
    test) per user, so ids are dense and chronologically ordered.

    Shape: lag + running sum share one (partition, order) — one
    exchange + one sort, the second Window pass rides the first's
    ordering — then a groupBy(user, session) partial agg. Order is
    (ts, event_id): deterministic under equal timestamps. At 10^12
    events the per-key frame is one user's history — bounded by human
    activity (no megasite-style hot key); the batch twin of the
    streaming stateful dedup's applyInPandasWithState."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    # events.ts is TIMESTAMP_NTZ in the parquet; the NTZ->TZ cast reads
    # it in the session zone (pinned UTC by the driver/bench/tests), so
    # micros agree with DuckDB's naive epoch_us
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    marked = ev.withColumn(
        "is_new",
        (
            F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US
        ).cast("int"),
    ).withColumn(
        "session_idx",
        F.sum(F.coalesce("is_new", F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )


SESSIONIZE_SQL = """
SELECT user_id, session_idx,
       CAST(count(*) AS bigint) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us,
       max(ts_us) - min(ts_us) AS dur_us
FROM (
  SELECT user_id, event_id, ts_us,
         CAST(sum(is_new) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id
              ROWS UNBOUNDED PRECEDING) AS bigint) AS session_idx
  FROM (
    SELECT user_id, event_id, ts_us,
           coalesce(CAST(ts_us - lag(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) > 1800000000 AS int), 1)
             AS is_new
    FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)))
GROUP BY 1, 2 ORDER BY 1, 2
"""


def relational_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All eight relational operator analogues above as ONE gate query
    (the driver's correctness board caps at 50 rows; round 2 silently
    dropped the last 6 dict entries, so low-cardinality operator queries
    ride a union-tagged suite — a mismatch in ANY branch still fails the
    whole row). Normalized schema (op, k, v): keys/values concatenated
    as strings, floats scaled to bigints BEFORE stringifying so Spark
    and DuckDB never disagree on float formatting. Each branch keeps its
    standalone builder above (the operator API is unchanged); this is
    only the verification surface."""

    def norm(df: DataFrame, op: str, k_cols: list[str], v_cols: list) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"),
            F.concat_ws("|", *[F.col(c).cast("string") for c in k_cols]).alias("k"),
            F.concat_ws("|", *[c.cast("string") for c in v_cols]).alias("v"),
        )

    def as_micro(col):  # double -> exact bigint at 1e-6 resolution
        return F.round(col * 1000000).cast("long")

    def as_cents(col):
        return F.round(col * 100).cast("long")

    sf = _t(spark, sf_dir, "events").filter(F.col("value") >= 0.5)
    parts = [
        norm(sf, "score_filter", ["event_id"],
             [F.col("user_id"), as_micro(F.col("value"))]),
        norm(reading_order(spark, sf_dir), "reading_order",
             ["user_id", "event_id"], [F.col("rn")]),
        norm(nn_assignment(spark, sf_dir), "nn_assignment", ["o_custkey"],
             [F.col("best_order"), as_cents(F.col("best_price"))]),
        norm(interval_overlap_join(spark, sf_dir), "interval_overlap",
             ["user_id"], [F.col("overlapping_pairs")]),
        norm(dimension_lookup_join(spark, sf_dir), "dimension_lookup",
             ["region_name", "nation_name"],
             [F.col("customers"), as_cents(F.col("total_acctbal"))]),
        # raw value (not rounded to 6dp first): as_micro must see the
        # same double the oracle rounds, or double-rounding at the .5
        # boundary diverges
        norm(
            _t(spark, sf_dir, "events")
            .select("event_id", "value")
            .orderBy(F.desc("value"), F.asc("event_id"))
            .limit(1000),
            "topk_candidates",
            ["event_id"],
            [as_micro(F.col("value"))],
        ),
        norm(style_token_strip(spark, sf_dir), "style_token_strip",
             ["doc_id"], [F.col("clean_text")]),
        norm(json_props_rollup(spark, sf_dir), "json_props_rollup",
             ["event_type"], [F.col("n"), F.col("k_sum")]),
        norm(sessionize(spark, sf_dir), "sessionize",
             ["user_id", "session_idx"],
             [F.col("n_events"), F.col("start_us"), F.col("end_us"),
              F.col("dur_us")]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sub(sql: str) -> str:
    """Embed a standalone oracle constant as a subquery: strip the
    trailing presentation ORDER BY (subquery order is irrelevant). The
    suite SQL below is COMPOSED from the per-operator constants so each
    operator's oracle lives in exactly one place — a change to a builder
    + its SQL twin cannot leave a stale duplicate inside the suite."""
    return "(" + re.sub(r"\s+ORDER BY [\w, ]+\s*$", "", sql.strip()) + ")"


# score_filter and topk_candidates stay inline ON PURPOSE: like the
# Spark suite above, they re-derive from the RAW value column so the
# micro-unit rounding sees the same double on both engines (a 6dp
# rounded value would double-round at the .5 boundary).
RELATIONAL_OPS_SUITE_SQL = f"""
SELECT 'score_filter' AS op, CAST(event_id AS string) AS k,
       concat_ws('|', user_id, CAST(round(value * 1000000) AS bigint)) AS v
FROM events WHERE value >= 0.5
UNION ALL
SELECT 'reading_order', concat_ws('|', user_id, event_id), CAST(rn AS string)
FROM {_sub(READING_ORDER_SQL)}
UNION ALL
SELECT 'nn_assignment', CAST(o_custkey AS string),
       concat_ws('|', best_order, CAST(round(best_price * 100) AS bigint))
FROM {_sub(NN_ASSIGNMENT_SQL)}
UNION ALL
SELECT 'interval_overlap', CAST(user_id AS string),
       CAST(overlapping_pairs AS string)
FROM {_sub(INTERVAL_OVERLAP_SQL)}
UNION ALL
SELECT 'dimension_lookup', concat_ws('|', region_name, nation_name),
       concat_ws('|', customers, CAST(round(total_acctbal * 100) AS bigint))
FROM {_sub(DIMENSION_LOOKUP_SQL)}
UNION ALL
SELECT 'topk_candidates', CAST(event_id AS string),
       CAST(CAST(round(value * 1000000) AS bigint) AS string)
FROM (SELECT event_id, value FROM events
      ORDER BY value DESC, event_id ASC LIMIT 1000)
UNION ALL
SELECT 'style_token_strip', CAST(doc_id AS string), clean_text
FROM {_sub(STYLE_TOKEN_STRIP_SQL)}
UNION ALL
SELECT 'json_props_rollup', event_type, concat_ws('|', n, k_sum)
FROM {_sub(JSON_PROPS_ROLLUP_SQL)}
UNION ALL
SELECT 'sessionize', concat_ws('|', user_id, session_idx),
       concat_ws('|', n_events, start_us, end_us, dur_us)
FROM {_sub(SESSIONIZE_SQL)}
"""
