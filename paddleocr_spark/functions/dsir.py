"""DSIR data selection: importance-resampling weights over the corpus.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023) is
the standard recipe for skimming a 10^12-document crawl down to a
target-like training set: fit two bag-of-hashed-ngrams distributions —
one on a small TARGET corpus (here: the `lang = 'en'` slice, the
deterministic stand-in for "wiki+books"), one on the RAW pool — and
weight every raw document by its log importance ratio

    log w(x) = sum_f count_f(x) * (ln p_target(f) - ln p_raw(f))

over hashed unigram+bigram features f, then resample the pool by that
weight (here: the deterministic top-quartile cut, the expected-behavior
form of gumbel-top-k).

Cross-engine float discipline (the bm25/sketches precedent): the
per-bucket log-ratio is micro-rounded to a bigint ONCE, from the same
literal expression over exact integer counts on both engines; the
per-document weight is then a pure INTEGER dot product
sum(cnt * lr_micro) — order-free, so Spark's unordered aggregation and
DuckDB's agree bit-for-bit. No float ever crosses an aggregation
boundary.

Plan shape at 10^12 docs:
 1. one explode -> groupBy(doc_id, lang, bucket) with map-side combine
    (the doc-bucket profile, at most B=64 rows per doc);
 2. the global bucket table is a 64-row re-aggregation of (1) — the
    shuffle carries <= B rows per partition;
 3. scoring joins the 64-row log-ratio table back BROADCAST — zero
    extra exchange of the corpus-sized side beyond the (doc, bucket)
    combine in (1).
The top-quartile cut uses the exact global ntile for the oracle, with
the same threshold-swap story as `text.lm_bucket`: at production scale
the quartile boundary would come from approxQuantile and the window
would disappear.

Reference parity: the reference has no data-selection layer (its corpus
is a directory of images) — this module is part of the
training-data-pipeline extension mandated by the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet

DSIR_B = 64               # hashed feature buckets (DSIR ships 10k; 64
#                           keeps the fixture's per-bucket counts dense)
DSIR_TARGET_LANG = "en"   # deterministic target-corpus membership rule
DSIR_KEEP = 4             # selected = top 1/DSIR_KEEP by weight


def dsir_bucket_snippet(col: str) -> str:
    """Feature-hash bucket in 0..B-1 from the first md5 byte — ONE
    portable snippet evaluated verbatim by Spark SQL and DuckDB (the
    functions/sketches.py discipline)."""
    return (
        f"((instr('0123456789abcdef', substr(md5({col}), 1, 1)) - 1) * 16"
        f" + instr('0123456789abcdef', substr(md5({col}), 2, 1)) - 1)"
        f" % {DSIR_B}"
    )


# unigrams ++ bigrams of the single-space token stream (the
# quality_classifier tokenization), built in one JVM array pass: the
# zip_with-over-two-slices idiom from boilerplate_gram_rows.
_GRAMS_ARR = (
    "concat(split(trim(text), ' '), "
    "zip_with(slice(split(trim(text), ' '), 1, "
    "size(split(trim(text), ' ')) - 1), "
    "slice(split(trim(text), ' '), 2, "
    "size(split(trim(text), ' ')) - 1), "
    "(a, b) -> concat(a, ' ', b)))"
)

# ln p_target - ln p_raw with add-one smoothing, micro-rounded — the
# identical literal on both engines (reads ct/cr/t_tot/r_tot columns).
_LR_MICRO = (
    f"CAST(round((ln((ct + 1.0) / (t_tot + {DSIR_B}))"
    f" - ln((cr + 1.0) / (r_tot + {DSIR_B}))) * 1000000) AS bigint)"
)


def _doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, b, cnt): the per-document hashed-feature profile —
    one explode, one map-side-combined groupBy."""
    grams = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.explode(F.expr(_GRAMS_ARR)).alias("g")
    )
    return (
        grams.select(
            "doc_id", "lang", F.expr(dsir_bucket_snippet("g")).alias("b")
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratios(db: DataFrame) -> DataFrame:
    """(b, lr_micro): the 64-row micro-rounded log importance ratio
    table from a (doc_id, lang, b, cnt) profile frame."""
    btab = db.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt"))
            .otherwise(F.lit(0))
        ).alias("ct"),
    )
    tot = btab.agg(
        F.sum("cr").alias("r_tot"), F.sum("ct").alias("t_tot")
    )
    return btab.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(_LR_MICRO).alias("lr_micro")
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, dsir_micro, selected): per-document DSIR log
    importance weight (exact integer micro-units) + the top-quartile
    resampling verdict.

    The profile subtree is built twice (once under the 64-row ratio
    aggregate, once under the scoring join) — both runs share the scan
    cache and the explode is narrow; materializing the corpus-sized
    profile to avoid a second pass would cost more than it saves. A
    standing pipeline fits the ratio table ONCE on a sample and ships
    it as a literal (the kmeans centroid-literal pattern)."""
    from pyspark.sql.window import Window

    db = _doc_buckets(spark, sf_dir)
    lr = dsir_log_ratios(db)
    per_doc = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lr_micro"))
            .cast("long")
            .alias("dsir_micro"),
        )
    )
    w = Window.orderBy(F.desc("dsir_micro"), F.asc("doc_id"))
    return per_doc.select(
        "doc_id",
        "n_feats",
        "dsir_micro",
        (F.ntile(DSIR_KEEP).over(w) == 1).cast("int").alias("selected"),
    )


def dsir_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='dsir', k=doc_id, v=n_feats|dsir_micro|selected) suite row."""
    return dsir_weights(spark, sf_dir).select(
        F.lit("dsir").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_feats", "dsir_micro", "selected").alias("v"),
    )


DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(trim(text), ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, lang, t[i] AS g
  FROM toks, UNNEST(generate_series(1, len(t))) s(i)
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i+1]
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) s(i)),
db AS (
  SELECT doc_id, lang, {dsir_bucket_snippet('g')} AS b, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3),
btab AS (
  SELECT b, sum(cnt) AS cr,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN cnt ELSE 0 END) AS ct
  FROM db GROUP BY b),
tot AS (SELECT sum(cr) AS r_tot, sum(ct) AS t_tot FROM btab),
lr AS (
  SELECT b, {_LR_MICRO} AS lr_micro FROM btab CROSS JOIN tot),
per_doc AS (
  SELECT doc_id, CAST(sum(cnt) AS bigint) AS n_feats,
         CAST(sum(cnt * lr_micro) AS bigint) AS dsir_micro
  FROM db JOIN lr USING (b) GROUP BY doc_id)
SELECT doc_id, n_feats, dsir_micro,
       CAST(ntile({DSIR_KEEP}) OVER (
         ORDER BY dsir_micro DESC, doc_id) = 1 AS int) AS selected
FROM per_doc
ORDER BY doc_id
"""
