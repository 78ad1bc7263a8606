"""Text-analysis operators over the `documents` table — the pieces a
training-data pipeline needs (token counting, quality scoring, language
signal, fingerprinting). All JVM-side built-ins (no Python UDFs): these
run inside whole-stage codegen and push column pruning into the scan.

Every builder keeps a strict SQL twin (oracle) using only functions with
identical semantics in Spark and DuckDB: regexp_replace (the DuckDB twin
passes 'g'), md5, length, upper/lower, split on a regex, round.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/documents.parquet")


# -- token counting ----------------------------------------------------------

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (alnum runs + punct marks)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        (
            F.length(F.regexp_replace("text", r"[A-Za-z0-9]+", "x"))
        ).alias("bpe_proxy_tokens"),
        F.length("text").alias("char_len"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       length(regexp_replace(text, '[A-Za-z0-9]+', 'x', 'g')) AS bpe_proxy_tokens,
       length(text) AS char_len
FROM documents
"""


# -- quality scoring ---------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


# -- language signal ---------------------------------------------------------

def lang_marker_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-based language signal aggregated per declared lang:
    how often each corpus language's docs contain common-English markers
    ('the', 'and') vs CJK codepoints (the has_chinese test of the
    reference fork, fastapi_app.py:283-288 -> rlike range class)."""
    df = _docs(spark, sf_dir)
    return (
        df.select(
            "lang",
            F.col("text").rlike(r"\bthe\b").cast("int").alias("has_en_marker"),
            F.col("text").rlike("[一-鿿]").cast("int").alias("has_cjk"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_en_marker").alias("en_marker_docs"),
            F.sum("has_cjk").alias("cjk_docs"),
        )
    )


LANG_MARKER_SQL = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN regexp_matches(text, '\\bthe\\b') THEN 1 ELSE 0 END) AS bigint) AS en_marker_docs,
       CAST(sum(CASE WHEN regexp_matches(text, '[一-鿿]') THEN 1 ELSE 0 END) AS bigint) AS cjk_docs
FROM documents GROUP BY lang ORDER BY lang
"""


# -- fingerprinting ----------------------------------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercase alnum-collapsed
    text) — the exact-dedup key at scale."""
    norm = F.lower(F.regexp_replace("text", r"[^A-Za-z0-9]+", " "))
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.trim(norm)).alias("fingerprint")
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(trim(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')))) AS fingerprint
FROM documents
"""


# -- boilerplate detection ---------------------------------------------------

BOILER_DF = 3  # bigram counts as boilerplate when >= this many docs of
# the same host contain it (CCNet/C4-style repeated-fragment rule)


def boilerplate_gram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='boilerplate_grams', k=doc_id, v=n_boiler|n_grams): host-level
    repeated-fragment detection — a bigram shared by >= BOILER_DF docs of
    one host is boilerplate (nav text, footers, templates repeat across a
    site; real content doesn't). The per-doc boilerplate share is the
    filter signal a web-text pipeline applies before training-data
    export.

    Plan shape at 10^12 docs: bigram explode (narrow) -> DF groupBy on
    (host, gram) -> join back on the SAME (host, gram) key (both sides
    descend from one explode, so the shuffle partitioning is shared) ->
    per-doc aggregate. Like ngram_jaccard's DF table, the (host, gram)
    key is bounded per host — no global hot key."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    # zip_with over two slices builds the bigram list in one array pass
    # (the element_at-per-index form re-walks the array per gram — 2x
    # slower, measured at sf0.1); slice handles the 1-token doc (empty)
    grams_arr = F.expr(
        "zip_with(slice(split(trim(text), '\\\\s+'), 1, "
        "size(split(trim(text), '\\\\s+')) - 1), "
        "slice(split(trim(text), '\\\\s+'), 2, "
        "size(split(trim(text), '\\\\s+')) - 1), "
        "(a, b) -> concat(a, ' ', b))"
    )
    grams = docs.select(
        "doc_id", "source", F.explode(grams_arr).alias("g")
    )
    # ONE explicit repartition on the join key, then every downstream
    # step — the (doc, gram) occurrence agg, the host-DF agg, and the
    # SortMergeJoin — runs exchange-free: HashPartitioning(source, g)
    # satisfies clustering for any superset group key, so the whole
    # subtree shares a single shuffle of the exploded rows (pinned in
    # tests/test_plan_shape.py). Pre-aggregating to occurrence counts
    # also makes the host-DF table a plain count (each doc contributes
    # one row per gram — no two-phase countDistinct).
    grams = grams.repartition(F.col("source"), F.col("g"))
    per_doc_gram = grams.groupBy("doc_id", "source", "g").agg(
        F.count(F.lit(1)).alias("occ_c")
    )
    df_tab = per_doc_gram.groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("d")
    )
    return (
        per_doc_gram.join(df_tab, ["source", "g"])
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("d") >= BOILER_DF, F.col("occ_c")).otherwise(0)
            ).cast("long").alias("n_boiler"),
            F.sum("occ_c").cast("long").alias("n_grams"),
        )
        .select(
            F.lit("boilerplate_grams").alias("op"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws("|", "n_boiler", "n_grams").alias("v"),
        )
    )


# Honest relational twin: DuckDB runs the same explode -> DF -> join ->
# aggregate (array indexing is 1-based in DuckDB vs element_at's 1-based
# Spark — matched).
BOILERPLATE_GRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
grams AS (
  -- data-driven bound (dedup.py convention): a fixed cap would silently
  -- drop bigrams of docs longer than it while the Spark side emits all
  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS s(i)
),
df AS (
  SELECT source, g, count(DISTINCT doc_id) AS d FROM grams GROUP BY 1, 2
)
SELECT gr.doc_id,
       CAST(sum(CASE WHEN df.d >= {BOILER_DF} THEN 1 ELSE 0 END) AS bigint)
           AS n_boiler,
       count(*) AS n_grams
FROM grams gr JOIN df ON gr.source = df.source AND gr.g = df.g
GROUP BY 1
"""


# -- consolidated gate surface ------------------------------------------------

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition signals: the mass fraction of
    the single most frequent word and bigram per document (the filters
    that catch keyword-stuffed and template pages). Fractions ship as
    exact integer micro-units via long `div` — no float division ever
    reaches the compare.

    Plan: JVM-side bigram build (zip_with over two slices — no Python),
    two explodes unioned, then three partial-agg'd groupBys
    ((doc,kind,gram) -> (doc,kind) -> doc). Keys are bounded by
    per-document token counts, so no global hot key exists at any
    stage."""
    df = _docs(spark, sf_dir)
    toks = df.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).withColumn(
        "bg",
        F.expr(
            "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> concat(a, ' ', b))"
        ),
    )
    words = toks.select("doc_id", F.lit("w").alias("kind"), F.explode("t").alias("g"))
    grams = toks.select("doc_id", F.lit("b").alias("kind"), F.explode("bg").alias("g"))
    per = (
        words.unionByName(grams)
        .groupBy("doc_id", "kind", "g")
        .count()
        .groupBy("doc_id", "kind")
        .agg(F.max("count").alias("mc"), F.sum("count").alias("tot"))
        .withColumn("micro", F.expr("(mc * 1000000) div tot"))
    )
    return per.groupBy("doc_id").agg(
        F.max(F.when(F.col("kind") == "w", F.col("micro"))).alias(
            "micro_top_word"
        ),
        F.coalesce(
            F.max(F.when(F.col("kind") == "b", F.col("micro"))), F.lit(0)
        ).alias("micro_top_bigram"),
    )


REPETITION_STATS_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id, 'w' AS kind, UNNEST(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, 'b' AS kind,
         UNNEST(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks),
per AS (
  SELECT doc_id, kind, max(c) AS mc, sum(c) AS tot
  FROM (SELECT doc_id, kind, g, count(*) AS c
        FROM grams GROUP BY doc_id, kind, g)
  GROUP BY doc_id, kind)
SELECT doc_id,
       CAST(max(CASE WHEN kind = 'w' THEN (mc * 1000000) // tot END)
            AS bigint) AS micro_top_word,
       CAST(coalesce(max(CASE WHEN kind = 'b' THEN (mc * 1000000) // tot END), 0)
            AS bigint) AS micro_top_bigram
FROM per
GROUP BY doc_id
ORDER BY doc_id
"""


# -- Gopher-rule document filter ---------------------------------------------

# Gopher (Rae et al. 2021) / Dolma-style keep/drop verdict. Stopword
# list screened against the corpus vocabulary so presence varies.
GOPHER_STOP = ("the", "a", "of", "and", "to", "in", "with", "for")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MEAN_LEN_X100 = (300, 1000)   # mean word length in [3, 10]
GOPHER_MIN_STOP = 2                  # >= 2 distinct stopwords present
GOPHER_MIN_DISTINCT_X100 = 20        # >= 20% distinct words


def gopher_signal_cols() -> dict:
    """The Gopher verdict's per-row signal Columns over `text`, shared
    by `gopher_filter` and the composed `corpus_pipeline` funnel
    (curation.py) so the two can't drift. Keys: n_words, mean_len_x100,
    n_stopwords, distinct_x100, fail_bits. All narrow whole-stage-
    codegen expressions; exact integer `div` units, no float."""
    toks = F.split(F.trim(F.col("text")), " ")
    n_words = F.size(toks)
    mean_x100 = F.expr(
        "(length(translate(text, ' ', '')) * 100L)"
        " div size(split(trim(text), ' '))"
    )
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOP
    ).cast("long")
    distinct_x100 = F.expr(
        "(size(array_distinct(split(trim(text), ' '))) * 100L)"
        " div size(split(trim(text), ' '))"
    )
    b1 = (n_words < GOPHER_MIN_WORDS) | (n_words > GOPHER_MAX_WORDS)
    b2 = (mean_x100 < GOPHER_MEAN_LEN_X100[0]) | (
        mean_x100 > GOPHER_MEAN_LEN_X100[1]
    )
    b3 = n_stop < GOPHER_MIN_STOP
    b4 = distinct_x100 < GOPHER_MIN_DISTINCT_X100
    bitmask = (
        b1.cast("long")
        + b2.cast("long") * 2
        + b3.cast("long") * 4
        + b4.cast("long") * 8
    )
    return {
        "n_words": n_words.cast("long"),
        "mean_len_x100": mean_x100,
        "n_stopwords": n_stop,
        "distinct_x100": distinct_x100,
        "fail_bits": bitmask,
    }


def gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict with a reason bitmask — the
    composed FILTER stage downstream of the raw signals (the suite's
    `quality_scores` op, `repetition_stats`): bit 1 word-count bounds,
    bit 2 mean-word-length bounds, bit 4 stopword floor, bit 8
    distinct-word floor. All ratios are exact integer `div` units so
    no float reaches the verdict.

    Plan: narrow per-row array expressions inside whole-stage codegen —
    zero shuffles, zero Python; the 10^12-doc shape is a pure map."""
    sig = gopher_signal_cols()
    return _docs(spark, sf_dir).select(
        "doc_id",
        sig["n_words"].alias("n_words"),
        sig["mean_len_x100"].alias("mean_len_x100"),
        sig["n_stopwords"].alias("n_stopwords"),
        sig["distinct_x100"].alias("distinct_x100"),
        sig["fail_bits"].alias("fail_bits"),
        (sig["fail_bits"] == 0).cast("int").alias("keep"),
    )


# DuckDB twins of gopher_signal_cols(), shared with the composed
# corpus_pipeline oracle (curation.py) — same no-drift contract as the
# Spark side.
GOPHER_SIG_SQL_COLS = f"""
         len(string_split(trim(text), ' ')) AS n_words,
         (length(replace(text, ' ', '')) * 100)
           // len(string_split(trim(text), ' ')) AS mean_len_x100,
         len(list_filter({list(GOPHER_STOP)!r},
             w -> list_contains(string_split(trim(text), ' '), w)))
           AS n_stopwords,
         (len(list_distinct(string_split(trim(text), ' '))) * 100)
           // len(string_split(trim(text), ' ')) AS distinct_x100
"""
GOPHER_BITS_SQL_EXPR = f"""
         CAST(n_words < {GOPHER_MIN_WORDS}
              OR n_words > {GOPHER_MAX_WORDS} AS int)
         + CAST(mean_len_x100 < {GOPHER_MEAN_LEN_X100[0]}
                OR mean_len_x100 > {GOPHER_MEAN_LEN_X100[1]} AS int) * 2
         + CAST(n_stopwords < {GOPHER_MIN_STOP} AS int) * 4
         + CAST(distinct_x100 < {GOPHER_MIN_DISTINCT_X100} AS int) * 8
"""

GOPHER_FILTER_SQL = f"""
WITH g AS (
  SELECT doc_id,
{GOPHER_SIG_SQL_COLS.rstrip()}
  FROM documents),
v AS (
  SELECT *,
{GOPHER_BITS_SQL_EXPR.rstrip()}
           AS fail_bits
  FROM g)
SELECT doc_id,
       CAST(n_words AS bigint) AS n_words,
       CAST(mean_len_x100 AS bigint) AS mean_len_x100,
       CAST(n_stopwords AS bigint) AS n_stopwords,
       CAST(distinct_x100 AS bigint) AS distinct_x100,
       CAST(fail_bits AS bigint) AS fail_bits,
       CAST(fail_bits = 0 AS int) AS keep
FROM v
ORDER BY doc_id
"""


def gopher_filter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='gopher_filter', k=doc_id, v=signals|bits|keep) suite row."""
    return gopher_filter(spark, sf_dir).select(
        F.lit("gopher_filter").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|",
            "n_words",
            "mean_len_x100",
            "n_stopwords",
            "distinct_x100",
            "fail_bits",
            "keep",
        ).alias("v"),
    )


# -- hashed linear quality classifier ----------------------------------------

# fastText-architecture stand-in (Joulin et al. 2016; the classifier
# CCNet/Dolma use for quality/language scoring): hashed token embedding
# -> sum pooling -> linear head. The weight of a token is derived from
# its md5 (the hashing trick), so the model is deterministic and the
# Spark job and the DuckDB twin agree bit-for-bit; a TRAINED weight
# table swaps in as a broadcast dimension join at the marked line. The
# lambda body is ONE shared snippet evaluated by both engines.
_HASH_WEIGHT_BODY = (
    "(instr('0123456789abcdef', substr(md5(t),1,1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr(md5(t),2,1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5(t),3,1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(t),4,1)) - 1) - 32768"
)

# Pooled-score expressions over `text`, shared with the composed
# corpus_pipeline funnel (curation.py) — identical snippet both engines.
QUALITY_SUM_SPARK_EXPR = (
    "aggregate(transform(split(trim(text), ' '), t -> "
    + _HASH_WEIGHT_BODY
    + "), 0L, (acc, x) -> acc + x)"
)
QUALITY_SUM_SQL_EXPR = (
    "CAST(list_sum(list_transform(string_split(trim(text), ' '), t -> "
    + _HASH_WEIGHT_BODY
    + ")) AS bigint)"
)


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, sum_w, label): per-token hashed weights summed
    JVM-side (transform + aggregate, whole-stage codegen — zero
    shuffles, zero Python), label = sign of the pooled score. Exact
    integers end-to-end; no float reaches the verdict."""
    # weight-table swap point: replace the md5 arithmetic with a
    # broadcast join against trained (token, weight) rows
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("size(split(trim(text), ' '))").cast("long").alias("n_tokens"),
        F.expr(QUALITY_SUM_SPARK_EXPR).alias("sum_w"),
    ).withColumn("label", (F.col("sum_w") > 0).cast("int"))


QUALITY_CLASSIFIER_SQL = (
    "SELECT doc_id,\n"
    "  CAST(len(string_split(trim(text), ' ')) AS bigint) AS n_tokens,\n"
    "  " + QUALITY_SUM_SQL_EXPR + " AS sum_w,\n"
    "  CAST(" + QUALITY_SUM_SQL_EXPR + " > 0 AS int) AS label\n"
    "FROM documents\n"
    "ORDER BY doc_id\n"
)


def quality_classifier_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='quality_classifier', k=doc_id, v=n|sum|label) suite row."""
    return quality_classifier(spark, sf_dir).select(
        F.lit("quality_classifier").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_tokens", "sum_w", "label").alias("v"),
    )


# -- training sequence packing ------------------------------------------------

PACK_BUDGET = 256     # tokens per training sequence (bin)
_PACK_SHARD = 1024    # doc_ids per prefix-sum shard


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in doc_id
    order into one token stream and cut it every PACK_BUDGET tokens;
    each document reports the bin its first token lands in and its
    offset inside that bin. (doc_id, n_tokens, bin, bin_offset).

    The global ordered cumsum is computed as a DISTRIBUTED two-phase
    prefix sum, never a single-task sort: (1) within-shard running sum
    (window over shard = doc_id div _PACK_SHARD — bounded partitions),
    (2) shard totals -> cumulative shard offsets (a window over
    #shards rows, thousands at 10^12 docs, driver-trivial),
    (3) broadcast the offsets back. The DuckDB twin is the plain
    `SUM() OVER (ORDER BY doc_id)` the two-phase plan must equal."""
    return pack_assignments(_docs(spark, sf_dir))


def pack_assignments(docs: DataFrame) -> DataFrame:
    """The packing core over any (doc_id, text) frame — shared by the
    seq_pack board op and `plans/curate.py`'s end-to-end job (which
    packs funnel SURVIVORS; doc_id gaps are fine — the shard key is
    doc_id div _PACK_SHARD, so sparsity only makes shards smaller)."""
    from pyspark.sql.window import Window

    docs = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n"),
        F.expr(f"doc_id div {_PACK_SHARD}").alias("shard"),
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = docs.withColumn("cum_in", F.sum("n").over(w_in))
    w_sh = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = (
        docs.groupBy("shard")
        .agg(F.sum("n").alias("tot"))
        .select(
            "shard",
            F.coalesce(F.sum("tot").over(w_sh), F.lit(0)).alias("base"),
        )
    )
    cum = within.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("base") + F.col("cum_in") - F.col("n")).alias("start"),
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.expr(f"start div {PACK_BUDGET}").alias("bin"),
        (F.col("start") % PACK_BUDGET).alias("bin_offset"),
    )


SEQ_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS bigint) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           - n_tokens AS start
  FROM t)
SELECT doc_id, n_tokens,
       CAST(start // {PACK_BUDGET} AS bigint) AS bin,
       CAST(start % {PACK_BUDGET} AS bigint) AS bin_offset
FROM c
ORDER BY doc_id
"""


def seq_pack_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='seq_pack', k=doc_id, v=n|bin|offset) suite row."""
    return seq_pack(spark, sf_dir).select(
        F.lit("seq_pack").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_tokens", "bin", "bin_offset").alias("v"),
    )


# -- deterministic global training shuffle -------------------------------------

SHUFFLE_SEED = 42


def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos): the reproducible corpus-wide training order —
    every epoch-shuffling data loader needs one, and it must be
    deterministic (resume mid-epoch, re-run bit-identical) and
    computable WITHOUT a single-task global sort.

    Order key = md5(seed ':' doc_id). Two-phase exact ranking (the
    seq_pack / crawl_schedule prefix-sum discipline): shard = first two
    hex chars of the key (256 fixed shards), row_number within shard
    ordered by (key, doc_id), then broadcast cumulative shard counts
    back as offsets. Because the shard IS a prefix of the order key,
    (shard, within-shard order) equals the global key order — the
    DuckDB twin is the plain ROW_NUMBER the two phases must reproduce.
    No window ever sees more than ~1/256 of the corpus; at 10^12 docs
    the offsets frame is 256 rows."""
    from pyspark.sql.window import Window

    keyed = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
            )
        ).alias("key"),
    ).withColumn("shard", F.substring("key", 1, 2))
    rn = F.row_number().over(
        Window.partitionBy("shard").orderBy("key", "doc_id")
    )
    within = keyed.withColumn("rn", rn)
    w_sh = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = (
        keyed.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("tot"))
        .select(
            "shard",
            F.coalesce(F.sum("tot").over(w_sh), F.lit(0)).alias("base"),
        )
    )
    return (
        within.join(F.broadcast(offsets), "shard")
        .select("doc_id", (F.col("base") + F.col("rn")).alias("pos"))
    )


GLOBAL_SHUFFLE_SQL = f"""
SELECT doc_id,
       CAST(row_number() OVER (
           ORDER BY md5('{SHUFFLE_SEED}:' || CAST(doc_id AS string)), doc_id
       ) AS bigint) AS pos
FROM documents
ORDER BY doc_id
"""


def global_shuffle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='global_shuffle', k=doc_id, v=pos) suite row."""
    return global_shuffle(spark, sf_dir).select(
        F.lit("global_shuffle").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("pos").cast("string").alias("v"),
    )


# -- CCNet-style LM bucketing --------------------------------------------------

LM_BUCKETS = 3  # head / middle / tail


def lm_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing with the corpus's own unigram LM as
    the model: score each document by the mean corpus-frequency of its
    tokens — common-token documents score high, rare-token soup scores
    low — then split the corpus into LM_BUCKETS quantile buckets
    (1 = head ... 3 = tail) by ntile over the deterministic
    (score DESC, doc_id) order. The score ships as the exact PAIR
    (freq_q = sum_freq div n, freq_frac = (sum_freq % n)*1e6 div n):
    scaling the raw sum by 1e6 first would overflow bigint at 10^12
    docs, where a common token's corpus frequency alone is ~10^13; the
    pair never exceeds max-corpus-frequency and 10^6·doc-length, and
    ordering by (q, frac) is ordering by the true ratio.

    Shape: token explode -> one groupBy(token) builds the LM; the LM is
    a VOCABULARY-sized table (bounded, not corpus-sized) so it
    broadcast-joins back into a second narrow pass; per-doc agg. The
    final ntile is a global window — at 10^12 docs it gives way to
    fixed thresholds from approx quantiles of the score (the bucketing
    CCNet actually ships); ntile keeps the sandbox oracle exact."""
    from pyspark.sql.window import Window

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("t")
    )
    lm = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        toks.join(F.broadcast(lm), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_freq"),
        )
        .withColumn("freq_q", F.expr("sum_freq div n_tokens"))
        .withColumn(
            "freq_frac",
            F.expr("((sum_freq % n_tokens) * 1000000) div n_tokens"),
        )
    )
    w = Window.orderBy(
        F.desc("freq_q"), F.desc("freq_frac"), F.asc("doc_id")
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "freq_q",
        "freq_frac",
        F.ntile(LM_BUCKETS).over(w).cast("long").alias("bucket"),
    )


LM_BUCKET_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS t
  FROM documents),
lm AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS bigint) AS n_tokens,
         CAST(sum(c) AS bigint) AS sum_freq
  FROM toks JOIN lm USING (t)
  GROUP BY doc_id)
SELECT doc_id, n_tokens,
       CAST(sum_freq // n_tokens AS bigint) AS freq_q,
       CAST(((sum_freq % n_tokens) * 1000000) // n_tokens AS bigint)
         AS freq_frac,
       CAST(ntile({LM_BUCKETS}) OVER (
         ORDER BY sum_freq // n_tokens DESC,
                  ((sum_freq % n_tokens) * 1000000) // n_tokens DESC,
                  doc_id
       ) AS bigint) AS bucket
FROM per_doc
ORDER BY doc_id
"""


def lm_bucket_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='lm_bucket', k=doc_id, v=n|q|frac|bucket) suite row."""
    return lm_bucket(spark, sf_dir).select(
        F.lit("lm_bucket").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_tokens", "freq_q", "freq_frac", "bucket").alias("v"),
    )


# -- BM25 top-k retrieval ------------------------------------------------------

BM25_TERMS = ("scan", "join", "vector")  # literal query, fixture vocab
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 10


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_TERMS,
    k: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson/Lucene positive-idf
    variant: idf = ln(1 + (N-df+0.5)/(df+0.5))) for a literal query
    term set over `documents`.

    Scale shape — the terms are LITERALS, so nothing ever explodes:
    per-doc tf for each term is `size(filter(toks, t -> t = term))`
    inside one codegen projection (zero shuffle), the corpus statistics
    (N, avgdl, per-term df) are ONE scalar aggregate broadcast back via
    a 1-row crossJoin, scoring is a second pure projection, and the
    top-k is TakeOrdered (per-partition heads, never a global sort).
    At 10^12 docs the only exchange is the scalar agg's 1-row
    all-reduce; a standing query system would precompute (N, avgdl, df)
    into the table's stats. Scores ship micro-rounded (x1e6 bigint) so
    no float formatting reaches the oracle compare; the float exprs are
    written in the exact same literal order on both engines."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    tf_cols = [
        F.expr(f"size(filter(toks, t -> t = '{t}'))").alias(f"tf{i}")
        for i, t in enumerate(terms)
    ]
    base = docs.select("doc_id", F.size("toks").alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.expr(
            f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        )
        tfn = F.expr(
            f"tf{i} * {BM25_K1 + 1} / (tf{i} + {BM25_K1} * "
            f"(1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        )
        score = score + idf * tfn
    return (
        scored.select(
            "doc_id",
            F.round(score * 1000000).cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
    )


def _bm25_sql(terms: tuple[str, ...] = BM25_TERMS, k: int = BM25_TOPK) -> str:
    tf = ", ".join(
        f"len(list_filter(string_split(trim(text), ' '), t -> t = '{t}'))"
        f" AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * "
        f"(tf{i} * {BM25_K1 + 1} / (tf{i} + {BM25_K1} * "
        f"(1 - {BM25_B} + {BM25_B} * dl / avgdl)))"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl, {tf}
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {dfs} FROM base
)
SELECT doc_id,
       CAST(round((0.0 + {score}) * 1000000) AS bigint) AS score_micro
FROM base CROSS JOIN stats
ORDER BY score_micro DESC, doc_id ASC
LIMIT {k}
"""


BM25_TOPK_SQL = _bm25_sql()


def bm25_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='bm25', k=doc_id, v=score_micro) suite row."""
    return bm25_topk(spark, sf_dir).select(
        F.lit("bm25").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("score_micro").cast("string").alias("v"),
    )


# -- inverted index construction --------------------------------------------------

POSTINGS_CAP = 8    # postings kept per term (lowest doc_ids)
_POSTINGS_SALTS = 4  # skew fan-out for the per-term min-K


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df, postings): the write path of retrieval — per term, the
    EXACT document frequency and the POSTINGS_CAP lowest doc_ids as a
    sorted postings sample (BM25's read-side statistics come from
    exactly this artifact).

    Scale shape — ONE corpus scan, ONE corpus-wide exchange:
    - (doc, term) pairs are deduplicated BEFORE any shuffle via
      array_distinct inside the doc (narrow), so the explode emits each
      posting exactly once and df is a plain count of rows.
    - the salted (term, salt) window ranks postings AND carries the
      group size as a window column on the same partitioning; summing
      each salt's leader row reconstructs df exactly with no second
      pass (a separate groupBy(term) over the exploded frame would
      re-scan the corpus on an incompatible partitioning).
    - a stopword posting list is 10^11 entries at corpus scale, so it
      never crosses one buffer or window task: the rank filter keeps
      min-K per (term, salt) and the final per-term agg sees at most
      SALTS*K rows — the in-agg sort+slice is bounded, and the union
      of per-salt min-Ks provably contains the global min-K."""
    from pyspark.sql.window import Window

    df_docs = _docs(spark, sf_dir)
    base = df_docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("term"),
    ).where(F.col("term") != "")
    salt = F.pmod(F.crc32(F.concat_ws("/", "term", "doc_id")),
                  F.lit(_POSTINGS_SALTS))
    w1 = Window.partitionBy("term", "salt").orderBy("doc_id")
    w1p = Window.partitionBy("term", "salt")
    # the per-(term, salt) group size rides as a WINDOW COLUMN on the
    # same partitioning as the rank — df then needs no second pass over
    # the corpus (summing each salt's leader row reconstructs it
    # exactly), so the whole operator is ONE scan + ONE (term, salt)
    # exchange + ONE bounded groupBy
    ranked = base.withColumn("salt", salt).select(
        "*",
        F.row_number().over(w1).alias("r1"),
        F.count(F.lit(1)).over(w1p).alias("n_ts"),
    )
    cand = ranked.filter(F.col("r1") <= POSTINGS_CAP)
    # <= SALTS*CAP rows per term reach the agg: the in-agg sort+slice
    # is bounded, and the per-salt min-K union provably contains the
    # global min-K
    return cand.groupBy("term").agg(
        F.sum(F.when(F.col("r1") == 1, F.col("n_ts")))
        .cast("long")
        .alias("df"),
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")),
                    1,
                    POSTINGS_CAP,
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def inverted_index_rows(
    spark: SparkSession, sf_dir: str, idx: DataFrame | None = None
) -> DataFrame:
    """(op='inverted_index', k=term, v=df|postings) suite row. `idx`
    lets the suite share one checkpointed index build with the
    postings_vb branch (see suite_input_builders)."""
    if idx is None:
        idx = inverted_index(spark, sf_dir)
    return idx.select(
        F.lit("inverted_index").alias("op"),
        F.col("term").alias("k"),
        F.concat_ws("|", "df", "postings").alias("v"),
    )


def postings_vb_rows(
    spark: SparkSession, sf_dir: str, idx: DataFrame | None = None
) -> DataFrame:
    """(op='postings_vb', k=term, v=df|n_bytes|n_postings): the
    posting lists delta-varint compressed (kernels/varint.py — the
    Lucene VInt storage shape). Every list is REALLY encoded and
    re-decoded in-runner (media-codec discipline: byte-level
    correctness asserted where the bytes exist); the gate surfaces the
    compressed size, which the DuckDB twin pins with the closed-form
    LEB128 length formula over the gap sequence. At 10^12 docs this is
    the difference between 8 bytes/posting and ~1 for hot terms —
    storage-layer scaling, not an algorithmic nicety."""
    import pandas as _pd

    if idx is None:
        idx = inverted_index(spark, sf_dir)

    def run(batches):
        from paddleocr_spark.kernels.varint import (
            decode_postings,
            encode_postings,
        )

        for pdf in batches:
            ks, vs = [], []
            for term, df_, postings in zip(
                pdf["term"], pdf["df"], pdf["postings"]
            ):
                ids = (
                    [int(x) for x in postings.split(",")]
                    if postings
                    else []
                )
                blob = encode_postings(ids)
                if decode_postings(blob) != ids:
                    raise ValueError(
                        f"varint roundtrip mismatch: {term}"
                    )
                ks.append(term)
                vs.append(f"{df_}|{len(blob)}|{len(ids)}")
            yield _pd.DataFrame({"k": ks, "v": vs})

    return idx.mapInPandas(run, schema="k string, v string").select(
        F.lit("postings_vb").alias("op"), "k", "v"
    )


# textbook single-pass twin: the salted two-phase postings sample must
# be indistinguishable from list_sort(list(...))[1:CAP]
INVERTED_INDEX_SQL = f"""
SELECT term, CAST(count(*) AS bigint) AS df,
       array_to_string(list_sort(list(doc_id))[1:{POSTINGS_CAP}], ',')
         AS postings
FROM (
  SELECT doc_id,
         UNNEST(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
           AS term
  FROM documents)
WHERE term != ''
GROUP BY term
ORDER BY term
"""


# size twin of the runner's real encoding: LEB128 length per gap
POSTINGS_VB_SQL = f"""
SELECT 'postings_vb' AS op, term AS k,
       CAST(df AS varchar) || '|' || CAST(nbytes AS varchar) || '|'
         || CAST(len(l) AS varchar) AS v
FROM (
  SELECT term, df, l,
         coalesce(list_sum(list_transform(
           list_transform(generate_series(1, len(l)),
             i -> CASE WHEN i = 1 THEN l[1] ELSE l[i] - l[i-1] END),
           g -> 1 + CAST(g >= 128 AS int) + CAST(g >= 16384 AS int)
                  + CAST(g >= 2097152 AS int)
                  + CAST(g >= 268435456 AS int))), 0) AS nbytes
  FROM (
    SELECT term, CAST(count(*) AS bigint) AS df,
           list_sort(list(doc_id))[1:{POSTINGS_CAP}] AS l
    FROM (
      SELECT doc_id,
             UNNEST(list_distinct(regexp_split_to_array(trim(text),
                                                        '\\s+')))
               AS term
      FROM documents)
    WHERE term != ''
    GROUP BY term))
ORDER BY k
"""


# -- TF-IDF keyword extraction --------------------------------------------------

KEYWORDS_TOPN = 3


def tfidf_keywords(
    spark: SparkSession, sf_dir: str, topn: int = KEYWORDS_TOPN
) -> DataFrame:
    """Top-n characteristic terms per document by tf-idf
    (idf = ln(N/df), the classic smooth-free Salton form; ties break to
    the lexicographically smaller term so the answer is total-ordered).

    Scale shape: token explode -> ONE (doc_id, term) tf groupBy
    (map-side combine) -> term df groupBy of the tf frame (second
    combine, input already one row per (doc,term)) -> equi-join tf
    back to df on term -> per-doc window top-n. The window partitions
    by doc_id — bounded by per-doc vocabulary, never a corpus-wide hot
    key. The df frame is vocabulary-sized; at web scale it stays a
    shuffle join on term (Zipf head terms are single df ROWS, not row
    groups, so no skew), or swaps to a broadcast once the vocabulary is
    capped. Scores ship micro-rounded."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.expr("tf * ln(n_docs / df)") * 1000000
            ).cast("long").alias("tfidf_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topn)
        .select("doc_id", F.col("rn").cast("long").alias("rn"),
                "term", "tfidf_micro")
        .orderBy("doc_id", "rn")
    )


TFIDF_KEYWORDS_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
n AS (SELECT count(*) AS n_docs FROM docs),
tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM docs, UNNEST(toks) AS t(term)
  GROUP BY doc_id, t.term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * ln(n.n_docs / df.df) * 1000000) AS bigint)
           AS tfidf_micro
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf_micro,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_micro DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, CAST(rn AS bigint) AS rn, term, tfidf_micro
FROM ranked WHERE rn <= {KEYWORDS_TOPN}
ORDER BY doc_id, rn
"""


def tfidf_keywords_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='keywords', k=doc_id|rn, v=term|score) suite row."""
    return tfidf_keywords(spark, sf_dir).select(
        F.lit("keywords").alias("op"),
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), F.col("rn").cast("string")
        ).alias("k"),
        F.concat_ws("|", "term", F.col("tfidf_micro").cast("string")).alias("v"),
    )


# -- NFC unicode normalization ---------------------------------------------------

# doc_id % 3: 0 appends a DECOMPOSED accent (e + U+0301), 1 appends the
# precomposed form (U+00E9), 2 untouched ASCII. One portable SQL
# expression evaluated by BOTH engines (the pii.py injection
# discipline) so the job and the oracle see byte-identical inputs.
NFC_INJECT_EXPR = (
    "CASE doc_id % 3 "
    "WHEN 0 THEN text || ' café menu' "
    "WHEN 1 THEN text || ' café menu' "
    "ELSE text END"
)


def nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (the Dolma/CCNet 'fix unicode' pass:
    visually-identical byte sequences — decomposed vs precomposed
    accents — must collapse to ONE form before any hash-based dedup,
    or 'café' != 'café' silently splits duplicate groups).

    Spark has no NFC builtin, so this is the sanctioned Python
    exception: an Arrow-batched mapInPandas running unicodedata.NFC —
    a pure narrow map (zero shuffles) riding the scan partitioning.
    The oracle twin is DuckDB's utf8proc `nfc_normalize`; both
    implement the same Unicode standard. Output ships (changed flag,
    md5 of the normalized text) so the value compare is byte-level
    without carrying the corpus through the board."""
    import hashlib
    import unicodedata

    import pandas as pd

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{NFC_INJECT_EXPR} AS injected"
    )

    def run(batches):
        for pdf in batches:
            ids, changed, digests = [], [], []
            for d, t in zip(pdf["doc_id"], pdf["injected"]):
                norm = unicodedata.normalize("NFC", t)
                ids.append(d)
                changed.append(int(norm != t))
                digests.append(hashlib.md5(norm.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "changed": changed, "norm_md5": digests}
            )

    return docs.mapInPandas(
        run, schema="doc_id long, changed int, norm_md5 string"
    ).orderBy("doc_id")


NFC_NORMALIZE_SQL = f"""
SELECT doc_id,
       CAST(nfc_normalize(injected) != injected AS int) AS changed,
       md5(nfc_normalize(injected)) AS norm_md5
FROM (SELECT doc_id, {NFC_INJECT_EXPR} AS injected FROM documents)
ORDER BY doc_id
"""


def nfc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='nfc', k=doc_id, v=changed|norm_md5) suite row."""
    return nfc_normalize(spark, sf_dir).select(
        F.lit("nfc").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "changed", "norm_md5").alias("v"),
    )


# -- corpus mix report -----------------------------------------------------------

def mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, host) corpus composition: doc count, whitespace-token
    count, and each cell's micro-share of corpus documents — the table
    a training run reads to set sampling/mixing weights (the Dolma /
    CCNet 'data mixes' step). One map-side-combined groupBy plus a
    1-row total broadcast back; group count is bounded by
    langs x hosts, so the report is always broadcast-sized."""
    df = _docs(spark, sf_dir).select(
        "lang",
        F.concat(F.lower(F.col("source")), F.lit(".example.test")).alias(
            "host"
        ),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_toks"),
    )
    cells = df.groupBy("lang", "host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    total = df.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "host",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("n_docs") * 1000000 / F.col("total_docs"))
            .cast("long")
            .alias("share_micro"),
        )
        .orderBy("lang", "host")
    )


MIX_REPORT_SQL = """
WITH df AS (
  SELECT lang, lower(source) || '.example.test' AS host,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks
  FROM documents
),
cells AS (
  SELECT lang, host, count(*) AS n_docs, sum(n_toks) AS n_tokens
  FROM df GROUP BY lang, host
),
total AS (SELECT count(*) AS total_docs FROM df)
SELECT lang, host,
       CAST(n_docs AS bigint) AS n_docs,
       CAST(n_tokens AS bigint) AS n_tokens,
       CAST(round(n_docs * 1000000 / total_docs) AS bigint) AS share_micro
FROM cells CROSS JOIN total
ORDER BY lang, host
"""


def mix_report_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='mix_report', k=lang|host, v=n_docs|n_tokens|share) row."""
    return mix_report(spark, sf_dir).select(
        F.lit("mix_report").alias("op"),
        F.concat_ws("|", "lang", "host").alias("k"),
        F.concat_ws("|", "n_docs", "n_tokens", "share_micro").alias("v"),
    )


# -- deterministic mix resampling --------------------------------------------------

# target language proportions (percent) and the fraction of the corpus
# the resampled training set keeps — literal stand-ins for a run config
MIX_TARGETS = (("en", 30), ("de", 20), ("fr", 20), ("es", 20), ("zh", 10))
MIX_BUDGET_FRAC = 0.5
_MIX_SALTS = 8


def mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step after `mix_report`: deterministically resample
    the corpus to target per-language proportions (Dolma/CCNet mixing —
    a fixed doc budget B = total*MIX_BUDGET_FRAC, each language keeps
    its top round(B * target_pct/100) documents in md5-hash order, so
    the sample is reproducible run-to-run and languages over target
    share are down-sampled while scarce ones keep everything they have).

    Exact per-lang top-K without a hot-key sort — the same salted
    two-phase shape as host_quota_sample, except K varies per language,
    so the quota rides a broadcast dimension frame instead of a
    constant: phase 1 ranks within (lang, salt) and keeps <= n_keep per
    salt, phase 2 re-ranks the <= SALTS*n_keep survivors per lang. A
    40%-of-corpus language never serializes through one sort task."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    total = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    quota = (
        spark.createDataFrame(list(MIX_TARGETS), "lang string, pct int")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.round(
                F.col("total_docs") * MIX_BUDGET_FRAC * F.col("pct") / 100.0
            ).cast("long").alias("n_keep"),
        )
    )
    key = F.md5(
        F.concat_ws("/", F.col("doc_id").cast("string"), F.col("lang"))
    )
    base = docs.select("doc_id", "lang", key.alias("skey")).join(
        F.broadcast(quota), "lang"
    )
    salt = F.pmod(F.crc32(F.col("skey")), F.lit(_MIX_SALTS))
    w1 = Window.partitionBy("lang", "salt").orderBy("skey", "doc_id")
    cand = (
        base.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= F.col("n_keep"))
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= F.col("n_keep"))
        .select("doc_id", "lang", F.col("rank").cast("long").alias("rank"))
        .orderBy("doc_id")
    )


_MIX_VALUES = ", ".join(f"('{l}', {p})" for l, p in MIX_TARGETS)

# The twin is the textbook single window; the salted two-phase plan must
# be indistinguishable from it.
MIX_RESAMPLE_SQL = f"""
WITH total AS (SELECT count(*) AS total_docs FROM documents),
quota AS (
  SELECT lang,
         CAST(round(total_docs * {MIX_BUDGET_FRAC} * pct / 100.0) AS bigint)
           AS n_keep
  FROM (VALUES {_MIX_VALUES}) q(lang, pct) CROSS JOIN total
),
ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS string) || '/' || lang), doc_id
         ) AS bigint) AS rank
  FROM documents
)
SELECT doc_id, ranked.lang AS lang, rank
FROM ranked JOIN quota ON ranked.lang = quota.lang
WHERE rank <= n_keep
ORDER BY doc_id
"""


def mix_resample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='mix_sample', k=doc_id, v=lang|rank) suite row."""
    return mix_resample(spark, sf_dir).select(
        F.lit("mix_sample").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "lang", "rank").alias("v"),
    )


# -- OLAP rollup report ------------------------------------------------------------

def olap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition with SUBTOTALS: (lang, source) counts plus
    per-lang and grand-total rows in ONE pass — `ROLLUP`, the OLAP
    operator a reporting layer wants instead of three separate
    aggregations (Catalyst expands the grouping sets into a single
    expand + one shuffle; three queries would scan three times).
    grouping bits disambiguate a real NULL from a subtotal row."""
    docs = _docs(spark, sf_dir)
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
            # grouping() must sit INSIDE the agg (same Aggregate node)
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "sum_chars",
            "g_lang",
            "g_source",
        )
        .orderBy("lang", "source")
    )


def olap_rollup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='olap_rollup', k=lang|source, v=n|chars|gl|gs) suite row."""
    return olap_rollup(spark, sf_dir).select(
        F.lit("olap_rollup").alias("op"),
        F.concat_ws("|", "lang", "source").alias("k"),
        F.concat_ws(
            "|", "n_docs", "sum_chars", "g_lang", "g_source"
        ).alias("v"),
    )


OLAP_ROLLUP_SQL = """
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       CAST(count(*) AS bigint) AS n_docs,
       CAST(sum(length(text)) AS bigint) AS sum_chars,
       CAST(GROUPING(lang) AS int) AS g_lang,
       CAST(GROUPING(source) AS int) AS g_source
FROM documents
GROUP BY ROLLUP(lang, source)
ORDER BY lang, source
"""


# -- fixed-window training chunks -------------------------------------------------

CHUNK_W = 32  # tokens per chunk (context window)
CHUNK_S = 24  # stride (CHUNK_W - CHUNK_S = 8 tokens of overlap)


def chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window token chunking with overlap — the step that turns
    variable-length documents into training examples for a fixed
    context length (the sliding-window split every LM data pipeline
    runs after tokenization; GPT-2/The Pile style stride-S windows).

    Chunk i covers tokens [i*S, i*S + W); a doc with 0 < n <= W tokens
    is one chunk, else ceil((n - W) / S) + 1 chunks so the last window
    always reaches the final token. An EMPTY (or whitespace-only) doc
    yields ZERO chunks — split('') returns [''] and a phantom 1-token
    empty training example would silently inflate example counts, so
    empty tokens are filtered before counting (the word_counts /
    inverted_index discipline). Entirely JVM: split -> sequence ->
    explode -> slice — a narrow 1-doc -> N-chunk flatMap with ZERO
    shuffles (contrast seq_pack, which needs the global prefix sum;
    chunking is embarrassingly parallel). Ships (start, len, md5 of the
    chunk text) so the compare is byte-level without carrying the
    corpus through the board.
    """
    df = _docs(spark, sf_dir)
    toks_sql = "filter(split(trim(text), '\\\\s+'), x -> x != '')"
    toks = F.expr(toks_sql)
    n = F.size(toks)
    nc = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.expr(f"(size({toks_sql}) - {CHUNK_W} + {CHUNK_S - 1})"
               f" div {CHUNK_S}")
        + 1
    )
    out = df.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            F.when(
                n > 0, F.sequence(F.lit(0), nc.cast("int") - 1)
            ).otherwise(F.expr("array()").cast("array<int>"))
        ).alias("i"),
    )
    chunk = F.slice("toks", F.col("i") * CHUNK_S + 1, CHUNK_W)
    return out.select(
        "doc_id",
        "i",
        (F.col("i") * CHUNK_S).alias("start"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "i")


# DuckDB twin: same integer arithmetic (`//` = Spark's `div`), 1-based
# inclusive list slicing vs Spark's (start, length) slice; empty docs
# emit no rows (generate_series(0,-1) is empty in DuckDB).
CHUNK_SPLIT_SQL = f"""
WITH t AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents)),
c AS (
  SELECT doc_id, toks,
         UNNEST(generate_series(0,
           CASE WHEN n = 0 THEN -1
                WHEN n <= {CHUNK_W} THEN 0
                ELSE (n - {CHUNK_W} + {CHUNK_S - 1}) // {CHUNK_S} END)) AS i
  FROM t)
SELECT doc_id, CAST(i AS int) AS i,
       CAST(i * {CHUNK_S} AS int) AS start,
       CAST(len(toks[i * {CHUNK_S} + 1 : i * {CHUNK_S} + {CHUNK_W}]) AS int)
         AS n_tokens,
       md5(array_to_string(toks[i * {CHUNK_S} + 1 : i * {CHUNK_S} + {CHUNK_W}],
                           ' ')) AS chunk_md5
FROM c
ORDER BY doc_id, i
"""


def chunk_split_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='chunk_split', k=doc_id|i, v=start|n_tokens|md5) suite row."""
    return chunk_split(spark, sf_dir).select(
        F.lit("chunk_split").alias("op"),
        F.concat_ws("|", "doc_id", "i").alias("k"),
        F.concat_ws("|", "start", "n_tokens", "chunk_md5").alias("v"),
    )


def text_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_counts + quality_scores + lang_marker_counts +
    doc_fingerprints as ONE union-tagged gate query (op, k, v) — the
    driver board caps at 50 rows, so the four cheap per-doc analytics
    share a row; any branch mismatch fails the suite. Ratios ship as
    micro-units (bigint) so no float ever reaches the string compare.
    The standalone builders above remain the public API.

    Inputs that several branches read (the HTML pages, the link walk,
    the LSH pairs, the PSL domains, the inverted index and the host
    graph) are built ONCE, eagerly checkpointed, from
    `suite_input_builders` — without that each union branch would
    re-synthesize and re-parse its input (localCheckpoint, not
    persist: the caller owns the returned plan)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    shared: dict = {}
    for name, build in suite_input_builders(spark, sf_dir):
        shared[name] = build(shared)
    builders = suite_branch_builders(spark, sf_dir, **shared)

    # Branch builders run on a thread pool: about two thirds of the
    # suite's wall time is CONSTRUCTION, not execution — eager
    # localCheckpoints, broadcast-side collects (bm25 scalar stats,
    # decontaminate grams, Bloom bits), and bounded redirect rounds
    # each submit small driver-blocking jobs. The link-analysis
    # branches only checkpoint their normalized edges over the shared
    # host graph (PageRank also counts dangling hosts); their power
    # steps (one groupBy shuffle plus one broadcast per round, no join
    # back onto the nodes) run in the union's action.
    # Built serially those jobs leave the cluster mostly idle between
    # stages (measured 22.9 s build + 12.2 s execute at sf0.1);
    # concurrent submission from threads is the standard Spark
    # scheduler pattern for exactly this shape and needs no FAIR pool.
    # The union ORDER stays the literal list order (pool.map preserves
    # it), so the plan — and the oracle hash — are byte-identical to
    # the serial build. inheritable_thread_target hands each builder
    # thread the caller's local properties and tags, so a caller's job
    # group also holds the build-time jobs.
    with ThreadPoolExecutor(max_workers=8) as pool:
        frames = list(pool.map(
            inheritable_thread_target(spark)(lambda b: b[1]()), builders
        ))
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out


def suite_input_builders(spark, sf_dir):
    """The suite's shared inputs: ordered (name, build) pairs, where
    `build(shared)` makes one input from the dict of those built before
    it. Every name is a `suite_branch_builders` argument.
    text_stats_suite, bench.py and tools/profile_suite.py all build
    from this one list."""
    from paddleocr_spark.functions.dedup import minhash_lsh_pairs
    from paddleocr_spark.functions.psl import psl_domains
    from paddleocr_spark.functions.webgraph import host_graph
    from paddleocr_spark.operators.html_extract import html_links
    from paddleocr_spark.sources.pages import html_pages_from_documents

    return [
        # one HTML synthesis feeds every DOM walk, the link walk too
        ("pages", lambda s: html_pages_from_documents(
            spark, sf_dir).localCheckpoint()),
        # three link branches re-read the walk
        ("links", lambda s: html_links(
            spark, sf_dir, pages=s["pages"]).localCheckpoint()),
        # dedup_keep_best's clustering and lsh_eval's precision side
        ("pairs", lambda s: minhash_lsh_pairs(
            spark, sf_dir).localCheckpoint()),
        # the registrable-domain join feeds psl and split
        ("psl", lambda s: psl_domains(spark, sf_dir).localCheckpoint()),
        # the salted window shuffle feeds inverted_index and postings_vb
        ("idx", lambda s: inverted_index(
            spark, sf_dir).localCheckpoint()),
        # the host census feeds host_pagerank, trustrank and hits
        ("graph", lambda s: host_graph(spark, sf_dir)),
    ]


def suite_branch_builders(
    spark, sf_dir, pages, links, pairs, psl, idx, graph
):
    """The suite's branch registry: ordered (name, thunk) pairs, one
    per (op, k, v) branch, over the shared inputs of
    `suite_input_builders`. text_stats_suite unions them in this
    literal order; bench.py and tools/profile_suite.py time the SAME
    list — a hand-copied second list drifted within one session, so
    this is the single source of truth."""
    df = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
    # counts are int32; widen BEFORE the *1e6 scaling or a doc with
    # >=2148 punctuation chars overflows under ANSI mode
    micro_punct = F.round(
        punct.cast("long") * 1000000 / F.greatest(F.length("text"), F.lit(1))
    ).cast("long")
    micro_stop = F.round(
        stop_hits.cast("long") * 1000000 / F.greatest(F.size(toks), F.lit(1))
    ).cast("long")

    def _tc():
        return token_counts(spark, sf_dir).select(
            F.lit("token_counts").alias("op"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws(
                "|", "ws_tokens", "bpe_proxy_tokens", "char_len"
            ).alias("v"),
        )

    def _qs():
        return df.select(
            F.lit("quality_scores").alias("op"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws(
                "|",
                micro_punct,
                micro_stop,
                (F.length("text") >= 200).cast("int"),
            ).alias("v"),
        )

    def _lm():
        return lang_marker_counts(spark, sf_dir).select(
            F.lit("lang_markers").alias("op"),
            F.col("lang").alias("k"),
            F.concat_ws(
                "|", "n_docs", "en_marker_docs", "cjk_docs"
            ).alias("v"),
        )

    def _fp():
        return doc_fingerprints(spark, sf_dir).select(
            F.lit("fingerprints").alias("op"),
            F.col("doc_id").cast("string").alias("k"),
            F.col("fingerprint").alias("v"),
        )

    def _rep():
        return repetition_stats(spark, sf_dir).select(
            F.lit("repetition").alias("op"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws("|", "micro_top_word", "micro_top_bigram").alias("v"),
        )

    return [
        ("token_counts", _tc),
        ("quality_scores", _qs),
        ("lang_markers", _lm),
        ("fingerprints", _fp),
        ("repetition", _rep),
        ("url_canon", lambda: url_canon_rows(spark, sf_dir)),
        ("host_rollup", lambda: host_rollup_rows(spark, sf_dir)),
        ("latest_capture", lambda: latest_capture_rows(spark, sf_dir)),
        ("robots_filter", lambda: robots_filter_rows(spark, sf_dir)),
        ("host_pagerank", lambda: host_pagerank_rows(graph)),
        ("boilerplate", lambda: boilerplate_gram_rows(spark, sf_dir)),
        ("doc_links", lambda: doc_links_rows(spark, sf_dir, links=links)),
        ("anchor_text",
         lambda: anchor_text_rows(spark, sf_dir, links=links)),
        ("substring_dedup", lambda: substring_dedup_rows(spark, sf_dir)),
        ("cdc_chunks", lambda: cdc_chunk_rows(spark, sf_dir)),
        ("cdc_dup", lambda: cdc_dup_rows(spark, sf_dir)),
        ("decontaminate", lambda: decontaminate_rows(spark, sf_dir)),
        ("pii_redact", lambda: pii_redact_rows(spark, sf_dir)),
        ("host_sample", lambda: host_sample_rows(spark, sf_dir)),
        ("gopher_filter", lambda: gopher_filter_rows(spark, sf_dir)),
        ("quality_classifier",
         lambda: quality_classifier_rows(spark, sf_dir)),
        ("seq_pack", lambda: seq_pack_rows(spark, sf_dir)),
        ("lm_bucket", lambda: lm_bucket_rows(spark, sf_dir)),
        ("crawl_frontier",
         lambda: crawl_frontier_rows(spark, sf_dir, links=links)),
        ("paragraph_dedup", lambda: paragraph_dedup_rows(spark, sf_dir)),
        ("url_filter", lambda: url_filter_rows(spark, sf_dir)),
        ("html_meta",
         lambda: html_metadata_rows(spark, sf_dir, pages=pages)),
        ("wat", lambda: wat_rows(spark, sf_dir, pages=pages)),
        ("homograph", lambda: homograph_rows(spark, sf_dir)),
        ("puny", lambda: puny_rows(spark, sf_dir)),
        ("meta_refresh", lambda: meta_refresh_rows(spark, sf_dir)),
        ("soft404", lambda: soft404_rows(spark, sf_dir)),
        ("crawl_budget", lambda: crawl_budget_rows(spark, sf_dir)),
        ("bm25", lambda: bm25_rows(spark, sf_dir)),
        ("tfidf_keywords", lambda: tfidf_keywords_rows(spark, sf_dir)),
        ("nfc", lambda: nfc_rows(spark, sf_dir)),
        ("mix_report", lambda: mix_report_rows(spark, sf_dir)),
        ("mix_resample", lambda: mix_resample_rows(spark, sf_dir)),
        ("charset_decode",
         lambda: charset_decode_rows(spark, sf_dir, pages=pages)),
        ("html_tables",
         lambda: html_tables_rows(spark, sf_dir, pages=pages)),
        ("chunk_split", lambda: chunk_split_rows(spark, sf_dir)),
        ("redirects", lambda: redirect_rows(spark, sf_dir)),
        ("crawl_schedule", lambda: crawl_schedule_rows(spark, sf_dir)),
        ("sitemap", lambda: sitemap_rows(spark, sf_dir)),
        ("inverted_index",
         lambda: inverted_index_rows(spark, sf_dir, idx=idx)),
        ("postings_vb",
         lambda: postings_vb_rows(spark, sf_dir, idx=idx)),
        ("capture_diff", lambda: capture_diff_rows(spark, sf_dir)),
        ("robots_rfc", lambda: robots_rfc_rows(spark, sf_dir)),
        ("olap_rollup", lambda: olap_rollup_rows(spark, sf_dir)),
        ("hll_distinct", lambda: hll_distinct_rows(spark, sf_dir)),
        ("cm_heavy_hitters",
         lambda: cm_heavy_hitters_rows(spark, sf_dir)),
        ("structured_data",
         lambda: structured_data_rows(spark, sf_dir, pages=pages)),
        ("dsir", lambda: dsir_rows(spark, sf_dir)),
        ("langid", lambda: langid_rows(spark, sf_dir)),
        ("feed", lambda: feed_rows(spark, sf_dir)),
        ("code_blocks",
         lambda: code_blocks_rows(spark, sf_dir, pages=pages)),
        ("psl", lambda: psl_rows(spark, sf_dir, domains=psl)),
        ("mojibake", lambda: mojibake_rows(spark, sf_dir)),
        ("c4_lines", lambda: c4_lines_rows(spark, sf_dir)),
        ("dehyphenate", lambda: dehyphenate_rows(spark, sf_dir)),
        ("badwords", lambda: badwords_rows(spark, sf_dir)),
        ("sentence_split", lambda: sentence_split_rows(spark, sf_dir)),
        ("global_shuffle", lambda: global_shuffle_rows(spark, sf_dir)),
        ("html_markdown", lambda: html_markdown_rows(spark, sf_dir)),
        ("readability", lambda: readability_rows(spark, sf_dir)),
        ("quantiles", lambda: corpus_quantiles(spark, sf_dir)),
        ("script_profile", lambda: script_profile_rows(spark, sf_dir)),
        ("host_reputation", lambda: host_reputation_rows(spark, sf_dir)),
        ("url_params", lambda: url_params_rows(spark, sf_dir)),
        ("pagination", lambda: pagination_rows(spark, sf_dir)),
        ("dom_template",
         lambda: dom_template_rows(spark, sf_dir, pages=pages)),
        ("hreflang", lambda: hreflang_rows(spark, sf_dir)),
        ("html_spans",
         lambda: html_spans_rows(spark, sf_dir, pages=pages)),
        ("gopher_repetition",
         lambda: gopher_repetition_rows(spark, sf_dir)),
        ("pub_date",
         lambda: pub_date_rows(spark, sf_dir, pages=pages)),
        ("img_pairs",
         lambda: img_pairs_rows(spark, sf_dir, pages=pages)),
        ("dedup_keep_best",
         lambda: dedup_keep_best_rows(spark, sf_dir, pairs=pairs)),
        ("lm_ppl", lambda: lm_ppl_rows(spark, sf_dir)),
        ("lsh_eval", lambda: lsh_eval_rows(spark, sf_dir, pairs=pairs)),
        ("lingstats", lambda: lingstats_rows(spark, sf_dir)),
        ("winnow", lambda: winnow_rows(spark, sf_dir)),
        ("meta_robots",
         lambda: robots_meta_rows(spark, sf_dir, pages=pages)),
        # one fused DOM pass emits BOTH the 'justext' paragraph board
        # and the 'extract_eval' quality rows (operators/justext.py)
        ("justext",
         lambda: justext_suite_rows(spark, sf_dir, pages=pages)),
        ("split",
         lambda: split_rows(spark, sf_dir, pairs=pairs, domains=psl)),
        ("url_resolve", lambda: url_resolve_rows(spark, sf_dir)),
        ("trustrank", lambda: trustrank_rows(graph)),
        ("hits", lambda: hits_rows(graph)),
        ("ac_scan", lambda: ac_scan_rows(spark, sf_dir)),
        ("rag_chunk",
         lambda: rag_chunk_rows(spark, sf_dir, pages=pages)),
        ("clf_eval", lambda: clf_eval_rows(spark, sf_dir)),
        ("clf_train", lambda: clf_train_rows(spark, sf_dir)),
        ("drift", lambda: drift_rows(spark, sf_dir)),
        ("winnow_pairs", lambda: winnow_pairs_rows(spark, sf_dir)),
        ("allpairs", lambda: allpairs_rows(spark, sf_dir)),
    ]


def _sub(sql: str) -> str:
    """Embed a standalone oracle constant as a subquery (strip the
    trailing presentation ORDER BY). The suite SQL is COMPOSED from the
    per-operator constants wherever the Spark suite composes the
    builders, so each operator's oracle lives in one place."""
    return "(" + re.sub(r"\s+ORDER BY [\w, ]+\s*$", "", sql.strip()) + ")"


from paddleocr_spark.functions.dedup import (  # noqa: E402
    DECONTAMINATE_SQL as _DECONTAMINATE_SQL,
    DEDUP_KEEP_BEST_SQL as _DEDUP_KEEP_BEST_SQL,
    EXACT_SUBSTRING_SQL as _EXACT_SUBSTRING_SQL,
    LSH_EVAL_SQL as _LSH_EVAL_SQL,
    CDC_DUP_SQL as _CDC_DUP_SQL,
    CDC_ROWS_SQL as _CDC_ROWS_SQL,
    PARAGRAPH_DEDUP_SQL as _PARAGRAPH_DEDUP_SQL,
    cdc_chunk_rows,
    cdc_dup_rows,
    decontaminate_rows,
    dedup_keep_best_rows,
    lsh_eval_rows,
    paragraph_dedup_rows,
    substring_dedup_rows,
)
from paddleocr_spark.functions.webgraph import (  # noqa: E402
    HITS_SQL as _HITS_SQL,
    HOST_PAGERANK_SQL as _HOST_PAGERANK_SQL,
    TRUSTRANK_SQL as _TRUSTRANK_SQL,
    hits_rows,
    host_pagerank_rows,
    trustrank_rows,
)
from paddleocr_spark.operators.html_extract import (  # noqa: E402
    ANCHOR_TEXT_SQL as _ANCHOR_TEXT_SQL,
    CHARSET_DECODE_SQL as _CHARSET_DECODE_SQL,
    CODE_BLOCKS_SQL as _CODE_BLOCKS_SQL,
    CRAWL_FRONTIER_SQL as _CRAWL_FRONTIER_SQL,
    DOC_LINKS_SQL as _DOC_LINKS_SQL,
    HTML_META_SQL as _HTML_META_SQL,
    HTML_TABLES_SQL as _HTML_TABLES_SQL,
    IMG_PAIRS_SQL as _IMG_PAIRS_SQL,
    META_ROBOTS_SQL as _META_ROBOTS_SQL,
    PUB_DATE_SQL as _PUB_DATE_SQL,
    STRUCTURED_DATA_SQL as _STRUCTURED_DATA_SQL,
    anchor_text_rows,
    charset_decode_rows,
    code_blocks_rows,
    crawl_frontier_rows,
    doc_links_rows,
    html_metadata_rows,
    html_tables_rows,
    img_pairs_rows,
    pub_date_rows,
    robots_meta_rows,
    structured_data_rows,
)
from paddleocr_spark.operators.justext import (  # noqa: E402
    EXTRACT_EVAL_SQL as _EXTRACT_EVAL_SQL,
    JUSTEXT_SQL as _JUSTEXT_SQL,
    justext_suite_rows,
)
from paddleocr_spark.functions.splits import (  # noqa: E402
    SPLIT_SQL as _SPLIT_SQL,
    split_rows,
)
from paddleocr_spark.functions.urlresolve import (  # noqa: E402
    URL_RESOLVE_SQL as _URL_RESOLVE_SQL,
    url_resolve_rows,
)
from paddleocr_spark.functions.ahocorasick import (  # noqa: E402
    AC_SCAN_SQL as _AC_SCAN_SQL,
    ac_scan_rows,
)
from paddleocr_spark.functions.ragchunk import (  # noqa: E402
    RAG_CHUNK_SQL as _RAG_CHUNK_SQL,
    rag_chunk_rows,
)
from paddleocr_spark.functions.clfeval import (  # noqa: E402
    CLF_EVAL_SQL,
    clf_eval_rows,
)
from paddleocr_spark.functions.clftrain import (  # noqa: E402
    CLF_TRAIN_SQL as _CLF_TRAIN_SQL,
    clf_train_rows,
)
from paddleocr_spark.operators.wat import (  # noqa: E402
    WAT_SQL as _WAT_SQL,
    wat_rows,
)
from paddleocr_spark.functions.homograph import (  # noqa: E402
    HOMOGRAPH_SQL as _HOMOGRAPH_SQL,
    META_REFRESH_SQL as _META_REFRESH_SQL,
    PUNY_SQL as _PUNY_SQL,
    homograph_rows,
    meta_refresh_rows,
    puny_rows,
)
from paddleocr_spark.functions.soft404 import (  # noqa: E402
    SOFT404_SQL as _SOFT404_SQL,
    soft404_rows,
)
from paddleocr_spark.functions.crawlbudget import (  # noqa: E402
    CRAWL_BUDGET_SQL as _CRAWL_BUDGET_SQL,
    crawl_budget_rows,
)
from paddleocr_spark.functions.drift import (  # noqa: E402
    DRIFT_SQL as _DRIFT_SQL,
    drift_rows,
)
from paddleocr_spark.functions.allpairs import (  # noqa: E402
    ALLPAIRS_SQL as _ALLPAIRS_SQL,
    allpairs_rows,
)
from paddleocr_spark.functions.pii import (  # noqa: E402
    PII_REDACT_SQL as _PII_REDACT_SQL,
    pii_redact_rows,
)
from paddleocr_spark.functions.sketches import (  # noqa: E402
    CM_HEAVY_HITTERS_SQL as _CM_HEAVY_HITTERS_SQL,
    HLL_DISTINCT_SQL as _HLL_DISTINCT_SQL,
    cm_heavy_hitters_rows,
    hll_distinct_rows,
)
from paddleocr_spark.functions.dsir import (  # noqa: E402
    DSIR_SQL as _DSIR_SQL,
    dsir_rows,
)
from paddleocr_spark.functions.ngram_lm import (  # noqa: E402
    LM_PPL_SQL as _LM_PPL_SQL,
    lm_ppl_rows,
)
from paddleocr_spark.functions.langid import (  # noqa: E402
    LANGID_SQL as _LANGID_SQL,
    langid_rows,
)
from paddleocr_spark.functions.mojibake import (  # noqa: E402
    MOJIBAKE_SQL as _MOJIBAKE_SQL,
    mojibake_rows,
)
from paddleocr_spark.functions.cleaning import (  # noqa: E402
    BADWORDS_SQL as _BADWORDS_SQL,
    C4_LINES_SQL as _C4_LINES_SQL,
    DEHYPHENATE_SQL as _DEHYPHENATE_SQL,
    SENTENCE_SPLIT_SQL as _SENTENCE_SPLIT_SQL,
    badwords_rows,
    c4_lines_rows,
    dehyphenate_rows,
    sentence_split_rows,
)
from paddleocr_spark.operators.markdown import (  # noqa: E402
    HTML_MARKDOWN_SQL as _HTML_MARKDOWN_SQL,
    html_markdown_rows,
)
from paddleocr_spark.functions.textmetrics import (  # noqa: E402
    LINGSTATS_SQL as _LINGSTATS_SQL,
    QUANTILES_SQL as _QUANTILES_SQL,
    READABILITY_SQL as _READABILITY_SQL,
    SCRIPT_PROFILE_SQL as _SCRIPT_PROFILE_SQL,
    WINNOW_PAIRS_SQL as _WINNOW_PAIRS_SQL,
    WINNOW_SQL as _WINNOW_SQL,
    lingstats_rows,
    corpus_quantiles,
    readability_rows,
    script_profile_rows,
    winnow_pairs_rows,
    winnow_rows,
)
from paddleocr_spark.functions.urlstats import (  # noqa: E402
    HOST_REPUTATION_SQL as _HOST_REPUTATION_SQL,
    URL_PARAMS_SQL as _URL_PARAMS_SQL,
    host_reputation_rows,
    url_params_rows,
)
from paddleocr_spark.functions.pagination import (  # noqa: E402
    PAGINATION_SQL as _PAGINATION_SQL,
    pagination_rows,
)
from paddleocr_spark.operators.templates import (  # noqa: E402
    DOM_TEMPLATE_SQL as _DOM_TEMPLATE_SQL,
    dom_template_rows,
)
from paddleocr_spark.functions.hreflang import (  # noqa: E402
    HREFLANG_SQL as _HREFLANG_SQL,
    hreflang_rows,
)
from paddleocr_spark.operators.spans import (  # noqa: E402
    HTML_SPANS_SQL as _HTML_SPANS_SQL,
    html_spans_rows,
)
from paddleocr_spark.functions.repetition import (  # noqa: E402
    GOPHER_REPETITION_SQL as _GOPHER_REPETITION_SQL,
    gopher_repetition_rows,
)
from paddleocr_spark.functions.psl import (  # noqa: E402
    PSL_SQL as _PSL_SQL,
    psl_rows,
)
from paddleocr_spark.functions.redirects import (  # noqa: E402
    REDIRECTS_SQL as _REDIRECTS_SQL,
    redirect_rows,
)
from paddleocr_spark.operators.robots import (  # noqa: E402
    ROBOTS_RFC_SQL as _ROBOTS_RFC_SQL,
    robots_rfc_rows,
)
from paddleocr_spark.operators.feeds import (  # noqa: E402
    FEED_SQL as _FEED_SQL,
    feed_rows,
)
from paddleocr_spark.operators.sitemap import (  # noqa: E402
    SITEMAP_SQL as _SITEMAP_SQL,
    sitemap_rows,
)
from paddleocr_spark.functions.weburl import (  # noqa: E402
    CAPTURE_DIFF_SQL as _CAPTURE_DIFF_SQL,
    CRAWL_SCHEDULE_SQL as _CRAWL_SCHEDULE_SQL,
    HOST_DOCS_SQL as _HOST_DOCS_SQL,
    HOST_SAMPLE_SQL as _HOST_SAMPLE_SQL,
    capture_diff_rows,
    crawl_schedule_rows,
    host_sample_rows,
    LATEST_CAPTURE_SQL as _LATEST_CAPTURE_SQL,
    ROBOTS_ALLOW_SQL as _ROBOTS_ALLOW_SQL,
    URL_CANON_SQL as _URL_CANON_SQL,
    URL_FILTER_SQL as _URL_FILTER_SQL,
    host_rollup_rows,
    latest_capture_rows,
    robots_filter_rows,
    url_canon_rows,
    url_filter_rows,
)


# The quality branch stays inline ON PURPOSE: like the Spark suite, it
# re-derives micro-unit ratios from the raw counts (a ratio rounded to
# 6dp first would double-round at the .5 boundary).
TEXT_STATS_SUITE_SQL = f"""
SELECT 'token_counts' AS op, CAST(doc_id AS string) AS k,
       concat_ws('|', ws_tokens, bpe_proxy_tokens, char_len) AS v
FROM {_sub(TOKEN_COUNTS_SQL)}
UNION ALL
SELECT 'quality_scores', CAST(doc_id AS string),
       concat_ws('|',
         CAST(round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                    * 1000000 / greatest(length(text), 1)) AS bigint),
         CAST(round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                    t -> list_contains({list(_STOPWORDS)!r}, t)))
                    * 1000000
                    / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)) AS bigint),
         CAST(length(text) >= 200 AS int))
FROM documents
UNION ALL
SELECT 'lang_markers', lang, concat_ws('|', n_docs, en_marker_docs, cjk_docs)
FROM {_sub(LANG_MARKER_SQL)}
UNION ALL
SELECT 'fingerprints', CAST(doc_id AS string), fingerprint
FROM {_sub(DOC_FINGERPRINTS_SQL)}
UNION ALL
SELECT 'url_canon', CAST(doc_id AS string),
       concat_ws('|', canon, host, rev_host)
FROM {_sub(_URL_CANON_SQL)}
UNION ALL
SELECT 'host_docs', host, CAST(n_docs AS string)
FROM {_sub(_HOST_DOCS_SQL)}
UNION ALL
SELECT 'latest_capture', CAST(page_key AS string),
       concat_ws('|', doc_id, epoch)
FROM {_sub(_LATEST_CAPTURE_SQL)}
UNION ALL
SELECT 'robots_allow', CAST(doc_id AS string), CAST(allowed AS string)
FROM {_sub(_ROBOTS_ALLOW_SQL)}
UNION ALL
SELECT 'host_pagerank', source,
       CAST(CAST(round(rank * 100000000) AS bigint) AS string)
FROM {_sub(_HOST_PAGERANK_SQL)}
UNION ALL
SELECT 'boilerplate_grams', CAST(doc_id AS string),
       concat_ws('|', n_boiler, n_grams)
FROM {_sub(BOILERPLATE_GRAMS_SQL)}
UNION ALL
SELECT 'doc_links', CAST(doc_id AS string),
       concat_ws('|', n_links, sorted_hrefs)
FROM {_sub(_DOC_LINKS_SQL)}
UNION ALL
SELECT 'anchor_text', href, concat_ws('|', n_refs, anchors)
FROM {_sub(_ANCHOR_TEXT_SQL)}
UNION ALL
SELECT 'repetition', CAST(doc_id AS string),
       concat_ws('|', micro_top_word, micro_top_bigram)
FROM {_sub(REPETITION_STATS_SQL)}
UNION ALL
SELECT 'substring_dedup', CAST(doc_id AS string),
       concat_ws('|', n_spans, n_dup_tokens, cleaned_text)
FROM {_sub(_EXACT_SUBSTRING_SQL)}
UNION ALL
SELECT 'decontaminate', CAST(doc_id AS string),
       concat_ws('|', n_shared_grams, contaminated)
FROM {_sub(_DECONTAMINATE_SQL)}
UNION ALL
SELECT 'pii_redact', CAST(doc_id AS string),
       concat_ws('|', n_emails, n_phones, n_ips, redacted)
FROM {_sub(_PII_REDACT_SQL)}
UNION ALL
SELECT 'host_sample', CAST(doc_id AS string), concat_ws('|', host, rank)
FROM {_sub(_HOST_SAMPLE_SQL)}
UNION ALL
SELECT 'gopher_filter', CAST(doc_id AS string),
       concat_ws('|', n_words, mean_len_x100, n_stopwords, distinct_x100,
                 fail_bits, keep)
FROM {_sub(GOPHER_FILTER_SQL)}
UNION ALL
SELECT 'quality_classifier', CAST(doc_id AS string),
       concat_ws('|', n_tokens, sum_w, label)
FROM {_sub(QUALITY_CLASSIFIER_SQL)}
UNION ALL
SELECT 'seq_pack', CAST(doc_id AS string),
       concat_ws('|', n_tokens, bin, bin_offset)
FROM {_sub(SEQ_PACK_SQL)}
UNION ALL
SELECT 'lm_bucket', CAST(doc_id AS string),
       concat_ws('|', n_tokens, freq_q, freq_frac, bucket)
FROM {_sub(LM_BUCKET_SQL)}
UNION ALL
SELECT op, k, v
FROM {_sub(POSTINGS_VB_SQL)}
UNION ALL
SELECT 'crawl_frontier', target, concat_ws('|', n_refs, n_hosts)
FROM {_sub(_CRAWL_FRONTIER_SQL)}
UNION ALL
SELECT 'paragraph_dedup', CAST(doc_id AS string),
       concat_ws('|', n_paras, n_removed, cleaned_text)
FROM {_sub(_PARAGRAPH_DEDUP_SQL)}
UNION ALL
SELECT 'url_filter', CAST(doc_id AS string),
       concat_ws('|', allowed, first_fail)
FROM {_sub(_URL_FILTER_SQL)}
UNION ALL
SELECT 'html_meta', doc_id,
       concat_ws('|', title, description, canonical, og_title)
FROM {_sub(_HTML_META_SQL)}
UNION ALL
SELECT 'bm25', CAST(doc_id AS string), CAST(score_micro AS string)
FROM {_sub(BM25_TOPK_SQL)}
UNION ALL
SELECT 'keywords', concat_ws('|', doc_id, rn),
       concat_ws('|', term, tfidf_micro)
FROM {_sub(TFIDF_KEYWORDS_SQL)}
UNION ALL
SELECT 'nfc', CAST(doc_id AS string), concat_ws('|', changed, norm_md5)
FROM {_sub(NFC_NORMALIZE_SQL)}
UNION ALL
SELECT 'mix_report', concat_ws('|', lang, host),
       concat_ws('|', n_docs, n_tokens, share_micro)
FROM {_sub(MIX_REPORT_SQL)}
UNION ALL
SELECT 'mix_sample', CAST(doc_id AS string), concat_ws('|', lang, rank)
FROM {_sub(MIX_RESAMPLE_SQL)}
UNION ALL
SELECT 'charset_decode', doc_id, concat_ws('|', encoding, main_text)
FROM {_sub(_CHARSET_DECODE_SQL)}
UNION ALL
SELECT 'html_tables', k, v
FROM {_sub(_HTML_TABLES_SQL)}
UNION ALL
SELECT 'chunk_split', concat_ws('|', doc_id, i),
       concat_ws('|', start, n_tokens, chunk_md5)
FROM {_sub(CHUNK_SPLIT_SQL)}
UNION ALL
SELECT 'redirects', url, concat_ws('|', final, hops, status)
FROM {_sub(_REDIRECTS_SQL)}
UNION ALL
SELECT 'crawl_schedule', url, concat_ws('|', host, slot)
FROM {_sub(_CRAWL_SCHEDULE_SQL)}
UNION ALL
SELECT 'sitemap', concat_ws('|', host, child, idx),
       concat_ws('|', loc, lastmod)
FROM {_sub(_SITEMAP_SQL)}
UNION ALL
SELECT 'inverted_index', term, concat_ws('|', df, postings)
FROM {_sub(INVERTED_INDEX_SQL)}
UNION ALL
SELECT 'capture_diff', CAST(page_key AS string),
       concat_ws('|', n_captures, n_changes, rate_micro)
FROM {_sub(_CAPTURE_DIFF_SQL)}
UNION ALL
SELECT 'robots_rfc', doc_id, v
FROM {_sub(_ROBOTS_RFC_SQL)}
UNION ALL
SELECT 'olap_rollup', concat_ws('|', lang, source),
       concat_ws('|', n_docs, sum_chars, g_lang, g_source)
FROM {_sub(OLAP_ROLLUP_SQL)}
UNION ALL
SELECT 'hll_distinct', host,
       concat_ws('|', v_zero, s_scaled, est_micro, exact_distinct)
FROM {_sub(_HLL_DISTINCT_SQL)}
UNION ALL
SELECT 'cm_heavy_hitters', term, concat_ws('|', cm_est, true_count)
FROM {_sub(_CM_HEAVY_HITTERS_SQL)}
UNION ALL
SELECT 'structured_data', doc_id,
       concat_ws('|', ld_type, headline, date_published, author,
                 org_name, org_url)
FROM {_sub(_STRUCTURED_DATA_SQL)}
UNION ALL
SELECT 'dsir', CAST(doc_id AS string),
       concat_ws('|', n_feats, dsir_micro, selected)
FROM {_sub(_DSIR_SQL)}
UNION ALL
SELECT 'langid', CAST(doc_id AS string),
       concat_ws('|', pred, correct, best_micro)
FROM {_sub(_LANGID_SQL)}
UNION ALL
SELECT 'feed', concat_ws('|', host, idx),
       concat_ws('|', kind, entry_id, title, link, date)
FROM {_sub(_FEED_SQL)}
UNION ALL
SELECT 'code_blocks', concat_ws('|', doc_id, idx),
       concat_ws('|', lang, n_lines, code)
FROM {_sub(_CODE_BLOCKS_SQL)}
UNION ALL
SELECT 'psl', CAST(doc_id AS string),
       concat_ws('|', host, public_suffix, registrable)
FROM {_sub(_PSL_SQL)}
UNION ALL
SELECT 'mojibake', CAST(doc_id AS string),
       concat_ws('|', fixed_rounds, repaired_md5)
FROM {_sub(_MOJIBAKE_SQL)}
UNION ALL
SELECT 'c4_lines', CAST(doc_id AS string),
       concat_ws('|', n_kept, n_dropped, n_sentences, page_keep, cleaned_md5)
FROM {_sub(_C4_LINES_SQL)}
UNION ALL
SELECT 'dehyphenate', CAST(doc_id AS string),
       concat_ws('|', n_joins, repaired_md5)
FROM {_sub(_DEHYPHENATE_SQL)}
UNION ALL
SELECT 'badwords', CAST(doc_id AS string),
       concat_ws('|', n_tokens, n_bad, micro_bad_frac, keep)
FROM {_sub(_BADWORDS_SQL)}
UNION ALL
SELECT 'sentence_split', CAST(doc_id AS string),
       concat_ws('|', n_sentences, sentences_md5)
FROM {_sub(_SENTENCE_SPLIT_SQL)}
UNION ALL
SELECT 'global_shuffle', CAST(doc_id AS string), CAST(pos AS string)
FROM {_sub(GLOBAL_SHUFFLE_SQL)}
UNION ALL
SELECT 'html_markdown', CAST(doc_id AS string),
       concat_ws('|', n_blocks, markdown_md5)
FROM {_sub(_HTML_MARKDOWN_SQL)}
UNION ALL
SELECT 'readability', CAST(doc_id AS string),
       concat_ws('|', n_words, n_sentences, n_syllables, n_complex,
                 ease_micro, fk_grade_micro, fog_micro)
FROM {_sub(_READABILITY_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_QUANTILES_SQL)}
UNION ALL
SELECT 'script_profile', CAST(doc_id AS string),
       concat_ws('|', n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
                 n_hangul, dominant)
FROM {_sub(_SCRIPT_PROFILE_SQL)}
UNION ALL
SELECT 'host_reputation', host,
       concat_ws('|', n_docs, sum_q, score_milli)
FROM {_sub(_HOST_REPUTATION_SQL)}
UNION ALL
SELECT 'url_params', param,
       concat_ws('|', n_urls, n_vals, max_group_contents, is_tracking)
FROM {_sub(_URL_PARAMS_SQL)}
UNION ALL
SELECT 'pagination', head_url,
       concat_ws('|', n_pages, stitched_md5)
FROM {_sub(_PAGINATION_SQL)}
UNION ALL
SELECT 'dom_template', host,
       concat_ws('|', n_docs, n_templates, counts_desc, top_share_micro)
FROM {_sub(_DOM_TEMPLATE_SQL)}
UNION ALL
SELECT 'hreflang', cluster,
       concat_ws('|', n_pages, langs)
FROM {_sub(_HREFLANG_SQL)}
UNION ALL
SELECT 'html_spans',
       CAST(doc_id AS string) || ':' || CAST(span_idx AS string),
       concat_ws('|', dom_path, char_start, char_end, span_md5)
FROM {_sub(_HTML_SPANS_SQL)}
UNION ALL
SELECT 'gopher_repetition', CAST(doc_id AS string),
       concat_ws('|', micro_dup_line, micro_dup_line_ch, micro_top2,
                 micro_top3, micro_top4, micro_dup5, fail_bits, keep)
FROM {_sub(_GOPHER_REPETITION_SQL)}
UNION ALL
SELECT 'pub_date', doc_id, pub_date || '|' || source
FROM {_sub(_PUB_DATE_SQL)}
UNION ALL
SELECT 'img_pairs', doc_id, concat_ws('|', n_imgs, n_kept, pairs)
FROM {_sub(_IMG_PAIRS_SQL)}
UNION ALL
SELECT 'dedup_keep_best', cluster_rep,
       concat_ws('|', n_docs, keep_doc_id, best_len)
FROM {_sub(_DEDUP_KEEP_BEST_SQL)}
UNION ALL
SELECT 'lm_ppl', CAST(doc_id AS string),
       concat_ws('|', n_bigrams, nll_micro, avg_micro)
FROM {_sub(_LM_PPL_SQL)}
UNION ALL
SELECT 'lsh_eval', k,
       concat_ws('|', n_truth, n_cand, n_hit, prec_micro, rec_micro)
FROM {_sub(_LSH_EVAL_SQL)}
UNION ALL
SELECT 'lingstats', k,
       concat_ws('|', t_tokens, v_vocab, hapax, topk_share_micro)
FROM {_sub(_LINGSTATS_SQL)}
UNION ALL
SELECT 'winnow', CAST(doc_id AS string),
       concat_ws('|', n_grams, n_fps, fp_md5)
FROM {_sub(_WINNOW_SQL)}
UNION ALL
SELECT 'meta_robots', doc_id,
       concat_ws('|', noindex, nofollow, directive)
FROM {_sub(_META_ROBOTS_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_JUSTEXT_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_EXTRACT_EVAL_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_SPLIT_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_URL_RESOLVE_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_TRUSTRANK_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_HITS_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_AC_SCAN_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_RAG_CHUNK_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(CLF_EVAL_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_CLF_TRAIN_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_WAT_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_HOMOGRAPH_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_PUNY_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_META_REFRESH_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_SOFT404_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_CRAWL_BUDGET_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_DRIFT_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_WINNOW_PAIRS_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_ALLPAIRS_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_CDC_ROWS_SQL)}
UNION ALL
SELECT op, k, v FROM {_sub(_CDC_DUP_SQL)}
"""

