"""Readability metrics and Unicode-script profiling.

Two per-document text analytics every corpus-quality stack computes
right after main-content extraction (downstream of this repo's
`operators/html_extract.py` / `plans/pipeline.py` output, upstream of
the quality-classifier and language-mix stages):

- `readability`: the three classic readability formulas — Flesch
  reading ease, Flesch-Kincaid grade, Gunning fog — over deterministic
  surrogate counts (whitespace tokens, `[.!?]+` sentence runs,
  `[aeiouy]+` vowel groups as the syllable proxy, >=3-vowel-group
  tokens as the complex-word proxy). The proxies are the standard
  dictionary-free approximations (the same shape textstat/readability
  libraries use before syllable dictionaries); they are exact,
  branch-free SQL on both engines. Dolma/Gopher-style pipelines bucket
  documents on exactly these scores.
- `script_profile`: per-document Unicode-script histogram (Latin,
  Cyrillic, Greek, CJK-unified, Arabic, Hangul) + the dominant
  non-Latin script — the script-level routing signal that decides
  which language-ID model / tokenizer a document is sent to. Counts
  are `regexp_extract_all` match counts over literal BMP ranges, so
  the same pattern semantics hold under Java regex (Spark) and RE2
  (DuckDB).

Scale shape: both operators are pure narrow maps — JVM regexp +
higher-order array ops inside whole-stage codegen, zero shuffles, zero
Python — so at 10^12 docs they ride the scan partitioning untouched.
Derived readability scores are emitted as floor(1e6 * value) micro
units: the double expression trees are written identically on both
engines (same literals, same parenthesization), so the IEEE results
are bit-identical and floor() never sees a representation edge.

The corpus text is all-ASCII word soup, so `script_profile` injects a
deterministic non-Latin phrase per doc_id % 5 via ONE portable SQL
expression evaluated by both engines (cleaning.py discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


# ---------------------------------------------------------------- readability

_SENT_RE = "[.!?]+"
_SYL_RE = "[aeiouy]+"
_COMPLEX_MIN_GROUPS = 3


def _counts(text: Column) -> tuple[Column, Column, Column, Column]:
    """(words, sentences>=1, vowel groups, complex words) — the four
    integer surrogates the formulas consume."""
    toks = F.split(F.trim(text), r"\s+")
    words = F.greatest(F.size(toks).cast("long"), F.lit(1).cast("long"))
    sents = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(_SENT_RE), 0)).cast("long"),
        F.lit(1).cast("long"),
    )
    syls = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(_SYL_RE), 0)
    ).cast("long")
    cplx = F.size(
        F.filter(
            toks,
            lambda t: F.size(
                F.regexp_extract_all(F.lower(t), F.lit(_SYL_RE), 0)
            )
            >= _COMPLEX_MIN_GROUPS,
        )
    ).cast("long")
    return words, sents, syls, cplx


def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, n_complex,
    ease_micro, fk_grade_micro, fog_micro) — micro units are
    floor(1e6 * score); scores may be negative (floor is toward -inf
    on both engines)."""
    w, s, sy, cx = _counts(F.col("text"))
    wd, sd, syd, cxd = (c.cast("double") for c in (w, s, sy, cx))
    ease = 206.835 - 1.015 * (wd / sd) - 84.6 * (syd / wd)
    fk = 0.39 * (wd / sd) + 11.8 * (syd / wd) - 15.59
    fog = 0.4 * ((wd / sd) + 100.0 * (cxd / wd))
    return _docs(spark, sf_dir).select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        sy.alias("n_syllables"),
        cx.alias("n_complex"),
        F.floor(ease * 1000000.0).alias("ease_micro"),
        F.floor(fk * 1000000.0).alias("fk_grade_micro"),
        F.floor(fog * 1000000.0).alias("fog_micro"),
    )


def readability_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='readability', k=doc_id, v=w|s|syl|cplx|ease|fk|fog)."""
    return readability(spark, sf_dir).select(
        F.lit("readability").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|", "n_words", "n_sentences", "n_syllables", "n_complex",
            "ease_micro", "fk_grade_micro", "fog_micro",
        ).alias("v"),
    )


# The DuckDB twin computes the SAME surrogate counts with list ops and
# the SAME double expression trees (identical literals/parentheses).
READABILITY_SQL = f"""
WITH c AS (
  SELECT doc_id,
         greatest(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS bigint), 1) AS w,
         greatest(CAST(len(regexp_extract_all(text, '{_SENT_RE}'))
                       AS bigint), 1) AS s,
         CAST(len(regexp_extract_all(lower(text), '{_SYL_RE}'))
              AS bigint) AS sy,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
              t -> len(regexp_extract_all(lower(t), '{_SYL_RE}'))
                   >= {_COMPLEX_MIN_GROUPS})) AS bigint) AS cx
  FROM documents)
SELECT doc_id,
       w AS n_words, s AS n_sentences, sy AS n_syllables, cx AS n_complex,
       CAST(floor((206.835 - 1.015 * (CAST(w AS double) / CAST(s AS double))
                 - 84.6 * (CAST(sy AS double) / CAST(w AS double)))
                  * 1000000.0) AS bigint) AS ease_micro,
       CAST(floor((0.39 * (CAST(w AS double) / CAST(s AS double))
                 + 11.8 * (CAST(sy AS double) / CAST(w AS double)) - 15.59)
                  * 1000000.0) AS bigint) AS fk_grade_micro,
       CAST(floor((0.4 * ((CAST(w AS double) / CAST(s AS double))
                 + 100.0 * (CAST(cx AS double) / CAST(w AS double))))
                  * 1000000.0) AS bigint) AS fog_micro
FROM c
ORDER BY doc_id
"""


# ------------------------------------------------------------- script profile

# Portable injection: one non-Latin phrase per doc_id % 5, prepended to
# the (all-ASCII) corpus text. Evaluated by BOTH engines.
SCRIPT_INJECT_EXPR = (
    "CASE CAST(doc_id % 5 AS int) "
    "WHEN 0 THEN 'привет мир культура' "
    "WHEN 1 THEN 'καλημέρα κόσμος' "
    "WHEN 2 THEN '你好世界文章' "
    "WHEN 3 THEN 'مرحبا بالعالم' "
    "ELSE '안녕하세요 세계' END || ' ' || text"
)

# Literal BMP ranges (single chars in class ranges -> identical under
# Java regex and RE2): Latin letters, Cyrillic U+0400-04FF, Greek
# U+0370-03FF, CJK Unified U+4E00-9FFF, Arabic U+0600-06FF, Hangul
# syllables U+AC00-D7A3.
_SCRIPTS = [
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[一-鿿]"),
    ("arabic", "[؀-ۿ]"),
    ("hangul", "[가-힣]"),
]


def script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_latin, ..., n_hangul, dominant) — counts are
    regexp match counts (one match per char); dominant is the
    max-count NON-Latin script, ties broken by the fixed _SCRIPTS
    order (by construction exactly one injected script is non-zero,
    but the tie-break keeps the rule total)."""
    s = F.expr(SCRIPT_INJECT_EXPR)
    counts = {
        name: F.size(F.regexp_extract_all(s, F.lit(pat), 0)).cast("long")
        for name, pat in _SCRIPTS
    }
    nonlatin = [n for n, _ in _SCRIPTS if n != "latin"]
    # dominant = first script (in fixed order) whose count equals the
    # running max — expressed as a chained CASE so both engines agree
    best = F.greatest(*[counts[n] for n in nonlatin])
    dom = F.lit("none")
    for name in reversed(nonlatin):
        dom = F.when((best > 0) & (counts[name] == best), name).otherwise(
            dom
        )
    return _docs(spark, sf_dir).select(
        "doc_id",
        *[counts[n].alias(f"n_{n}") for n, _ in _SCRIPTS],
        dom.alias("dominant"),
    )


def script_profile_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='script_profile', k=doc_id, v=lat|cyr|grk|cjk|ara|han|dom)."""
    return script_profile(spark, sf_dir).select(
        F.lit("script_profile").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|", "n_latin", "n_cyrillic", "n_greek", "n_cjk", "n_arabic",
            "n_hangul", "dominant",
        ).alias("v"),
    )


def _sql_count(var: str, pat: str) -> str:
    return f"CAST(len(regexp_extract_all({var}, '{pat}')) AS bigint)"


def _script_profile_sql() -> str:
    cols = ",\n         ".join(
        f"{_sql_count('s', pat)} AS n_{name}" for name, pat in _SCRIPTS
    )
    nonlatin = [n for n, _ in _SCRIPTS if n != "latin"]
    best = "greatest(" + ", ".join(f"n_{n}" for n in nonlatin) + ")"
    dom = "CASE"
    for name in nonlatin:
        dom += f" WHEN {best} > 0 AND n_{name} = {best} THEN '{name}'"
    dom += " ELSE 'none' END"
    return f"""
WITH p AS (SELECT doc_id, {SCRIPT_INJECT_EXPR} AS s FROM documents),
c AS (
  SELECT doc_id,
         {cols}
  FROM p)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_hangul,
       {dom} AS dominant
FROM c
ORDER BY doc_id
"""


SCRIPT_PROFILE_SQL = _script_profile_sql()


# -- corpus linguistic statistics (Zipf/Heaps report) -------------------------

TOP_K = 10  # head size for the frequency-mass share


def corpus_lingstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row corpus report: total tokens T, vocabulary V, hapax count
    (words seen once — the Heaps-law tail a tokenizer trainer watches),
    and the token-mass share of the TOP_K most frequent words in
    integer micro-units (the Zipf head — stopword-dominance signal for
    tokenizer/filter budgeting).

    Shape: token explode -> ONE map-side-combined groupBy(word) -> two
    vocabulary-bounded aggregates (global sums + deterministic top-K by
    (count desc, word)). The word-count frame is vocabulary-sized at
    any corpus scale; the top-K is a TakeOrdered, never a full sort."""
    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.trim("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = words.agg(
        F.sum("c").cast("long").alias("t_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
    )
    top = (
        words.orderBy(F.desc("c"), F.asc("w"))
        .limit(TOP_K)
        .agg(F.sum("c").cast("long").alias("top_mass"))
    )
    return totals.crossJoin(F.broadcast(top)).select(
        "t_tokens",
        "v_vocab",
        "hapax",
        F.expr("(1000000 * top_mass) div greatest(t_tokens, 1)").alias(
            "topk_share_micro"
        ),
    )


def lingstats_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='lingstats', k='all', v=T|V|hapax|topk_share_micro)."""
    return corpus_lingstats(spark, sf_dir).select(
        F.lit("lingstats").alias("op"),
        F.lit("all").alias("k"),
        F.concat_ws(
            "|", "t_tokens", "v_vocab", "hapax", "topk_share_micro"
        ).alias("v"),
    )


LINGSTATS_SQL = f"""
WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT UNNEST(string_split(trim(text), ' ')) AS w FROM documents)
  GROUP BY w),
tot AS (
  SELECT CAST(sum(c) AS bigint) AS t_tokens,
         CAST(count(*) AS bigint) AS v_vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint) AS hapax
  FROM words),
top AS (
  SELECT CAST(sum(c) AS bigint) AS top_mass
  FROM (SELECT c FROM words ORDER BY c DESC, w ASC LIMIT {TOP_K}))
SELECT 'all' AS k, t_tokens, v_vocab, hapax,
       (1000000 * top_mass) // greatest(t_tokens, 1) AS topk_share_micro
FROM tot CROSS JOIN top
"""


# -- winnowing fingerprints (Schleimer et al. 2003, the Moss algorithm) -------

WIN_GRAM = 3  # words per shingle
WIN_W = 4     # winnowing window, in consecutive shingle hashes


# word-WIN_GRAM-gram md5 list of `text`, in position order — JVM
# higher-order functions only (no Python in the hot path). The
# length-filter form is the langid discipline: Spark's sequence(1, 0)
# counts DOWN, so short docs floor the bound at 1 and drop under-width
# grams by size.
_GRAM_HASHES_SPARK = (
    "transform(filter(transform("
    f"sequence(1, greatest(size(split(trim(text), ' ')) - {WIN_GRAM - 1}, 1)),"
    f" i -> slice(split(trim(text), ' '), i, {WIN_GRAM})),"
    f" a -> size(a) = {WIN_GRAM}),"
    " a -> md5(concat_ws(' ', a)))"
)


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the Moss plagiarism detector's selection rule): hash
    every word-3-gram, slide a WIN_W-wide window over the hash
    sequence, keep each window's MINIMUM, distinct the survivors.
    Guarantee: any shared run of >= WIN_W + WIN_GRAM - 1 words between
    two documents shares at least one fingerprint — a robust
    local-match signature that md5-of-whole-doc (doc_fingerprints)
    and global MinHash signatures don't give.

    (doc_id, n_grams, n_fps, fp_md5): fp_md5 = md5 of the sorted
    distinct fingerprint list (a stable set digest). Entirely JVM
    higher-order expressions on a per-row array — zero shuffles, zero
    Python; the per-doc state is the gram array (document-length
    bounded)."""
    hs = F.expr(_GRAM_HASHES_SPARK)
    docs = _docs(spark, sf_dir).withColumn("hs", hs)
    fps = F.array_sort(
        F.array_distinct(
            F.expr(
                f"transform(filter(transform("
                f"sequence(1, greatest(size(hs) - {WIN_W - 1}, 1)),"
                f" j -> slice(hs, j, {WIN_W})), a -> size(a) = {WIN_W}),"
                f" a -> array_min(a))"
            )
        )
    )
    return docs.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_grams"),
        F.size(fps).cast("long").alias("n_fps"),
        F.md5(F.array_join(fps, ",")).alias("fp_md5"),
    )


def winnow_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='winnow', k=doc_id, v=n_grams|n_fps|fp_md5)."""
    return winnow_fingerprints(spark, sf_dir).select(
        F.lit("winnow").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_grams", "n_fps", "fp_md5").alias("v"),
    )


_GRAM_HASHES_SQL = (
    "list_transform(list_filter(list_transform("
    "generate_series(1, greatest(len(string_split(trim(text), ' ')) - 2, 1)), "
    "i -> string_split(trim(text), ' ')[i:i+2]), a -> len(a) = 3), "
    "a -> md5(array_to_string(a, ' ')))"
)

WINNOW_SQL = f"""
WITH h AS (SELECT doc_id, {_GRAM_HASHES_SQL} AS hs FROM documents),
f AS (
  SELECT doc_id, hs,
         list_sort(list_distinct(list_transform(list_filter(
           list_transform(
             generate_series(1, greatest(len(hs) - {WIN_W - 1}, 1)),
             j -> hs[j:j+{WIN_W - 1}]), a -> len(a) = {WIN_W}),
           a -> list_aggregate(a, 'min')))) AS fps
  FROM h)
SELECT doc_id,
       CAST(len(hs) AS bigint) AS n_grams,
       CAST(len(fps) AS bigint) AS n_fps,
       md5(array_to_string(fps, ',')) AS fp_md5
FROM f
ORDER BY doc_id
"""


# -- winnowing candidate pairs (the Moss MATCHER on top of the prints) --------

WINNOW_DF_CAP = 16   # drop boilerplate fingerprints shared too widely
WINNOW_MIN_SHARED = 2


def winnow_pairs_rows(
    spark: SparkSession, sf_dir: str,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """(op='winnow_pairs', k=doc_a:doc_b, v=n_shared): candidate
    local-overlap pairs — documents sharing >= WINNOW_MIN_SHARED
    winnowing fingerprints, i.e. the Moss matching step the
    fingerprints exist for. By the winnowing guarantee every shared
    >= WIN_W+WIN_GRAM-1 = 6-word run yields a shared fingerprint, so
    near-dup and quotation pairs surface here that whole-doc hashing
    misses. The guarantee promises >= ONE shared print (min_shared=1
    is the pure candidate set, pinned by test); the suite reports at
    WINNOW_MIN_SHARED=2 because on this RANDOM-word corpus single
    shared prints are chance 3-gram collisions (3,374 n=1 pairs vs
    103 n>=2 at sf0.01) — on real text the threshold is a ranking
    knob, not a correctness gate.

    Scale shape (the ngram_jaccard discipline): fingerprint explode ->
    document-frequency cap (WINNOW_DF_CAP drops boilerplate prints —
    per-key join cardinality <= cap^2, sizes stay exact) -> equi-join
    on the print -> one pair groupBy. Never all-pairs; the DF frame
    shares the join key so the cap costs no extra corpus shuffle."""
    hs = F.expr(_GRAM_HASHES_SPARK)
    fps = F.array_distinct(
        F.expr(
            f"transform(filter(transform("
            f"sequence(1, greatest(size(hs) - {WIN_W - 1}, 1)),"
            f" j -> slice(hs, j, {WIN_W})), a -> size(a) = {WIN_W}),"
            f" a -> array_min(a))"
        )
    )
    e = (
        _docs(spark, sf_dir)
        .withColumn("hs", hs)
        .select("doc_id", F.explode(fps).alias("fp"))
    )
    df_ok = (
        e.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") <= WINNOW_DF_CAP)
        .select("fp")
    )
    kept = e.join(df_ok, "fp")
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_shared)
    )
    return pairs.select(
        F.lit("winnow_pairs").alias("op"),
        F.concat_ws(
            ":", F.col("da").cast("string"), F.col("db").cast("string")
        ).alias("k"),
        F.col("n").cast("string").alias("v"),
    )


WINNOW_PAIRS_SQL = (
    WINNOW_SQL.strip().rsplit("SELECT doc_id,", 1)[0]
    + f""",
e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
dfk AS (SELECT fp FROM e GROUP BY fp
        HAVING count(*) <= {WINNOW_DF_CAP}),
kept AS (SELECT e.doc_id, e.fp FROM e JOIN dfk USING (fp)),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n
  FROM kept a JOIN kept b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT 'winnow_pairs' AS op,
       CAST(da AS varchar) || ':' || CAST(db AS varchar) AS k,
       CAST(n AS varchar) AS v
FROM p
ORDER BY k
"""
)


# --- exact corpus quantiles (bounded-histogram selection) ------------------

QUANTILES_PCT = (50, 90, 99)


def corpus_quantiles(spark, sf_dir: str):
    """(op='quantiles', k=metric_pQQ, v=value|k|n): EXACT p50/p90/p99
    of per-doc whitespace-token counts and char lengths — the numbers
    that size `spark.sql.shuffle.partitions` / `files.maxPartitionBytes`
    against the real distribution instead of folklore.

    Exactness at 10^12 docs without a corpus sort: per-doc lengths
    live in a BOUNDED value domain (distinct lengths ~10^5-10^6), so
    ONE groupBy(metric, value) histogram (map-side combined) plus a
    prefix sum over the histogram frame resolves the k-th smallest
    exactly — the clf_eval distinct-score discipline, and the exact
    counterpart of lm_bucket's windowless approx-quantile form. The
    k-th-smallest definition (k = ceil(q*n/100), smallest value with
    cum >= k) matches SQL's quantile_disc."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from paddleocr_spark.sources.scan import scan_parquet

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("tokens").alias("metric"),
                    F.size(
                        F.split(F.trim(F.col("text")), r"\s+")
                    ).cast("long").alias("value"),
                ),
                F.struct(
                    F.lit("chars").alias("metric"),
                    F.length("text").cast("long").alias("value"),
                ),
            )
        ).alias("m")
    ).select("m.metric", "m.value")
    hist = docs.groupBy("metric", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.partitionBy("metric").orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("metric")
    cum = hist.select(
        "metric",
        "value",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qs = spark.createDataFrame(
        [(q,) for q in QUANTILES_PCT], "q int"
    )
    # integer ceil: k = ceil(q*n/100) written exactly as (q*n+99) div 100
    hit = cum.crossJoin(F.broadcast(qs)).where(
        F.col("cum") >= F.expr("(q * n + 99) div 100")
    )
    return hit.groupBy("metric", "q", "n").agg(
        F.min("value").alias("value")
    ).select(
        F.lit("quantiles").alias("op"),
        F.concat_ws("_", "metric", F.concat(F.lit("p"), "q")).alias("k"),
        F.concat_ws(
            "|", "value", F.expr("(q * n + 99) div 100"), "n"
        ).alias("v"),
    )


QUANTILES_SQL = f"""
WITH m AS (
  SELECT 'tokens' AS metric,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS bigint)
           AS value
  FROM documents
  UNION ALL
  SELECT 'chars', CAST(length(text) AS bigint) FROM documents),
h AS (SELECT metric, value, count(*) AS c FROM m GROUP BY 1, 2),
cum AS (
  SELECT metric, value,
         sum(c) OVER (PARTITION BY metric ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY metric) AS n
  FROM h),
q AS (SELECT unnest({list(QUANTILES_PCT)}) AS q)
SELECT 'quantiles' AS op,
       metric || '_p' || CAST(q AS varchar) AS k,
       CAST(min(value) AS varchar) || '|' ||
       CAST((q * n + 99) // 100 AS varchar) || '|' ||
       CAST(n AS varchar) AS v
FROM cum, q
WHERE cum >= (q * n + 99) // 100
GROUP BY metric, q, n
ORDER BY k
"""
