"""Deduplication operators over `documents`: exact, MinHash+LSH, SimHash,
n-gram Jaccard. All built-in Spark expressions (no Python UDFs) so they
stay JVM-side; hashing is md5-based, which DuckDB evaluates identically —
every operator here has a strict SQL oracle.

Scale design:
- exact: one shuffle (groupBy fingerprint), map-side partial agg free.
- minhash-lsh: shingle explode -> per-doc signature (one shuffle) ->
  band-key self-join (equi join on band bucket, only collided docs pair).
  At 10^12 docs, bucket join replaces the O(n^2) pair space; band count /
  rows-per-band tune recall. Skewed buckets (boilerplate-heavy shingles)
  are bounded because the key is the *signature band*, not the shingle.
- simhash: signature is an aggregation, grouping identical 16-bit keys.
- jaccard: exact verification over LSH candidates only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet

# DuckDB twin of content_fingerprint over a column named `text` —
# shared by EXACT_DUPLICATES_SQL and the corpus_pipeline oracle.
CONTENT_FP_SQL = (
    "md5(trim(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g'))))"
)


NUM_HASHES = 6
BAND_ROWS = 2  # 3 bands of 2 rows
SHINGLE = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/documents.parquet")


def _shingled(df: DataFrame) -> DataFrame:
    """doc_id, shingle (distinct 3-word grams; docs with <3 words drop)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    sh = F.when(
        F.size(words) >= SHINGLE,
        F.expr(
            f"transform(sequence(0, size(split(trim(text), '\\\\s+')) - {SHINGLE}),"
            f" i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i + 1, {SHINGLE})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", F.explode(sh).alias("shingle")).distinct()
    )


def _shingle_cte(docs_where: str = "") -> str:
    """The word-3-gram CTE, optionally over a filtered documents scan
    (docs_where: a full 'WHERE ...' clause) — lsh_eval's sampled twin
    reuses the exact same shingling over a sub-corpus."""
    return f"""
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents {docs_where}
),
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i : i + {SHINGLE - 1}], ' ') AS shingle
  FROM words, UNNEST(generate_series(1, greatest(len(w) - {SHINGLE - 1}, 0))) AS t(i)
)
"""


_SHINGLE_CTE = _shingle_cte()


def exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of byte-identical normalized content (hash-groupBy dedup)."""
    return (
        _docs(spark, sf_dir)
        .select(content_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


EXACT_DUPLICATES_SQL = f"""
SELECT {CONTENT_FP_SQL} AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over shingles of
    md5(i || ':' || shingle) (string-min is a valid min-hash order)."""
    sh = _shingled(_docs(spark, sf_dir))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


MINHASH_SIGNATURES_SQL = (
    "WITH " + _SHINGLE_CTE + "\nSELECT doc_id, "
    + ", ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(NUM_HASHES)
    )
    + " FROM shingles GROUP BY doc_id"
)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: docs colliding in any LSH band
    (bands of BAND_ROWS rows over the NUM_HASHES signature)."""
    sig = minhash_signatures(spark, sf_dir)
    # One stack() unpivot instead of a 3-way union: the union re-executes
    # the whole shingle->signature aggregation once PER BAND per join
    # side; stack keeps a single signature subtree per side.
    n_bands = NUM_HASHES // BAND_ROWS
    stack_args = ", ".join(
        f"{b}, md5(concat_ws('|', "
        + ", ".join(f"h{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + "))"
        for b in range(n_bands)
    )
    banded = sig.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band, bucket)"
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _minhash_lsh_pairs_sql() -> str:
    n_bands = NUM_HASHES // BAND_ROWS
    band_selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"h{b * BAND_ROWS + r}" for r in range(BAND_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    return (
        "WITH " + _SHINGLE_CTE + ",\nsig AS (SELECT doc_id, "
        + ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(NUM_HASHES))
        + " FROM shingles GROUP BY doc_id),\n"
        + "banded AS (" + " UNION ALL ".join(band_selects) + ")\n"
        + "SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b\n"
        + "FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket"
        + " AND l.doc_id < r.doc_id"
    )


MINHASH_LSH_PAIRS_SQL = _minhash_lsh_pairs_sql()

_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")
SIMHASH_BITS = 16


def simhash_bit_aggs() -> list:
    """The SimHash per-bit SUM aggregates over a token-md5 column `h`,
    shared by `simhash_fingerprints` and the composed `corpus_pipeline`
    funnel (curation.py) so the bit rule can't drift. A NULL `h`
    contributes -1 to every bit (the funnel's dropped-doc sentinel
    rows land on the all-zero fingerprint)."""
    return [
        F.sum(
            F.when(F.substring("h", b + 1, 1).isin(*_HEX_HIGH), 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]


def simhash_concat_bits() -> Column:
    """'0'/'1' fingerprint string from the s0..s15 aggregate columns."""
    bits = [
        F.when(F.col(f"s{b}") > 0, "1").otherwise("0")
        for b in range(SIMHASH_BITS)
    ]
    return F.concat(*bits)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over word tokens: bit b = sign of sum over tokens of
    (high bit of md5 hex digit b ? +1 : -1). Emitted as a '0'/'1' string."""
    words = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .withColumn("h", F.md5("tok"))
    )
    agg = words.groupBy("doc_id").agg(*simhash_bit_aggs())
    return agg.select("doc_id", simhash_concat_bits().alias("simhash"))


SIMHASH_FINGERPRINTS_SQL = (
    "WITH toks AS (SELECT doc_id, md5(t.tok) AS h FROM documents,"
    " UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(tok)),\n"
    "agg AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN substring(h, {b + 1}, 1) IN {_HEX_HIGH!r} THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    + " FROM toks GROUP BY doc_id)\nSELECT doc_id, "
    + " || ".join(
        f"(CASE WHEN s{b} > 0 THEN '1' ELSE '0' END)" for b in range(SIMHASH_BITS)
    )
    + " AS simhash FROM agg"
)


# Document-frequency cap for the candidate join: a shingle shared by
# more than DF_CAP documents is boilerplate — it contributes ~zero
# discriminative signal but d^2 join rows (one hot shingle in 10^6 docs
# would emit 10^12 pairs). Dropping capped shingles from the CANDIDATE
# join (denominator sizes stay exact) is the standard bound; per-key
# join cardinality is then <= DF_CAP^2 regardless of corpus size.
DF_CAP = 64


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    sample_mod: int | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard over pairs sharing >= 1 non-boilerplate
    shingle (document frequency <= DF_CAP).

    The shared-shingle equi join bounds the pair space (never a full
    cross join), and the DF cap bounds each join key's cardinality, so
    the plan survives hot boilerplate shingles at any corpus size. The
    df filter shuffles on `shingle` — the same key the self-join needs,
    so AQE co-partitions the two.

    sample_mod restricts the whole computation (shingles, DF caps,
    pairs) to docs with doc_id % sample_mod == 0 — lsh_eval's sampled
    sub-corpus; the board's own row runs unsampled."""
    docs = _docs(spark, sf_dir)
    if sample_mod:
        docs = docs.where(F.col("doc_id") % sample_mod == 0)
    sh = _shingled(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("shingle")
    )
    kept = sh.join(rare, "shingle")
    l = kept.alias("l")
    r = kept.alias("r")
    inter = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def _ngram_jaccard_sql(docs_where: str = "") -> str:
    return (
        "WITH " + _shingle_cte(docs_where) + ",\n"
        "sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),\n"
        f"rare AS (SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= {DF_CAP}),\n"
        "kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)),\n"
        "inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS inter\n"
        "  FROM kept l JOIN kept r ON l.shingle = r.shingle AND l.doc_id < r.doc_id\n"
        "  GROUP BY 1, 2)\n"
        "SELECT doc_a, doc_b, inter,\n"
        "       round(inter / (sa.n + sb.n - inter), 6) AS jaccard\n"
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b\n"
        "WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5"
    )


NGRAM_JACCARD_PAIRS_SQL = _ngram_jaccard_sql()

# lsh_eval's sub-corpus: doc_id % 2 == 0 quarters the truth-side
# shingle self-join while the gate still measures ~1/4 of all pairs
LSH_EVAL_MOD = 2


def lsh_eval_rows(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(op='lsh_eval', k='all', v=n_truth|n_cand|n_hit|prec_micro|
    rec_micro): candidate-quality evaluation of the MinHash LSH stage —
    precision and recall of the banded candidate pairs against the
    EXACT >= 0.5 n-gram-Jaccard pair set. The measurement every
    near-dup deployment runs before trusting its band/row parameters
    (tune r, b until recall at the target threshold is acceptable,
    precision says how much verify work downstream pays).

    One full-outer join of the two pair frames on (doc_a, doc_b) with
    presence markers -> a single global aggregate; both inputs derive
    from the same shingle scan (shared relation), and the join key is
    the pair id, so per-key cardinality is 1. Ratios ship as integer
    micro-units (the suite discipline).

    The eval runs on the doc_id % LSH_EVAL_MOD == 0 sub-corpus (round-4
    advice: this is a measurement gate, not a pipeline operator, and the
    exact-Jaccard truth side's shingle self-join needn't dominate the
    suite's cost). Sampling by key keeps the estimate unbiased for the
    band/row parameters — LSH banding is per-doc, so LSH-on-sample ==
    LSH-on-corpus restricted to sampled endpoints — and the candidate
    side filters the SHARED minhash pair frame instead of rebuilding
    it. The DuckDB twin applies the identical sample."""
    cand = (
        pairs if pairs is not None else minhash_lsh_pairs(spark, sf_dir)
    ).where(
        (F.col("doc_a") % LSH_EVAL_MOD == 0)
        & (F.col("doc_b") % LSH_EVAL_MOD == 0)
    ).select("doc_a", "doc_b", F.lit(1).alias("c"))
    truth = ngram_jaccard_pairs(
        spark, sf_dir, sample_mod=LSH_EVAL_MOD
    ).select("doc_a", "doc_b", F.lit(1).alias("t"))
    j = cand.join(truth, ["doc_a", "doc_b"], "outer")
    return (
        j.agg(
            F.sum("t").cast("long").alias("n_truth"),
            F.sum("c").cast("long").alias("n_cand"),
            F.sum(F.col("c") * F.col("t")).cast("long").alias("n_hit"),
        )
        .select(
            F.lit("lsh_eval").alias("op"),
            F.lit("all").alias("k"),
            F.concat_ws(
                "|",
                "n_truth",
                "n_cand",
                "n_hit",
                F.expr("(1000000 * n_hit) div greatest(n_cand, 1)"),
                F.expr("(1000000 * n_hit) div greatest(n_truth, 1)"),
            ).alias("v"),
        )
    )


LSH_EVAL_SQL = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({MINHASH_LSH_PAIRS_SQL})
              WHERE doc_a % {LSH_EVAL_MOD} = 0 AND doc_b % {LSH_EVAL_MOD} = 0),
truth AS (SELECT doc_a, doc_b
          FROM ({_ngram_jaccard_sql(f"WHERE doc_id % {LSH_EVAL_MOD} = 0")})),
m AS (SELECT CAST((SELECT count(*) FROM truth) AS bigint) AS n_truth,
             CAST((SELECT count(*) FROM cand) AS bigint) AS n_cand,
             CAST((SELECT count(*) FROM cand JOIN truth
                   USING (doc_a, doc_b)) AS bigint) AS n_hit)
SELECT 'all' AS k, n_truth, n_cand, n_hit,
       (1000000 * n_hit) // greatest(n_cand, 1) AS prec_micro,
       (1000000 * n_hit) // greatest(n_truth, 1) AS rec_micro
FROM m
"""


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node connects its strictly
    LARGER neighbours to the minimum of its closed neighbourhood.

    Input/output edges are (src, dst) with src > dst (canonical
    big->small orientation); the output is deduped and self-loop-free.
    One symmetrize + one groupBy + one equi-join — per-round cost is
    two shuffles regardless of component shape.
    """
    sym = (
        e.selectExpr("src AS u", "dst AS v")
        .union(e.selectExpr("dst AS u", "src AS v"))
        .where("u <> v")
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where("src <> dst")
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller-or-equal
    neighbourhood (plus itself) to the minimum neighbour. Same canonical
    (src > dst) edge contract as `_large_star`."""
    can = e.selectExpr(
        "greatest(src, dst) AS u", "least(src, dst) AS v"
    ).where("u <> v")
    m = can.groupBy("u").agg(F.min("v").alias("m"))
    joined = can.join(m, "u")
    return (
        joined.select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        .where("src <> dst")
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    contraction — the O(log^2 n)-round MapReduce algorithm of Kiveris
    et al. (SoCC'14). This is the adversarial-diameter path behind
    `dedup_clusters`: label propagation (even pointer-jumped) walks the
    graph, star contraction REWIRES it, so a path of any length
    converges in a round count driven by log(n), not diameter.

    `edges` is any (src: long, dst: long) undirected edge list. Returns
    (doc_id, cluster_rep) for every endpoint, cluster_rep = component
    minimum. Fixpoint = star forest (every edge points at its component
    root); detected by exact set-equality of the canonical edge set
    across a full round (count match + one-sided exceptAll — both sides
    are already distinct). Each round localCheckpoints, for the same
    3^rounds lineage reason documented in `dedup_clusters`.
    """
    e = (
        edges.selectExpr("greatest(src, dst) AS src", "least(src, dst) AS dst")
        .where("src <> dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.selectExpr("src AS doc_id")
        .union(e.selectExpr("dst AS doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        new = _small_star(_large_star(e)).localCheckpoint(eager=True)
        unchanged = (
            new.count() == e.count()
            and new.exceptAll(e).limit(1).count() == 0
        )
        e = new
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not reach a star forest in "
            f"{max_rounds} rounds"
        )
    reps = e.groupBy("src").agg(F.min("dst").alias("rep"))
    return (
        nodes.join(reps, nodes["doc_id"] == reps["src"], "left")
        .select(
            nodes["doc_id"],
            F.coalesce(reps["rep"], nodes["doc_id"])
            .cast("long")
            .alias("cluster_rep"),
        )
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    max_rounds: int = 60,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the LSH candidate
    graph — the aggregation the per-pair queries feed at corpus scale
    (keep one representative per component, drop the rest).

    Spark-native iterative min-label propagation WITH pointer jumping:
    each round takes, per node, the min of (own label, neighbours'
    labels, label-of-own-label). The neighbour term spreads labels one
    hop; the label(label(x)) shortcut halves remaining path lengths —
    chain-shaped clusters (doc i ~ doc i+1 ~ ...) converge in O(log
    diameter) rounds instead of O(diameter), which mattered in
    practice: plain propagation took ~20 rounds / 43 s at sf0.1 on this
    corpus's chains, shortcutting takes ~6.

    Labels only ever DECREASE, so "any row changed this round?" is a
    complete convergence certificate; it is computed as max(changed)
    over a per-row flag carried in the same plan (NOT sum(label) — at
    10^12-doc ids a long sum overflows int64 under ANSI semantics).
    Pointer jumping makes `max_rounds` rounds cover diameters beyond
    2^(max_rounds-log2(rounds)); if the cap is somehow exhausted the
    function ESCALATES to `connected_components_star` (large-star /
    small-star contraction, rounds driven by log n not diameter) rather
    than silently returning split clusters.

    Returns (doc_id, cluster_rep) for every doc in >=1 candidate pair.
    """
    # materialize the pairs before the symmetric union — the union
    # references its input twice, which would compute the whole
    # shingle->signature->band-join subtree twice. `pairs` lets a suite
    # hand in an already-checkpointed frame shared with other branches
    # (lsh_eval / dedup_keep_best), the _pages/_links discipline.
    edges = (
        pairs
        if pairs is not None
        else minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    )
    sym = (
        edges.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(edges.selectExpr("doc_b AS src", "doc_a AS dst"))
        .persist()
    )
    # localCheckpoint (not persist): each round's plan references the
    # previous round THREE times (self-join + neighbour join + output);
    # without lineage truncation the logical plan grows 3^rounds and
    # the driver OOMs planning round ~8. Checkpointing materializes the
    # ~|V| label rows and restarts the plan from them — the standard
    # shape for iterative DataFrame algorithms. (The checkpoint blocks
    # are released when the python refs drop; sym is explicitly
    # unpersisted even on failure.)
    try:
        labels = (
            sym.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_rounds):
            nbr = (
                sym.join(labels, sym["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # pointer jump: label(label(x)) — a label is always a node
            # id of the same component, so the self-join resolves it
            jump = (
                labels.alias("a")
                .join(
                    labels.alias("b"),
                    F.col("a.label") == F.col("b.doc_id"),
                    "left",
                )
                .select(
                    F.col("a.doc_id").alias("j_id"),
                    F.coalesce(F.col("b.label"), F.col("a.label")).alias(
                        "j_label"
                    ),
                )
            )
            new = (
                labels.join(nbr, labels["doc_id"] == nbr["src"], "left")
                .join(jump, labels["doc_id"] == F.col("j_id"))
                .select(
                    labels["doc_id"],
                    F.least(
                        labels["label"],
                        F.coalesce(nbr["nbr_label"], labels["label"]),
                        F.col("j_label"),
                    ).alias("label"),
                    (
                        F.least(
                            labels["label"],
                            F.coalesce(nbr["nbr_label"], labels["label"]),
                            F.col("j_label"),
                        )
                        < labels["label"]
                    ).alias("changed"),
                )
                .localCheckpoint(eager=True)
            )
            any_changed = new.agg(F.max("changed")).collect()[0][0]
            labels = new.drop("changed")
            if not any_changed:
                break
        else:
            # diameter beyond the pointer-jump budget: rewire instead
            # of walking — star contraction converges in O(log^2 n)
            # rounds of the SAME per-round shuffle shape
            return connected_components_star(
                edges.selectExpr("doc_a AS src", "doc_b AS dst")
            )
    finally:
        sym.unpersist()
    return labels.select(
        "doc_id", F.col("label").cast("long").alias("cluster_rep")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_PAIRS_SQL}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id,
       CAST(least(src, min(dst)) AS bigint) AS cluster_rep
FROM reach GROUP BY src
"""


def dedup_keep_best_rows(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(op='dedup_keep_best', k=cluster_rep, v=n_docs|keep_doc_id|
    best_len) suite rows: the canonical-document SELECTION a near-dup
    pass actually ships (SlimPajama / FineWeb keep-policy) — within
    each LSH duplicate cluster keep the highest-quality member (here:
    longest text; production swaps any scalar score in), ties to the
    smallest doc_id, drop the rest. min-doc_id keep (exact_dedup) is
    the hash-equality policy; THIS is the near-dup one, where members
    differ and quality decides.

    Plan: dedup_clusters (iterative CC, already lineage-truncated) ->
    ONE doc_id equi-join to a 2-column pruned documents scan -> ONE
    groupBy(cluster_rep) whose argmax is a single min(struct(-q, id))
    aggregate — no window, no per-cluster sort; per-key state is one
    struct however large the cluster."""
    from paddleocr_spark.sources.scan import scan_parquet

    clusters = dedup_clusters(spark, sf_dir, pairs=pairs)
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").cast("long").alias("q")
    )
    joined = clusters.join(docs, "doc_id")
    return keep_best(joined).select(
        F.lit("dedup_keep_best").alias("op"),
        F.col("cluster_rep").cast("string").alias("k"),
        F.concat_ws("|", "n_docs", "keep_doc_id", "best_q").alias("v"),
    )


def keep_best(members: DataFrame) -> DataFrame:
    """members(cluster_rep, doc_id, q) -> one row per cluster:
    (cluster_rep, n_docs, keep_doc_id = argmax q with ties to min
    doc_id, best_q). A single min(struct(-q, doc_id)) aggregate — no
    window, no per-cluster sort; separated so the tie-break is
    unit-testable."""
    return (
        members.groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(
                F.struct(
                    (-F.col("q")).alias("nq"), F.col("doc_id").alias("d")
                )
            ).alias("best"),
        )
        .select(
            "cluster_rep",
            "n_docs",
            F.col("best.d").alias("keep_doc_id"),
            (-F.col("best.nq")).alias("best_q"),
        )
    )


# argmax twin: row_number over (len DESC, doc_id) inside each recursive
# CC cluster — same keep semantics, window form (the Spark side avoids
# the window on purpose; both orderings are total so they agree).
DEDUP_KEEP_BEST_SQL = f"""
SELECT CAST(cluster_rep AS string) AS cluster_rep,
       n_docs, keep_doc_id, best_len
FROM (
  SELECT c.cluster_rep,
         CAST(count(*) OVER (PARTITION BY c.cluster_rep) AS bigint)
           AS n_docs,
         d.doc_id AS keep_doc_id,
         CAST(length(d.text) AS bigint) AS best_len,
         row_number() OVER (PARTITION BY c.cluster_rep
                            ORDER BY length(d.text) DESC, d.doc_id) AS rn
  FROM ({DEDUP_CLUSTERS_SQL}) c
  JOIN documents d USING (doc_id))
WHERE rn = 1
ORDER BY cluster_rep
"""


# ---------------------------------------------------------------------------
# Exact substring (duplicated-span) dedup — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"
# (arXiv:2107.06499). The paper removes every repeated >=50-token span
# from the corpus, keeping one occurrence. SPAN_W is the token window at
# fixture scale (docs are 10-100 tokens).
# ---------------------------------------------------------------------------

SPAN_W = 8  # duplicated-span window, in tokens
POS_CAP = 1 << 20  # tokens per document the packed occurrence key holds


def _gram_occurrences(docs: DataFrame, w: int) -> DataFrame:
    """docs(doc_id, toks) -> (doc_id, pos, g=md5(w-gram),
    k=doc_id*POS_CAP+pos). md5 bounds the shuffle/join key at 32 bytes
    regardless of w. The packed key totally orders occurrences by
    (doc_id, pos) ONLY while pos < POS_CAP (1M tokens — far past any
    real web document) and doc_id < 2^43 (~8.8e12, covers the 10^12
    target); a doc at or past the cap RAISES instead of silently
    colliding with a neighbour doc's key. The guard lives inside the
    k expression so column pruning can never drop it."""
    # sequence(0, negative) DESCENDS in Spark -- gate short docs first
    grams = F.when(
        F.size("toks") >= w,
        F.expr(
            f"transform(sequence(0, size(toks) - {w}), i -> "
            f"struct(i AS pos, md5(concat_ws(' ', slice(toks, i + 1, {w}))) AS g))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<pos:int,g:string>>"))
    return (
        docs.select("doc_id", F.explode(grams).alias("o"))
        .select(
            "doc_id",
            F.col("o.pos").alias("pos"),
            F.col("o.g").alias("g"),
        )
        .select(
            "doc_id",
            "pos",
            "g",
            F.expr(
                f"CASE WHEN pos >= {POS_CAP} THEN CAST(raise_error("
                f"'exact_substring_dedup: document exceeds POS_CAP="
                f"{POS_CAP} tokens; widen the packed key') AS long) "
                f"ELSE doc_id * {POS_CAP}L + pos END"
            ).alias("k"),
        )
    )


def exact_substring_dedup(
    spark: SparkSession, sf_dir: str, w: int = SPAN_W
) -> DataFrame:
    """Corpus-wide duplicated-span removal: every w-token gram occurring
    more than once keeps only its first occurrence (smallest
    (doc_id, pos)); every other occurrence marks its token span, marked
    spans whose coverage is contiguous merge, and the cleaned document
    is the unmarked tokens in order.

    The reference paper builds a suffix array; the Spark-first shape is
    a gram explode -> ONE corpus-wide groupBy(md5(gram)) (map-side
    combine applies; md5 bounds the shuffle key at 32 bytes regardless
    of w) -> join back on the same key (reuses the hash partitioning)
    -> per-doc window islands -> positional anti-join. No Python UDF
    anywhere; every step is a JVM expression. Occurrence order is
    encoded as doc_id*POS_CAP+pos (guarded: a doc at or past POS_CAP
    tokens raises rather than colliding with a neighbour's key; valid
    for doc_id < 2^43, past the 10^12 target).
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    occ = _gram_occurrences(docs, w)
    grp = occ.groupBy("g").agg(
        F.count(F.lit(1)).alias("c"), F.min("k").alias("keep")
    )
    dups = (
        occ.join(grp, "g")
        .filter((F.col("c") > 1) & (F.col("k") != F.col("keep")))
        .select("doc_id", "pos", (F.col("pos") + w - 1).alias("e"))
    )
    from pyspark.sql.window import Window

    wnd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(wnd.rowsBetween(Window.unboundedPreceding, -1))
    marked = dups.withColumn(
        "brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "isl", F.sum("brk").over(wnd.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    covered = spans.select(
        "doc_id", F.explode(F.sequence("s", "e")).alias("pos")
    )
    tokpos = docs.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
        ).alias("cleaned_text")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_dup_tokens"),
    )
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


EXACT_SUBSTRING_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
occ AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(toks, i + 1, i + {SPAN_W}), ' ')) AS g,
         CASE WHEN i >= {POS_CAP}
              THEN CAST(error('exact_substring_dedup: document exceeds '
                              || 'POS_CAP tokens') AS bigint)
              ELSE doc_id * {POS_CAP} + i END AS k
  FROM docs, UNNEST(generate_series(0, len(toks) - {SPAN_W})) AS t(i)
  WHERE len(toks) >= {SPAN_W}
),
grp AS (SELECT g, count(*) AS c, min(k) AS keep FROM occ GROUP BY g),
dups AS (
  SELECT occ.doc_id, occ.pos, occ.pos + {SPAN_W - 1} AS e
  FROM occ JOIN grp USING (g)
  WHERE grp.c > 1 AND occ.k != grp.keep
),
brk AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER prev IS NULL
                OR pos > max(e) OVER prev + 1
              THEN 1 ELSE 0 END AS b
  FROM dups
  WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT doc_id, pos, e,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM brk
),
spans AS (
  SELECT doc_id, isl_id, min(pos) AS s, max(e) AS e
  FROM isl GROUP BY doc_id, isl_id
),
covered AS (
  SELECT doc_id, UNNEST(generate_series(s, e)) AS pos FROM spans
),
tokpos AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM docs, UNNEST(generate_series(0, len(toks) - 1)) AS t(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp
  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
  WHERE c.doc_id IS NULL
),
cleaned AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
),
stats AS (
  SELECT doc_id, CAST(count(*) AS bigint) AS n_spans,
         CAST(sum(e - s + 1) AS bigint) AS n_dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(st.n_spans, 0) AS n_spans,
       coalesce(st.n_dup_tokens, 0) AS n_dup_tokens,
       coalesce(cl.cleaned_text, '') AS cleaned_text
FROM (SELECT doc_id FROM documents) d
LEFT JOIN stats st USING (doc_id)
LEFT JOIN cleaned cl USING (doc_id)
ORDER BY doc_id
"""


def substring_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='substring_dedup', k=doc_id, v=n_spans|n_dup_tokens|cleaned)
    suite row for the gate board (value-hash covers the cleaned text
    byte-exactly)."""
    return exact_substring_dedup(spark, sf_dir).select(
        F.lit("substring_dedup").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_spans", "n_dup_tokens", "cleaned_text").alias("v"),
    )


DECON_MOD = 97  # doc_id % DECON_MOD == 0 marks the held-out eval slice


def decontaminate(
    spark: SparkSession, sf_dir: str, w: int = SPAN_W, mod: int = DECON_MOD
) -> DataFrame:
    """Train/eval n-gram decontamination (Brown et al. 2020, GPT-3
    appendix C: training documents sharing an N-gram with a benchmark
    example are dropped before training). The held-out set is the
    deterministic `doc_id % mod == 0` slice; a training document is
    contaminated when any of its w-token grams appears anywhere in the
    eval slice.

    Spark shape: gram explode both sides -> distinct eval gram set ->
    broadcast it into the train-side equi-join -> per-doc hit count.
    The broadcast is the scale story: the benchmark is fixed-size while
    training data grows without bound, so the eval gram set stays
    executor-memory-sized at 10^12 training docs and the join never
    shuffles the training grams."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    occ = _gram_occurrences(docs, w)
    is_eval = (F.col("doc_id") % mod) == 0
    eval_grams = occ.filter(is_eval).select("g").distinct()
    hits = (
        occ.filter(~is_eval)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
occ AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, i + 1, i + {SPAN_W}), ' ')) AS g
  FROM docs, UNNEST(generate_series(0, len(toks) - {SPAN_W})) AS t(i)
  WHERE len(toks) >= {SPAN_W}
),
ev AS (SELECT DISTINCT g FROM occ WHERE doc_id % {DECON_MOD} = 0),
hits AS (
  SELECT occ.doc_id, count(*) AS n
  FROM occ JOIN ev USING (g)
  WHERE occ.doc_id % {DECON_MOD} != 0
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS bigint) AS n_shared_grams,
       CAST(coalesce(h.n, 0) > 0 AS int) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_MOD} != 0) d
LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


def decontaminate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='decontaminate', k=doc_id, v=n_shared|flag) suite row."""
    return decontaminate(spark, sf_dir).select(
        F.lit("decontaminate").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_shared_grams", "contaminated").alias("v"),
    )


def content_fingerprint(col):
    """md5 of lowercase alnum-collapsed text — the same normalization as
    doc_fingerprints (functions/text.py) and CONTENT_FP_SQL."""
    return F.md5(
        F.trim(F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]+", " ")))
    )


# -- CCNet-style paragraph-level dedup ----------------------------------------

PARA_W = 8          # tokens per synthetic paragraph unit (see docstring)
PARA_CAP = 1 << 20  # units per doc before the packed key would collide


def paragraph_dedup(
    spark: SparkSession, sf_dir: str, w: int = PARA_W
) -> DataFrame:
    """CCNet-style duplicate-paragraph removal (Wenzek et al. 2019 §3,
    the per-paragraph dedup CCNet runs before LM scoring): each
    paragraph is normalized — lowercased, digits squashed to '0' — and
    hashed; every normalized paragraph keeps only its FIRST occurrence
    in (doc_id, unit_idx) order and all later occurrences are dropped,
    corpus-wide; documents are reassembled from the surviving units in
    order. Differs from exact_substring_dedup above on all three axes
    that matter: non-overlapping units (not a sliding gram), normalized
    matching (case/digit-insensitive — boilerplate like "© 2024 ..."
    collapses across years), and whole-unit removal (no span merging).

    The fixture corpus has no newline structure, so the paragraph unit
    is a deterministic w-token chunk of the whitespace tokenization; on
    a real crawl the unit is `split(text, '\\n')` — ONLY the unit
    expression changes, the dedup shape below is unit-agnostic.

    Spark shape (10^12-doc design): chunk explode -> ONE corpus-wide
    groupBy(md5(normalized unit)) with map-side partial agg (md5 bounds
    the shuffle key at 32 bytes regardless of unit length) -> join back
    on the SAME key (hash partitioning reused, no second shuffle
    layout) -> per-doc reassembly groupBy. No window over the unit key:
    a paragraph repeated 10^9 times ("subscribe to our newsletter")
    would hot-spot a window partition, while min() aggregation combines
    map-side. Occurrence order is doc_id*PARA_CAP+idx with the same
    raise-don't-collide guard as _gram_occurrences.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    n_units = F.expr(f"CAST(ceil(size(toks) / {w}.0) AS bigint)")
    units = F.expr(
        f"transform(sequence(0, CAST(ceil(size(toks) / {w}.0) AS int) - 1), "
        f"i -> struct(CAST(i AS bigint) AS idx, "
        f"concat_ws(' ', slice(toks, i * {w} + 1, {w})) AS para))"
    )
    occ = (
        docs.select("doc_id", F.explode(units).alias("u"))
        .select(
            "doc_id",
            F.col("u.idx").alias("idx"),
            F.col("u.para").alias("para"),
            F.md5(
                F.lower(F.regexp_replace(F.col("u.para"), "[0-9]", "0"))
            ).alias("key"),
            F.expr(
                f"CASE WHEN u.idx >= {PARA_CAP} THEN CAST(raise_error("
                f"'paragraph_dedup: document exceeds PARA_CAP units') "
                f"AS bigint) ELSE doc_id * {PARA_CAP} + u.idx END"
            ).alias("k"),
        )
    )
    grp = occ.groupBy("key").agg(F.min("k").alias("keep"))
    kept = occ.join(grp, "key").filter(F.col("k") == F.col("keep"))
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.expr(
                "transform(array_sort(collect_list(struct(idx, para))),"
                " x -> x.para)"
            ),
        ).alias("cleaned_text"),
    )
    return (
        docs.select("doc_id", n_units.alias("n_paras"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_paras").cast("long").alias("n_paras"),
            (F.col("n_paras") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


PARAGRAPH_DEDUP_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
units AS (
  SELECT doc_id, i AS idx,
         array_to_string(list_slice(toks, i * {PARA_W} + 1,
                                    i * {PARA_W} + {PARA_W}), ' ') AS para
  FROM docs,
       UNNEST(generate_series(0,
              CAST(ceil(len(toks) / {PARA_W}.0) AS bigint) - 1)) AS t(i)
),
occ AS (
  SELECT doc_id, idx, para,
         md5(lower(regexp_replace(para, '[0-9]', '0', 'g'))) AS key,
         CASE WHEN idx >= {PARA_CAP}
              THEN CAST(error('paragraph_dedup: document exceeds '
                              || 'PARA_CAP units') AS bigint)
              ELSE doc_id * {PARA_CAP} + idx END AS k
  FROM units
),
grp AS (SELECT key, min(k) AS keep FROM occ GROUP BY key),
kept AS (
  SELECT occ.doc_id, occ.idx, occ.para
  FROM occ JOIN grp USING (key) WHERE occ.k = grp.keep
),
cleaned AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10) ORDER BY idx) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(ceil(len(d.toks) / {PARA_W}.0) AS bigint) AS n_paras,
       CAST(ceil(len(d.toks) / {PARA_W}.0) AS bigint)
         - coalesce(cl.n_kept, 0) AS n_removed,
       coalesce(cl.cleaned_text, '') AS cleaned_text
FROM docs d
LEFT JOIN cleaned cl USING (doc_id)
ORDER BY doc_id
"""


def paragraph_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='paragraph_dedup', k=doc_id, v=n_paras|n_removed|cleaned)
    suite row (value-hash covers the reassembled text byte-exactly)."""
    return paragraph_dedup(spark, sf_dir).select(
        F.lit("paragraph_dedup").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "n_paras", "n_removed", "cleaned_text").alias("v"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC/LBFS family) — binary-blob dedup.
#
# Fixed-size blocking misses duplicates the moment content shifts by a
# byte; CDC cuts where a ROLLING HASH of the last CDC_WINDOW bytes hits
# a mask, so boundaries travel with the content and shifted copies of a
# blob still chunk identically — the storage/dataset-dedup primitive
# behind rsync/LBFS/FastCDC and binary-media dedup in training
# pipelines. The fixture payload is an arithmetic byte progression
# (b_i = (7*doc + 13*i) mod 251): every doc reads the SAME 251-cycle at
# a different phase, i.e. every pair of payloads is a byte-shift of
# each other — exactly the workload where CDC recovers cross-doc
# duplicates that offset-based blocking cannot. Fully closed-form, so
# the DuckDB twin pins boundaries, features and dedup groups strictly.
#
# Scale shape: boundary detection + chunk features are ONE narrow
# JVM-expression projection per doc (no UDF, no shuffle); the dedup
# aggregation is one corpus-wide groupBy on the bounded chunk-identity
# key with map-side combine — the exact_duplicates discipline applied
# to binary chunks.
# ---------------------------------------------------------------------------

CDC_WINDOW = 8
CDC_BASE = 3
CDC_MASK_MOD = 64  # cut when hash % 64 == 0 (~1/64 boundary rate)
CDC_BYTE_MOD = 251
CDC_LEN_BASE, CDC_LEN_SPREAD = 400, 200


def _cdc_chunks_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk frame (doc_id, idx, s, len, bytesum, wsum), all
    JVM-side expressions over the closed-form payload."""

    d = F.col("doc_id")
    n = F.lit(CDC_LEN_BASE) + d % CDC_LEN_SPREAD
    b = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: (d * 7 + i * 13) % CDC_BYTE_MOD,
    )
    # The heavy per-row expression work (payload synthesis + the O(n)
    # hash scan below) is CPU-bound, but the fixture parquet is one
    # input split — without a spread it all lands on ONE task. The
    # repartition shuffles only doc_id longs (bytes, not payloads), so
    # the spread is ~free and the scan parallelizes across every core;
    # at production scale the table arrives in many splits and AQE can
    # coalesce this no-op.
    docs = (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("n", n)
        .withColumn("b", b)
    )
    # True O(n) rolling hash (round-4 advice: the old form re-summed the
    # full 8-byte window per position — O(n*W) expression work). With
    # h(p) = sum_{j<W} b[p-j]*3^j the recurrence is
    #   h(p) = 3*h(p-1) + b[p] - 3^W * b[p-W]
    # carried through ONE aggregate scan whose accumulator is (h, cuts);
    # the cuts array only grows at boundaries (~n/64 appends), so the
    # scan is O(n) adds + O(#cuts) array copies. Still a single narrow
    # JVM-expression projection — no UDF, no shuffle.
    pow_w = F.lit(CDC_BASE**CDC_WINDOW)
    h0 = F.aggregate(  # Horner over the first window -> h(W-1)
        F.slice(F.col("b"), 1, CDC_WINDOW),
        F.lit(0).cast("long"),
        lambda a, x: a * CDC_BASE + x,
    )
    state0 = F.struct(
        h0.alias("h"),
        F.when(
            h0 % CDC_MASK_MOD == 0,
            F.array(F.lit(CDC_WINDOW - 1).cast("long")),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("cuts"),
    )

    def _step(acc, p):
        newh = (
            acc["h"] * CDC_BASE
            + F.element_at(F.col("b"), (p + 1).cast("int"))
            - F.element_at(F.col("b"), (p - CDC_WINDOW + 1).cast("int"))
            * pow_w
        )
        return F.struct(
            newh.alias("h"),
            F.when(
                newh % CDC_MASK_MOD == 0,
                F.concat(acc["cuts"], F.array(p.cast("long"))),
            )
            .otherwise(acc["cuts"])
            .alias("cuts"),
        )

    cuts = F.aggregate(
        F.sequence(F.lit(CDC_WINDOW), F.col("n") - 1),
        state0,
        _step,
        lambda acc: acc["cuts"],
    )
    starts = F.concat(
        F.array(F.lit(0)), F.transform(cuts, lambda c: c + 1)
    )
    ends = F.concat(
        F.transform(cuts, lambda c: c + 1), F.array(F.col("n"))
    )
    spans = F.filter(
        F.arrays_zip(starts.alias("s"), ends.alias("e")),
        lambda z: z["e"] > z["s"],
    )
    chunk = F.col("chunk")
    seg = F.slice(
        F.col("b"),
        (chunk["s"] + 1).cast("int"),
        (chunk["e"] - chunk["s"]).cast("int"),
    )
    return (
        docs.select(
            "doc_id", "b", F.posexplode(spans).alias("idx", "chunk")
        )
        .select(
            "doc_id",
            F.col("idx").cast("long").alias("idx"),
            chunk["s"].cast("long").alias("s"),
            (chunk["e"] - chunk["s"]).cast("long").alias("len"),
            F.aggregate(
                seg, F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("bytesum"),
            F.aggregate(
                F.zip_with(
                    seg,
                    F.sequence(
                        F.lit(1), (chunk["e"] - chunk["s"]).cast("int")
                    ),
                    lambda x, i: x * i,
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("wsum"),
        )
    )


def cdc_chunk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='cdc', k=doc|idx, v=start|len|bytesum|wsum): every chunk's
    boundary + content features."""
    return _cdc_chunks_frame(spark, sf_dir).select(
        F.lit("cdc").alias("op"),
        F.concat_ws("|", "doc_id", "idx").alias("k"),
        F.concat_ws("|", "s", "len", "bytesum", "wsum").alias("v"),
    )


def cdc_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='cdc_dup', k=len|bytesum|wsum, v=n_occ|n_docs): corpus-wide
    chunk-identity dedup groups — shifted payloads land in the same
    groups because boundaries are content-defined."""
    return (
        _cdc_chunks_frame(spark, sf_dir)
        .groupBy("len", "bytesum", "wsum")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select(
            F.lit("cdc_dup").alias("op"),
            F.concat_ws("|", "len", "bytesum", "wsum").alias("k"),
            F.concat_ws("|", "n_occ", "n_docs").alias("v"),
        )
    )


_CDC_HASH_SQL = " + ".join(
    f"((doc_id * 7 + (p.p - {j}) * 13) % {CDC_BYTE_MOD}) * {CDC_BASE**j}"
    for j in range(CDC_WINDOW)
)

CDC_CHUNKS_SQL = f"""
WITH d AS (
  SELECT doc_id, {CDC_LEN_BASE} + doc_id % {CDC_LEN_SPREAD} AS n
  FROM documents
),
cutseq AS (
  SELECT doc_id, n, CAST(p.p + 1 AS bigint) AS nxt
  FROM d, generate_series({CDC_WINDOW - 1},
                          {CDC_LEN_BASE + CDC_LEN_SPREAD - 1}) p(p)
  WHERE p.p < n AND ({_CDC_HASH_SQL}) % {CDC_MASK_MOD} = 0
  UNION ALL
  SELECT doc_id, n, 0 FROM d
),
chunks AS (
  SELECT doc_id, n, nxt AS s,
         lead(nxt, 1, CAST(n AS bigint))
           OVER (PARTITION BY doc_id ORDER BY nxt) AS e,
         row_number() OVER (PARTITION BY doc_id ORDER BY nxt) - 1 AS idx
  FROM cutseq
),
feat AS (
  SELECT c.doc_id, c.idx, c.s, c.e - c.s AS len,
         sum((c.doc_id * 7 + b.i * 13) % {CDC_BYTE_MOD}) AS bytesum,
         sum(((c.doc_id * 7 + b.i * 13) % {CDC_BYTE_MOD})
             * (b.i - c.s + 1)) AS wsum
  FROM chunks c
  JOIN (SELECT d.doc_id, i.i AS i
        FROM d, generate_series(0, {CDC_LEN_BASE + CDC_LEN_SPREAD - 1}) i(i)
        WHERE i.i < d.n) b
    ON b.doc_id = c.doc_id AND b.i >= c.s AND b.i < c.e
  WHERE c.e > c.s
  GROUP BY c.doc_id, c.idx, c.s, c.e
)
SELECT * FROM feat
"""

CDC_ROWS_SQL = f"""
SELECT 'cdc' AS op, concat_ws('|', doc_id, idx) AS k,
       concat_ws('|', s, len, bytesum, wsum) AS v
FROM ({CDC_CHUNKS_SQL})
"""

CDC_DUP_SQL = f"""
SELECT 'cdc_dup' AS op, concat_ws('|', len, bytesum, wsum) AS k,
       concat_ws('|', n_occ, n_docs) AS v
FROM (
  SELECT len, bytesum, wsum, count(*) AS n_occ,
         count(DISTINCT doc_id) AS n_docs
  FROM ({CDC_CHUNKS_SQL})
  GROUP BY len, bytesum, wsum
)
"""
