"""Distributed k-means over `embeddings` + SemDeDup semantic dedup.

The reference corpus pipeline clusters document embeddings to (a) train
the IVF coarse quantizer (`similarity.ivf_topk` consumes exactly such
centroids) and (b) drive SemDeDup-style semantic deduplication
(Abbas et al. 2023: cluster, then drop near-duplicates within each
cluster). Both are rebuilt Spark-first here:

- **Lloyd's iterations in the MLlib shape**: centroids live on the
  driver (K is small), each iteration is ONE map-side assignment (the
  centroid table is a literal array — zero shuffle) plus ONE
  groupBy(cell) update with fixed-width per-dimension SUM aggregates
  (map-side partial agg; the shuffle carries K*dim longs per partition,
  never the vectors). The only driver traffic is K*dim ints per
  iteration — the same contract as `dedup_clusters`' per-round scalar.
- **Exact integer-lattice arithmetic** so the result is reproducible
  across engines, partitionings, and aggregation orders: inputs are
  quantized once as q_i = floor(x_i * 2^10) (power-of-two scaling of a
  float32 is EXACT in IEEE double — no rounding anywhere), centroids are
  kept at scale 2^20 as m_i = floor(sum(q_i) * 2^10 / n) (one correctly-
  rounded division, identical in Spark and DuckDB), and the assignment
  argmin uses the integer score  dot(M,M) - 2*2^10*dot(q,M)  (the
  ||q||^2 term is k-invariant and dropped). Floating-point SUM order —
  the classic distributed-kmeans reproducibility hole — never arises
  because every SUM is over BIGINTs.
- **SemDeDup** reuses the final assignment: within each cell, a vector
  is dropped when a smaller-id neighbour has cosine >= TAU. The cosine
  test is integer-exact too:  dot > 0  AND  TAU_DEN^2*dot^2 >=
  TAU_NUM^2*||a||^2*||b||^2.  Per-cell pair joins are bounded by the
  cell size (production keeps cells at a few thousand via K ~ n/cap —
  the SemDeDup paper's own design); the join is an equi-join on cell,
  never a cross join.

Magnitude guardrails (|x| < 1 in the corpus, dim 64): |q| <= 2^10,
dot(q,q) <= 64*2^20 < 2^27, dot(M,M) <= 2^47, TAU_DEN^2*dot^2 < 2^58 —
all comfortably inside BIGINT. On the DuckDB side every
list_dot_product (<= 2^47, exact in a double) is CAST to BIGINT
BEFORE the threshold multiplications, so nothing above 2^53 ever
transits a double there either.

Reference behavior mirrored: deepset/SemDeDup keep-lowest-id rule;
centroid init = deterministic systematic sample (vec_id % KM_INIT_MOD
== KM_INIT_RES), the moral equivalent of MLlib's seeded init.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.functions.pca import PCA_SQL as _PCA_SQL
from paddleocr_spark.functions.similarity import (
    ANN_RECALL_SQL,
    SQ8_TOPK_SQL,
    _emb,
)
from paddleocr_spark.sources.scan import scan_parquet

QUANT = 1024  # 2^10: power-of-two => quantization is exact IEEE
KM_INIT_MOD = 61
KM_INIT_RES = 3
KM_ITERS = 2
DIM = 64  # embeddings.parquet dim (TESTDATA.md); Spark side re-derives
# SemDeDup threshold tau = TAU_NUM/TAU_DEN. Production uses ~0.95; the
# synthetic corpus is isotropic (max pairwise cos ~0.51) so the gate
# exercises the math at 0.3 to keep BOTH verdicts populated (~40% drop
# at sf0.001).
TAU_NUM = 3
TAU_DEN = 10


def _dot_long(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * QUANT).cast("long"),
        ).alias("qq"),
    )


def _assign(q: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Map-side nearest-centroid assignment against a literal centroid
    array (no shuffle, no join). Tie-break: smallest cent_id, via
    lexicographic array_min over (score, cent_id) structs.

    The literal is rendered as ONE SQL string and parsed JVM-side in a
    single call: building K*dim nested F.lit/F.struct objects costs one
    py4j round-trip per node (~5.7 s of pure driver time per assign at
    K=33, dim=64 — most of the suite's wall clock was expression
    CONSTRUCTION, not Lloyd's)."""
    cent_sql = "array(" + ",".join(
        "named_struct('mm', {mm}L, 'm', array({m}), 'c', {c}L)".format(
            mm=sum(v * v for v in m),
            m=",".join(f"{int(v)}L" for v in m),
            c=int(cid),
        )
        for cid, m in cents
    ) + ")"
    scored = F.transform(
        F.expr(cent_sql),
        lambda ct: F.struct(
            (ct["mm"] - F.lit(2 * QUANT) * _dot_long(F.col("qq"), ct["m"])).alias("s"),
            ct["c"].alias("c"),
        ),
    )
    return q.withColumn("cell", F.array_min(scored)["c"])


def _update(assigned: DataFrame, dim: int) -> DataFrame:
    """One Lloyd's update: per-cell count + per-dimension integer sums
    (fixed-width aggregates -> map-side combine; the shuffle carries
    aggregated state only), then the exact re-quantized centroid
    m_i = floor(s_i * QUANT / n)."""
    # single-expr construction (same py4j round-trip economy as _assign)
    upd = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum(qq[{i}]) AS s{i}") for i in range(dim)],
    )
    arr = ",".join(f"s{i}" for i in range(dim))
    return upd.select(
        "cell",
        "n",
        F.expr(
            f"transform(array({arr}), s -> "
            f"CAST(FLOOR(CAST(s AS DOUBLE) * {QUANT} / n) AS BIGINT))"
        ).alias("m"),
    )


def _train(
    spark: SparkSession, sf_dir: str, iters: int = KM_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Run Lloyd's; returns (final_centroids_df, final_assignment_df).
    Collects K*dim ints to the driver per iteration (MLlib's own
    pattern); the final update stays a DataFrame."""
    q = _quantized(spark, sf_dir)
    seeds = (
        q.filter(F.col("vec_id") % KM_INIT_MOD == KM_INIT_RES)
        .select("vec_id", F.transform("qq", lambda v: v * QUANT).alias("m"))
        .collect()
    )
    cents = [(r["vec_id"], list(r["m"])) for r in seeds]
    if not cents:
        raise ValueError(
            "k-means systematic sample produced no seeds (no vec_id with "
            f"vec_id % {KM_INIT_MOD} == {KM_INIT_RES}); widen KM_INIT_MOD"
        )
    dim = len(cents[0][1])  # the seeds collect already carries the dim
    assigned = _assign(q, cents)
    for _ in range(iters - 1):
        rows = _update(assigned, dim).collect()
        cents = [(r["cell"], list(r["m"])) for r in rows]
        assigned = _assign(q, cents)
    return _update(assigned, dim), assigned


def _semdedup_from(assigned: DataFrame) -> DataFrame:
    """SemDeDup verdict per vector: (vec_id, cell, dropped). A vector is
    dropped when its final k-means cell contains a smaller-id vector
    with cosine >= TAU_NUM/TAU_DEN (integer-exact test, see module
    docstring). Equi-join on cell only."""
    other =assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("qq").alias("b_qq"),
    )
    dot = _dot_long(F.col("qq"), F.col("b_qq"))
    cond = (dot > 0) & (
        F.lit(TAU_DEN * TAU_DEN) * dot * dot
        >= F.lit(TAU_NUM * TAU_NUM)
        * _dot_long(F.col("qq"), F.col("qq"))
        * _dot_long(F.col("b_qq"), F.col("b_qq"))
    )
    hit = (
        assigned.join(other, "cell")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(cond)
        .select("vec_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(hit, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dropped", F.lit(0)).cast("int").alias("dropped"),
        )
    )


# bitext mining threshold: recall-oriented (mining wants candidates
# for downstream alignment, not dedup certainty), integer-exact like TAU
BITEXT_NUM, BITEXT_DEN = 2, 5


def _bitext_from(assigned: DataFrame, langs: DataFrame) -> DataFrame:
    """(a_id, b_id, cell, dot): cross-LANGUAGE near-neighbor pairs
    within a k-means cell — parallel-corpus (bitext) candidate mining:
    documents in different languages whose embeddings sit in the same
    coarse cell with cosine >= BITEXT_NUM/BITEXT_DEN are translation
    candidates for a downstream aligner. Same integer-exact cosine
    test and per-cell equi-join discipline as SemDeDup; the lang
    column joins on once, before the self-join, so both pair sides
    carry it through the single cell-key exchange."""
    a = assigned.join(langs, "vec_id")
    b = a.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("qq").alias("b_qq"),
        F.col("lang").alias("b_lang"),
    )
    dot = _dot_long(F.col("qq"), F.col("b_qq"))
    cond = (dot > 0) & (
        F.lit(BITEXT_DEN * BITEXT_DEN) * dot * dot
        >= F.lit(BITEXT_NUM * BITEXT_NUM)
        * _dot_long(F.col("qq"), F.col("qq"))
        * _dot_long(F.col("b_qq"), F.col("b_qq"))
    )
    return (
        a.join(b, "cell")
        .filter(F.col("b_id") < F.col("vec_id"))
        .filter(F.col("b_lang") != F.col("lang"))
        .filter(cond)
        .select(
            F.col("b_id").alias("a_id"),
            F.col("vec_id").alias("b_id2"),
            "cell",
            dot.alias("dot"),
        )
    )


def _langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )


def embedding_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means + SemDeDup (+ bitext, sq8, recall, pca, pq) as ONE
    union-tagged (op, k, v) gate row. kmeans/semdedup/bitext share a
    single training run; the final assignment is localCheckpoint'ed
    because the returned plan references it from several sides (same
    discipline as text_stats_suite's html_links).

    Construction runs on a thread pool (the text_stats_suite
    rationale): every branch has driver-BLOCKING phases — Lloyd
    centroid collects, PCA power-step aggregations, PQ codebook
    training, the recall gate's exact-top-K collects — that are pure
    wait from the driver's perspective. Threads overlap those stalls;
    branch results are unioned in the fixed declaration order, so the
    output frame is unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    builders = embedding_branch_builders(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        frames = [f.result() for f in [pool.submit(b[1]) for b in builders]]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def embedding_branch_builders(spark: SparkSession, sf_dir: str):
    """Ordered (name, thunk) registry of the suite's branches for
    bench.py's per-op breakdown — the train branch is rebuilt per call
    (each thunk owns its own Lloyd run), so timings are standalone."""
    from paddleocr_spark.functions.pca import pca_rows
    from paddleocr_spark.functions.pq import pq_rows
    from paddleocr_spark.functions.similarity import ann_recall_rows, sq8_topk

    def _train_branches():
        final, assigned = _train(spark, sf_dir)
        assigned = assigned.localCheckpoint()
        km = final.select(
            F.col("cell").alias("cent_id"), "n",
            F.posexplode("m").alias("pos", "m"),
        ).select(
            F.lit("kmeans").alias("op"),
            F.concat_ws("|", "cent_id", "pos").alias("k"),
            F.concat_ws("|", "m", "n").alias("v"),
        )
        sd = _semdedup_from(assigned).select(
            F.lit("semdedup").alias("op"),
            F.col("vec_id").cast("string").alias("k"),
            F.concat_ws("|", "cell", "dropped").alias("v"),
        )
        bt = _bitext_from(assigned, _langs(spark, sf_dir)).select(
            F.lit("bitext").alias("op"),
            F.concat_ws("|", "a_id", "b_id2").alias("k"),
            F.concat_ws("|", "cell", "dot").alias("v"),
        )
        return km.unionByName(sd).unionByName(bt)

    def _sq():
        return sq8_topk(spark, sf_dir).select(
            F.lit("sq8").alias("op"),
            F.col("vec_id").cast("string").alias("k"),
            F.concat_ws("|", "qdot", "code_sum").alias("v"),
        )

    return [
        ("kmeans_semdedup_bitext", _train_branches),
        ("sq8", _sq),
        ("ann_recall", lambda: ann_recall_rows(spark, sf_dir)),
        ("pca", lambda: pca_rows(spark, sf_dir)),
        ("pq", lambda: pq_rows(spark, sf_dir)),
    ]


# ---------------------------------------------------------------------------
# DuckDB oracles: the same two unrolled Lloyd's iterations as plain SQL.
# Every value that transits a double stays under 2^53, so FLOOR /
# comparisons are exact (list_dot_product returns double in DuckDB).
# generate_series is 1-based like DuckDB list indexing; dim pinned at 64
# (TESTDATA.md) — the Spark side re-derives it from the data.
# ---------------------------------------------------------------------------

def _assign_sql(cent_cte: str) -> str:
    return f"""
  SELECT vec_id, qq, cent_id AS cell FROM (
    SELECT q.vec_id, q.qq, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(c.m, c.m)
                      - {2 * QUANT} * list_dot_product(q.qq, c.m) ASC,
                      c.cent_id ASC) AS rn
    FROM q CROSS JOIN {cent_cte} AS c
  ) WHERE rn = 1
"""


def _update_sql(assign_cte: str) -> str:
    return f"""
  SELECT cell, g.i AS gi,
         CAST(FLOOR(CAST(SUM(qq[g.i]) AS DOUBLE) * {QUANT} / COUNT(*)) AS BIGINT) AS m,
         COUNT(*) AS n
  FROM {assign_cte}, UNNEST(generate_series(1, {DIM})) AS g(i)
  GROUP BY cell, g.i
"""


_KM_CTES = f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qq
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cent_id, list_transform(qq, v -> v * {QUANT}) AS m
  FROM q WHERE vec_id % {KM_INIT_MOD} = {KM_INIT_RES}
),
a1 AS ({_assign_sql('c0')}),
u1 AS ({_update_sql('a1')}),
c1 AS (
  SELECT cell AS cent_id, list(m ORDER BY gi) AS m FROM u1 GROUP BY cell
),
a2 AS ({_assign_sql('c1')}),
u2 AS ({_update_sql('a2')})
"""

KMEANS_TRAIN_SQL = f"""
WITH {_KM_CTES}
SELECT cell AS cent_id, gi - 1 AS pos, m, n
FROM u2
ORDER BY cent_id, pos
"""

SEMDEDUP_SQL = f"""
WITH {_KM_CTES}
SELECT a.vec_id, a.cell,
       CASE WHEN EXISTS (
         SELECT 1 FROM a2 b
         WHERE b.cell = a.cell AND b.vec_id < a.vec_id
           AND CAST(list_dot_product(a.qq, b.qq) AS BIGINT) > 0
           AND {TAU_DEN * TAU_DEN} * CAST(list_dot_product(a.qq, b.qq) AS BIGINT)
               * CAST(list_dot_product(a.qq, b.qq) AS BIGINT)
               >= {TAU_NUM * TAU_NUM} * CAST(list_dot_product(a.qq, a.qq) AS BIGINT)
                  * CAST(list_dot_product(b.qq, b.qq) AS BIGINT)
       ) THEN 1 ELSE 0 END AS dropped
FROM a2 a
ORDER BY vec_id
"""

from paddleocr_spark.functions.pq import (  # noqa: E402 (pq needs
    PQ_SQL as _PQ_SQL,  # QUANT above; late import breaks the cycle)
)

EMBEDDING_OPS_SUITE_SQL = f"""
SELECT 'kmeans' AS op,
       cent_id || '|' || pos AS k,
       m || '|' || n AS v
FROM ({KMEANS_TRAIN_SQL.strip().rstrip()}
) km
UNION ALL
SELECT 'semdedup' AS op,
       CAST(vec_id AS string) AS k,
       cell || '|' || dropped AS v
FROM ({SEMDEDUP_SQL.strip().rstrip()}
) sd
UNION ALL
SELECT 'bitext' AS op,
       b.vec_id || '|' || a.vec_id AS k,
       a.cell || '|' || CAST(list_dot_product(a.qq, b.qq) AS BIGINT) AS v
FROM ({f'WITH {_KM_CTES} SELECT vec_id, qq, cell FROM a2'}) a
JOIN ({f'WITH {_KM_CTES} SELECT vec_id, qq, cell FROM a2'}) b
  ON a.cell = b.cell AND b.vec_id < a.vec_id
JOIN documents da ON da.doc_id = a.vec_id
JOIN documents db ON db.doc_id = b.vec_id
WHERE da.lang != db.lang
  AND CAST(list_dot_product(a.qq, b.qq) AS BIGINT) > 0
  AND {BITEXT_DEN * BITEXT_DEN}
      * CAST(list_dot_product(a.qq, b.qq) AS BIGINT)
      * CAST(list_dot_product(a.qq, b.qq) AS BIGINT)
      >= {BITEXT_NUM * BITEXT_NUM}
         * CAST(list_dot_product(a.qq, a.qq) AS BIGINT)
         * CAST(list_dot_product(b.qq, b.qq) AS BIGINT)
UNION ALL
SELECT 'sq8' AS op, CAST(vec_id AS string) AS k,
       qdot || '|' || code_sum AS v
FROM ({SQ8_TOPK_SQL}) sq
UNION ALL
SELECT 'ann_recall' AS op, k,
       hits || '|' || topk || '|' || recall_micro AS v
FROM ({ANN_RECALL_SQL}) ar
UNION ALL
SELECT op, k, v FROM ({_PCA_SQL}) pc
UNION ALL
SELECT op, k, v FROM ({_PQ_SQL}) pq
"""
