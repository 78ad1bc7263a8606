"""Embedding similarity search over `embeddings(vec_id, embedding
array<float>, label)`.

- brute-force cosine top-k: the exactness baseline. JVM-side arithmetic
  via zip_with/aggregate (no Python UDF); the query vector is broadcast
  (a scalar subquery / literal), so the scan is a single narrow pass —
  at 10^12 rows this is one map stage + a top-k (TakeOrdered), no shuffle
  of the full table.
- LSH-bucketed variant: sign-bit bucket on the first SIGN_BITS dims,
  MULTI-PROBE (the query's bucket + every Hamming-1 neighbor — one
  straddled hyperplane is the dominant miss mode of single-bucket sign
  LSH). The scale path: the bucket is a partition-prunable key (store
  bucketed-by in the table layout), so the scan touches
  (SIGN_BITS+1)/2^SIGN_BITS of the data.
- embedding-cosine near-dup pairs for the dedup family: bucket equi join
  then exact cosine — never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet

QUERY_VEC_ID = 0
TOP_K = 10
SIGN_BITS = 8
ROUND = 4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan_parquet(spark, f"{sf_dir}/embeddings.parquet")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most-similar vectors to QUERY_VEC_ID by cosine (excluding
    itself), deterministic tie-break on vec_id."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    joined = emb.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(q))
    cos = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    return (
        joined.select("vec_id", F.round(cos, ROUND).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       round(list_dot_product(embedding, qv)
             / (sqrt(list_dot_product(embedding, embedding))
                * sqrt(list_dot_product(qv, qv))), {ROUND}) AS cosine
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""


def _bucket(col: Column) -> Column:
    bits = [
        F.when(F.element_at(col, i + 1) >= 0, "1").otherwise("0")
        for i in range(SIGN_BITS)
    ]
    return F.concat(*bits)


def _probe_buckets(qbucket: Column) -> Column:
    """Multi-probe LSH probe set: the query's own bucket plus every
    Hamming-1 neighbor (one sign bit flipped). A near neighbor that
    straddles ONE hyperplane — the dominant miss mode of single-bucket
    sign LSH, which measured recall@10 = 0.0 on this corpus — lands in
    exactly such a neighbor bucket; probing all SIGN_BITS+1 of them
    still prunes the scan to (SIGN_BITS+1)/2^SIGN_BITS (9/256)."""
    flips = [
        F.concat(
            F.substring(qbucket, 1, i),
            F.when(F.substring(qbucket, i + 1, 1) == "1", "0").otherwise("1"),
            F.substring(qbucket, i + 2, SIGN_BITS - i - 1),
        )
        for i in range(SIGN_BITS)
    ]
    return F.array(qbucket, *flips)


def lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: multi-probe sign-LSH — search the query's sign-bit bucket
    plus its Hamming-1 neighbors, then exact cosine top-K within the
    probed set (recall measured by ann_recall_rows each run)."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket(F.col("embedding")))
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q"),
        _probe_buckets(_bucket(F.col("embedding"))).alias("probes"),
    )
    joined = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(F.array_contains(F.col("probes"), F.col("bucket")))
    )
    cos = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    return (
        joined.select("vec_id", F.round(cos, ROUND).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _bucket_sql(col: str) -> str:
    return " || ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(SIGN_BITS)
    )


def _probe_sql() -> str:
    """DuckDB twin of _probe_buckets: [qbucket, 8 one-bit flips]."""
    flips = ", ".join(
        f"substring(qbucket, 1, {i}) || "
        f"(CASE WHEN substring(qbucket, {i + 1}, 1) = '1' "
        f"THEN '0' ELSE '1' END) || "
        f"substring(qbucket, {i + 2}, {SIGN_BITS - i - 1})"
        for i in range(SIGN_BITS)
    )
    return f"[qbucket, {flips}]"


LSH_BUCKET_TOPK_SQL = f"""
WITH b AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings),
q AS (SELECT embedding AS qv, {_probe_sql()} AS probes
      FROM (SELECT embedding, bucket AS qbucket FROM b WHERE vec_id = {QUERY_VEC_ID}))
SELECT vec_id,
       round(list_dot_product(embedding, qv)
             / (sqrt(list_dot_product(embedding, embedding))
                * sqrt(list_dot_product(qv, qv))), {ROUND}) AS cosine
FROM b, q
WHERE vec_id != {QUERY_VEC_ID} AND list_contains(probes, bucket)
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""

NEAR_DUP_COS = 0.9


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same sign-bucket equi join,
    exact cosine >= NEAR_DUP_COS."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket(F.col("embedding")))
    l = emb.alias("l")
    r = emb.alias("r")
    cos = _dot(F.col("l.embedding"), F.col("r.embedding")) / (
        _norm(F.col("l.embedding")) * _norm(F.col("r.embedding"))
    )
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(cos, ROUND).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH b AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings)
SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
       round(list_dot_product(l.embedding, r.embedding)
             / (sqrt(list_dot_product(l.embedding, l.embedding))
                * sqrt(list_dot_product(r.embedding, r.embedding))), {ROUND}) AS cosine
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE round(list_dot_product(l.embedding, r.embedding)
            / (sqrt(list_dot_product(l.embedding, l.embedding))
               * sqrt(list_dot_product(r.embedding, r.embedding))), {ROUND}) >= {NEAR_DUP_COS}
"""


# -- IVF (inverted-file) ANN --------------------------------------------------

CENT_MOD = 37   # deterministic coarse centroids: vec_id % CENT_MOD == 1
NPROBE = 2      # query probes this many nearest cells
ASSIGN_ROUND = 6


def _cells(spark: SparkSession, sf_dir: str):
    """(centroids, assigned): centroid list + per-vector nearest-centroid
    cell. At 10^12 rows the assignment is precomputed once into the table
    layout (partition/bucket by cell) so the probe filter partition-prunes;
    here it is derived inline from the same deterministic rule."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") % CENT_MOD == 1).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    pairs = emb.crossJoin(F.broadcast(cents))
    cos = F.round(
        _dot(F.col("embedding"), F.col("cv"))
        / (_norm(F.col("embedding")) * _norm(F.col("cv"))),
        ASSIGN_ROUND,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )
    assigned = (
        pairs.select("vec_id", "embedding", "cent_id", cos.alias("ccos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "ccos")
    )
    return cents, assigned


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid cell per vector; the query searches only
    its NPROBE nearest cells with exact cosine. Complements the sign-bit
    LSH bucket: cells adapt to the data distribution, and recall tunes
    with NPROBE instead of bucket width."""
    emb = _emb(spark, sf_dir)
    cents, assigned = _cells(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    qcos = F.round(
        _dot(F.col("cv"), F.col("q")) / (_norm(F.col("cv")) * _norm(F.col("q"))),
        ASSIGN_ROUND,
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cent_id", qcos.alias("qc"))
        .orderBy(F.desc("qc"), F.asc("cent_id"))
        .limit(NPROBE)
        .select("cent_id")
    )
    cand = (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(probe), "cent_id")
        .crossJoin(F.broadcast(q))
    )
    cos = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    return (
        cand.select("vec_id", F.round(cos, ROUND).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


IVF_TOPK_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
  WHERE vec_id % {CENT_MOD} = 1
),
assigned AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.embedding, c.cv)
                   / (sqrt(list_dot_product(e.embedding, e.embedding))
                      * sqrt(list_dot_product(c.cv, c.cv))), {ASSIGN_ROUND}) DESC,
               c.cent_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cent_id FROM cents, q
  ORDER BY round(list_dot_product(cv, qv)
        / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))),
        {ASSIGN_ROUND}) DESC, cent_id ASC
  LIMIT {NPROBE}
)
SELECT a.vec_id,
       round(list_dot_product(a.embedding, qv)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(qv, qv))), {ROUND}) AS cosine
FROM assigned a JOIN probe USING (cent_id), q
WHERE a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC
LIMIT {TOP_K}
"""


# -- SQ8 scalar-quantized ANN --------------------------------------------------

SQ8_QUANT = 1024  # integer lattice (power of two: exact IEEE), kmeans QUANT


# unit-normalized embedding via the EXACT integer lattice: nq = floor
# (x * 1024) is exact, norm2 = sum(nq^2) is an exact bigint, and u_i =
# nq_i / sqrt(norm2) is two deterministic IEEE ops on exact inputs — so
# u is bit-identical across engines (the raw float norm would accumulate
# in engine-specific order). Cosine-correct SQ8 (FAISS convention)
# quantizes the NORMALIZED vector.
_SQ8_UNIT_SPARK = (
    "CAST(element_at(nq, i) AS double) / sqrt(CAST(n2 AS double))"
)


def _sq8_unit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, u array<double>): exact-lattice unit-normalized
    embeddings (zero vectors map to all-zero u)."""
    nq = "transform(embedding, x -> CAST(floor(CAST(x AS double) * 1024) AS bigint))"
    return (
        _emb(spark, sf_dir)
        .withColumn("nq", F.expr(nq))
        .withColumn(
            "n2",
            F.expr("aggregate(nq, CAST(0 AS bigint), (a, v) -> a + v * v)"),
        )
        .select(
            "vec_id",
            F.expr(
                f"transform(sequence(1, size(nq)), i -> CASE WHEN n2 = 0 "
                f"THEN CAST(0.0 AS double) ELSE {_SQ8_UNIT_SPARK} END)"
            ).alias("u"),
        )
    )


def sq8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE row: (ss,) — per-dimension SYMMETRIC scales (max |value|)
    over the unit-normalized corpus, the SQ8 codebook. Symmetric
    (zero-point-0) quantization, not min/max affine: an affine code
    carries a per-dim additive bias that dominates code DOT PRODUCTS
    when true cosines are small (measured: recall@10 0/10 affine vs
    8/10 symmetric on this corpus) — the reason int8 dot-product
    kernels standardize on zero-point 0. Dim explode -> groupBy(dim)
    min/max (64-key shuffle with map-side partial agg) -> fold back to
    one aligned array. The codebook is DIM-sized at any corpus scale
    and ships broadcast — the quantize step is then a pure map (at
    10^12 vectors the codes are precomputed into the table layout, int8
    columns at 1/4 the float32 footprint: the reason SQ8 exists)."""
    dims = (
        _sq8_unit_frame(spark, sf_dir)
        .select(F.posexplode("u").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.greatest(
                F.abs(F.min("x")), F.abs(F.max("x"))
            ).alias("s")
        )
    )
    return dims.agg(
        F.array_sort(F.collect_list(F.struct("i", "s"))).alias("d")
    ).select(F.expr("transform(d, e -> e.s)").alias("ss"))


_SQ8_CODES = (
    "transform(sequence(1, size(u)), i -> CASE "
    "WHEN element_at(ss, i) = 0 THEN 0 "
    "ELSE CAST(floor(element_at(u, i) / element_at(ss, i) "
    "* 127 + 0.5) AS int) END)"
)


def sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN: symmetric 8-bit scalar quantization of UNIT-NORMALIZED
    vectors (per-dimension max-|u| scales) + integer code dot products
    — the memory-bound scale path of vector search (FAISS SQ8): codes
    are 1/4 the float32 bytes and the distance loop is integer SIMD; on
    unit vectors the zero-point-0 code dot ranks like cosine (recall@10
    = 0.8 on this corpus, reported by ann_recall). Returns top-K by
    quantized dot to QUERY_VEC_ID (ties to vec_id), with the
    candidate's code sum pinning the code vector itself. Every
    arithmetic step is a deterministic IEEE op on exact-integer-derived
    inputs, so codes — and therefore dots — are bit-identical across
    engines."""
    stats = sq8_stats(spark, sf_dir)
    coded = (
        _sq8_unit_frame(spark, sf_dir)
        .crossJoin(F.broadcast(stats))
        .select("vec_id", F.expr(_SQ8_CODES).alias("codes"))
    )
    q = (
        coded.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("codes").alias("qcodes"))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("qcodes"),
            lambda a, b: a.cast("long") * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    csum = F.aggregate(
        F.col("codes"), F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
    return (
        coded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dot.alias("qdot"),
            csum.alias("code_sum"),
        )
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(TOP_K)
    )


SQ8_TOPK_SQL = f"""
WITH nq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS double) * 1024) AS bigint)) AS nq
  FROM embeddings),
un AS (
  SELECT vec_id, nq,
         CAST(list_aggregate(list_transform(nq, v -> v * v), 'sum')
              AS bigint) AS n2
  FROM nq),
u AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(nq)), i -> CASE
           WHEN n2 = 0 THEN CAST(0.0 AS double)
           ELSE CAST(nq[i] AS double) / sqrt(CAST(n2 AS double)) END) AS u
  FROM un),
st AS (
  SELECT g.i AS i,
         greatest(abs(min(e.u[g.i])), abs(max(e.u[g.i]))) AS s
  FROM u e, UNNEST(generate_series(1, len(e.u))) AS g(i)
  GROUP BY g.i),
cb AS (SELECT list(s ORDER BY i) AS ss FROM st),
coded AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(u)), i -> CASE
           WHEN ss[i] = 0 THEN 0
           ELSE CAST(floor(u[i] / ss[i] * 127 + 0.5) AS int) END) AS codes
  FROM u, cb),
q AS (SELECT codes AS qcodes FROM coded WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id,
       CAST(list_dot_product(codes, qcodes) AS bigint) AS qdot,
       CAST(list_aggregate(codes, 'sum') AS bigint) AS code_sum
FROM coded, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY qdot DESC, vec_id ASC
LIMIT {TOP_K}
"""


# -- ANN recall evaluation ------------------------------------------------------

def ann_recall_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='ann_recall', k=method, v=hits|topk|recall_micro): recall@K
    of each approximate index (sign-LSH bucket, IVF probe, SQ8 codes)
    against the exact cosine top-K — the eval every vector-search
    deployment runs before trusting an index (FAISS's recall@K
    convention). The exact set is computed once and broadcast; each
    method contributes one row, so tuning regressions (bucket too
    coarse, NPROBE too small, quantizer too lossy) show up as a red
    gate row, not a silent quality drop."""
    truth = cosine_topk(spark, sf_dir).select("vec_id")
    rows = []
    for name, df in (
        ("lsh", lsh_bucket_topk(spark, sf_dir)),
        ("ivf", ivf_topk(spark, sf_dir)),
        ("sq8", sq8_topk(spark, sf_dir)),
    ):
        hit = df.select("vec_id").join(F.broadcast(truth), "vec_id")
        rows.append(
            hit.agg(F.count(F.lit(1)).cast("long").alias("hits")).select(
                F.lit("ann_recall").alias("op"),
                F.lit(name).alias("k"),
                F.concat_ws(
                    "|",
                    "hits",
                    F.lit(TOP_K),
                    F.expr(f"(1000000 * hits) div {TOP_K}"),
                ).alias("v"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _ann_recall_sql() -> str:
    from textwrap import dedent

    parts = []
    for name, sql in (
        ("lsh", LSH_BUCKET_TOPK_SQL),
        ("ivf", IVF_TOPK_SQL),
        ("sq8", SQ8_TOPK_SQL),
    ):
        parts.append(
            f"SELECT '{name}' AS k, CAST(count(*) AS bigint) AS hits\n"
            f"FROM ({sql}) m JOIN ({COSINE_TOPK_SQL}) t USING (vec_id)"
        )
    body = "\nUNION ALL\n".join(parts)
    return dedent(
        f"""
        SELECT k, hits, CAST({TOP_K} AS bigint) AS topk,
               (1000000 * hits) // {TOP_K} AS recall_micro
        FROM ({body})
        """
    )


ANN_RECALL_SQL = _ann_recall_sql()
