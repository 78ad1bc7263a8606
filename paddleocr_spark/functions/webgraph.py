"""Host-graph analytics: PageRank, TrustRank and HITS over the
crawl's host->host link graph — the classic web-scale iterative
DataFrame algorithms (Page et al. 1999; the Common-Crawl host-level
ranking every crawl pipeline publishes). The iterative algorithms next
to `dedup_clusters` (label propagation) and `connected_components_star`.

Graph fixture (deterministic in (doc_id, source), so the DuckDB twins
reproduce it exactly): nodes are the corpus' distinct hosts ranked by
name (u = 1..N); each document contributes one outlink
u -> (u*7 + doc_id) % N + 1; parallel edges keep their multiplicity as
weight. Every host has documents, so out-degree >= 1 — no dangling-mass
redistribution needed (asserted).

Plan shape at 10^12 docs: ONE shared census (`host_graph`: one
documents scan, a broadcast host-rank join and one map-side-combined
groupBy, checkpointed with the host list) feeds all three algorithms.
Every power step (`_propagate`) is ONE shuffle (the mass groupBy on the
destination) plus a broadcast of the (tiny) state — one row per HOST
(millions), not per document. Each node adds a zero term to that
groupBy, so no step joins back onto the node list. K steps = K
shuffles, plan depth grows linearly (K is small and fixed; for large K
the dedup_clusters localCheckpoint discipline applies).

Float discipline: ranks are doubles; Spark and DuckDB may sum
contributions in different orders (~1e-15 relative drift), so the gate
value is round(rank * 1e8). The fixture's rank denominators all divide
1e8, so every scaled rank is an EXACT integer (rounding-boundary
distance 0.5 — the maximum); tests/test_webgraph.py pins that margin on
the gate corpora, ~6 orders of magnitude above the drift. (1e6 was
unsafe: 0.1177875 * 1e6 sits exactly on a .5 boundary.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet

DAMPING = 0.85
ITERATIONS = 3

# (nodes, n, edges) of `host_graph`
HostGraph = tuple[DataFrame, int, DataFrame]


def host_graph(spark: SparkSession, sf_dir: str) -> HostGraph:
    """(nodes, n, edges), the host census the link-analysis branches
    share: nodes (source, u) ranks the n hosts 1..n by name
    (deterministic order both engines); edges (u, v, w) weighs the
    per-doc outlink rule's host->host edges (w an integral double
    count). One broadcast join (rank the host) + one groupBy (weights).

    Both frames are localCheckpoint'ed (eagerly materialized, lineage
    truncated) rather than persist()'ed: every branch references them
    several times, and a persist would either leak (never unpersisted:
    the caller owns the plan) or be dropped before the caller's action
    runs. Checkpoint blocks are freed by the ContextCleaner when the
    plans become unreachable. The documents scan runs ONCE, not once
    per branch or iteration through the lineage."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet")
    nodes = (
        docs.select("source")
        .distinct()
        .withColumn("u", F.row_number().over(Window.orderBy("source")))
        .localCheckpoint()
    )
    n = nodes.count()  # host cardinality: the one intended scalar
    edges = (
        docs.join(F.broadcast(nodes), "source")
        .select(
            "u",
            ((F.col("u") * 7 + F.col("doc_id")) % n + 1).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint()
    )
    return nodes, n, edges


def _normalize(edges: DataFrame) -> DataFrame:
    """(u, v, p): each edge's share p = w / out_w of its source's
    out-weight, checkpointed because every power step re-reads it. The
    (u, v) pairs stay unique."""
    out = edges.groupBy("u").agg(F.sum("w").alias("out_w"))
    return (
        edges.join(out, "u")
        .select("u", "v", (F.col("w") / F.col("out_w")).alias("p"))
        .localCheckpoint()
    )


def _propagate(
    nodes: DataFrame,
    edges: DataFrame,
    state: DataFrame,
    weight: str,
    src: str,
    dst: str,
    combine: list[Column],
) -> DataFrame:
    """One power step: for every value column c of `state` (u, c...),
    the mass sum_{src->dst} c(src) * weight lands on dst, and the
    step returns (u, *combine), where `combine` reads each mass under
    its state column's name.

    The state is host-sized, so it is broadcast into the edge join; the
    mass is ONE groupBy shuffle on dst. Every node also adds one zero
    term to that groupBy, so every node gets exactly one row, even one
    that no edge points to, without a join back onto `nodes`. This is
    exact: x + 0 == x, in doubles and in decimals."""
    cols = state.columns[1:]
    terms = edges.join(
        F.broadcast(state.withColumnRenamed("u", src)), src
    ).select(
        F.col(dst).alias("u"),
        *[(F.col(c) * F.col(weight)).alias(c) for c in cols],
    )
    zeros = nodes.select(
        "u", *[F.lit(0).cast(t).alias(c) for c, t in terms.dtypes[1:]]
    )
    return (
        terms.unionByName(zeros)
        .groupBy("u")
        .agg(*[F.sum(c).alias(c) for c in cols])
        .select("u", *combine)
    )


def host_pagerank(graph: HostGraph) -> DataFrame:
    """(source, rank) after ITERATIONS power steps at DAMPING over the
    `host_graph` census.
    rank_{k+1}(v) = (1-d)/N + d * sum_{u->v} rank_k(u) * w_uv / out_u."""
    nodes, n, edges = graph
    norm = _normalize(edges)
    # every node must emit links or dangling mass silently leaks (the
    # zero terms would hide it): one anti-join scalar over the
    # CHECKPOINTED norm, no rescan of documents
    dangling = nodes.join(norm.select("u"), "u", "left_anti").count()
    if dangling:
        raise ValueError(f"{dangling} dangling host(s) in pagerank fixture")
    ranks = nodes.select("u", F.lit(1.0 / n).alias("r"))
    rank = F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * F.col("r")
    for _ in range(ITERATIONS):
        ranks = _propagate(
            nodes, norm, ranks, "p", "u", "v", [rank.alias("r")]
        )
    return nodes.join(ranks, "u").select(
        "source", F.col("r").alias("rank")
    )


def host_pagerank_rows(graph: HostGraph):
    """(op='host_pagerank', k=source, v=round(rank*1e8)) for the gate
    suite (see module docstring for the scale choice)."""
    return host_pagerank(graph).select(
        F.lit("host_pagerank").alias("op"),
        F.col("source").alias("k"),
        F.round(F.col("rank") * 100000000)
        .cast("long")
        .cast("string")
        .alias("v"),
    )


# Oracle: the same three power iterations unrolled as CTEs (DuckDB has
# no mutable loop; K is fixed). The edge fixture, normalization, and
# iteration arithmetic mirror the Spark side expression-for-expression.
HOST_PAGERANK_SQL = """
WITH nodes AS (
  SELECT source, row_number() OVER (ORDER BY source) AS u
  FROM (SELECT DISTINCT source FROM documents)
),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT nd.u AS u, (nd.u * 7 + d.doc_id) % nn.n + 1 AS v,
         CAST(count(*) AS double) AS w
  FROM documents d JOIN nodes nd ON d.source = nd.source, nn
  GROUP BY 1, 2
),
norm AS (
  SELECT e.u, e.v, e.w / o.out_w AS p
  FROM edges e JOIN (SELECT u, sum(w) AS out_w FROM edges GROUP BY 1) o
    ON e.u = o.u
),
r0 AS (SELECT u, 1.0 / nn.n AS r FROM nodes, nn),
r1 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.mass, 0) AS r
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(r0.r * norm.p) AS mass
             FROM norm JOIN r0 ON norm.u = r0.u GROUP BY 1) m
    ON nd.u = m.v, nn
),
r2 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.mass, 0) AS r
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(r1.r * norm.p) AS mass
             FROM norm JOIN r1 ON norm.u = r1.u GROUP BY 1) m
    ON nd.u = m.v, nn
),
r3 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.mass, 0) AS r
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(r2.r * norm.p) AS mass
             FROM norm JOIN r2 ON norm.u = r2.u GROUP BY 1) m
    ON nd.u = m.v, nn
)
SELECT nodes.source, r3.r AS rank
FROM nodes JOIN r3 ON nodes.u = r3.u
"""


# --- TrustRank / spam mass / link reciprocity (webspam signals) ----------

TRUST_SEED_FRAC = 4  # seeds = the n//4 lexicographically-first hosts


def host_trust_signals(graph: HostGraph) -> DataFrame:
    """(source, seed, pr, tr, spam, n_out, n_recip): the classic
    webspam triad over the host graph —

    - TrustRank (Gyongyi et al., VLDB 2004): PageRank with the
      teleport vector restricted to a TRUSTED seed set (here: the
      n//4 lexicographically-first hosts — a deterministic fixture
      stand-in for the human-labeled seed list, which in production is
      a broadcast table swap exactly like the PSL rules);
    - spam mass (Gyongyi et al. 2006): pr - tr, the rank share NOT
      reachable from trust — the demotion signal;
    - link reciprocity (Fetterly et al.: nepotistic link detection):
      per host, distinct out-neighbours and how many of them link
      back. Integer counts, no float.

    ONE two-vector power iteration: the state frame carries (u, r_pr,
    r_tr) and each of the ITERATIONS steps is a single `_propagate`
    shuffle aggregating BOTH vectors — TrustRank rides PageRank's
    exchange for free (broadcast-sized state, scaled 1e8; the margin
    test pins rounding-boundary distance like host_pagerank's).
    Reciprocity is one self-join of the normalized edge set's (unique)
    (u, v) pairs on the reversed key — bounded by the host-graph edge
    count, never doc-scale.

    Edge fixture: `host_graph`'s per-doc rule is FUNCTIONAL here (source
    classes fix doc_id mod n, so each host gets ONE functional
    target), which would leave reciprocity identically zero; the
    trust graph therefore adds a deterministic PAIRING edge
    u <-> pair(u) (odd u links u+1, even u links back; a trailing odd
    n self-loops). The pairing edge carries FOUR TIMES the host's
    document weight so p is exactly 1/5 (functional) and 4/5
    (pairing), or 1 when the functional target IS the pair — the
    transition denominators stay 2-FREE, because three 1/2-hops would
    stack 2^9 under the teleport's 2^2 and push tr*1e8 onto an exact
    .5 boundary (observed: src8 split 2077187.5 across engines at the
    half-weight design)."""
    nodes, n, base = graph
    n_seeds = max(n // TRUST_SEED_FRAC, 1)
    u = F.col("u")
    pair = (
        F.when((u % 2 == 1) & (u < n), u + 1)
        .when(u % 2 == 0, u - 1)
        .otherwise(u)
    )
    pair_edges = (
        base.groupBy("u")
        .agg((F.sum("w") * 4).alias("w"))
        .select("u", pair.alias("v"), "w")
    )
    norm = _normalize(
        base.unionByName(pair_edges)
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    seed = (u <= n_seeds).cast("double")
    state = nodes.select(
        "u",
        F.lit(1.0 / n).alias("r_pr"),
        (seed / n_seeds).alias("r_tr"),
    )
    step = [
        (
            F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * F.col("r_pr")
        ).alias("r_pr"),
        (
            seed * F.lit((1.0 - DAMPING) / n_seeds)
            + F.lit(DAMPING) * F.col("r_tr")
        ).alias("r_tr"),
    ]
    for _ in range(ITERATIONS):
        state = _propagate(nodes, norm, state, "p", "u", "v", step)
    dedges = norm.select("u", "v")
    recip = (
        dedges.alias("a")
        .join(
            dedges.alias("b"),
            (F.col("a.u") == F.col("b.v")) & (F.col("a.v") == F.col("b.u")),
            "left_semi",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_recip"))
    )
    degs = dedges.groupBy("u").agg(F.count(F.lit(1)).alias("n_out"))
    return (
        nodes.join(state, "u")
        .join(degs, "u", "left")
        .join(recip, "u", "left")
        .select(
            "source",
            (F.col("u") <= n_seeds).cast("int").alias("seed"),
            "r_pr",
            "r_tr",
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.coalesce("n_recip", F.lit(0)).alias("n_recip"),
        )
    )


def trustrank_rows(graph: HostGraph):
    """(op='trustrank', k=source, v=seed|pr8|tr8|spam8|n_out|n_recip)."""
    s8 = lambda c: F.round(F.col(c) * 100000000).cast("long")  # noqa: E731
    return host_trust_signals(graph).select(
        F.lit("trustrank").alias("op"),
        F.col("source").alias("k"),
        F.concat_ws(
            "|",
            F.col("seed"),
            s8("r_pr"),
            s8("r_tr"),
            (s8("r_pr") - s8("r_tr")),
            F.col("n_out"),
            F.col("n_recip"),
        ).alias("v"),
    )


# Oracle: the same two-vector iteration unrolled (t0..t3 beside
# r0..r3), the same seed rule, and the reciprocity semi-join —
# expression-for-expression with the Spark side.
TRUSTRANK_SQL = """
WITH nodes AS (
  SELECT source, row_number() OVER (ORDER BY source) AS u
  FROM (SELECT DISTINCT source FROM documents)
),
nn AS (SELECT count(*) AS n,
              greatest(count(*) // 4, 1) AS s
       FROM nodes),
fedges AS (
  SELECT nd.u AS u, (nd.u * 7 + d.doc_id) % nn.n + 1 AS v,
         CAST(count(*) AS double) AS w
  FROM documents d JOIN nodes nd ON d.source = nd.source, nn
  GROUP BY 1, 2
),
pedges AS (
  SELECT f.u,
         CASE WHEN f.u % 2 = 1 AND f.u < nn.n THEN f.u + 1
              WHEN f.u % 2 = 0 THEN f.u - 1
              ELSE f.u END AS v,
         sum(f.w) * 4 AS w
  FROM fedges f, nn GROUP BY 1, 2
),
edges AS (
  SELECT u, v, sum(w) AS w
  FROM (SELECT * FROM fedges UNION ALL SELECT * FROM pedges)
  GROUP BY 1, 2
),
norm AS (
  SELECT e.u, e.v, e.w / o.out_w AS p
  FROM edges e JOIN (SELECT u, sum(w) AS out_w FROM edges GROUP BY 1) o
    ON e.u = o.u
),
s0 AS (
  SELECT u, 1.0 / nn.n AS pr,
         CASE WHEN u <= nn.s THEN 1.0 / nn.s ELSE 0 END AS tr
  FROM nodes, nn),
s1 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.m_pr, 0) AS pr,
         CASE WHEN nd.u <= nn.s THEN (1 - 0.85) / nn.s ELSE 0 END
           + 0.85 * coalesce(m.m_tr, 0) AS tr
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(s0.pr * norm.p) AS m_pr,
                    sum(s0.tr * norm.p) AS m_tr
             FROM norm JOIN s0 ON norm.u = s0.u GROUP BY 1) m
    ON nd.u = m.v, nn
),
s2 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.m_pr, 0) AS pr,
         CASE WHEN nd.u <= nn.s THEN (1 - 0.85) / nn.s ELSE 0 END
           + 0.85 * coalesce(m.m_tr, 0) AS tr
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(s1.pr * norm.p) AS m_pr,
                    sum(s1.tr * norm.p) AS m_tr
             FROM norm JOIN s1 ON norm.u = s1.u GROUP BY 1) m
    ON nd.u = m.v, nn
),
s3 AS (
  SELECT nd.u,
         (1 - 0.85) / nn.n + 0.85 * coalesce(m.m_pr, 0) AS pr,
         CASE WHEN nd.u <= nn.s THEN (1 - 0.85) / nn.s ELSE 0 END
           + 0.85 * coalesce(m.m_tr, 0) AS tr
  FROM nodes nd
  LEFT JOIN (SELECT norm.v, sum(s2.pr * norm.p) AS m_pr,
                    sum(s2.tr * norm.p) AS m_tr
             FROM norm JOIN s2 ON norm.u = s2.u GROUP BY 1) m
    ON nd.u = m.v, nn
),
de AS (SELECT DISTINCT u, v FROM edges),
deg AS (SELECT u, count(*) AS n_out FROM de GROUP BY 1),
rc AS (
  SELECT a.u, count(*) AS n_recip
  FROM de a WHERE EXISTS (
    SELECT 1 FROM de b WHERE b.u = a.v AND b.v = a.u)
  GROUP BY a.u
)
SELECT 'trustrank' AS op, nodes.source AS k,
       CAST(CASE WHEN nodes.u <= nn.s THEN 1 ELSE 0 END AS varchar)
       || '|' ||
       CAST(CAST(round(s3.pr * 100000000) AS bigint) AS varchar)
       || '|' ||
       CAST(CAST(round(s3.tr * 100000000) AS bigint) AS varchar)
       || '|' ||
       CAST(CAST(round(s3.pr * 100000000) AS bigint)
            - CAST(round(s3.tr * 100000000) AS bigint) AS varchar)
       || '|' ||
       CAST(coalesce(deg.n_out, 0) AS varchar) || '|' ||
       CAST(coalesce(rc.n_recip, 0) AS varchar) AS v
FROM nodes
JOIN s3 ON nodes.u = s3.u
LEFT JOIN deg ON nodes.u = deg.u
LEFT JOIN rc ON nodes.u = rc.u, nn
ORDER BY k
"""


# --- HITS hubs & authorities (Kleinberg 1999) -----------------------------

HITS_ROUNDS = 2  # statically unrolled a/h pairs: a1,h1,a2,h2


def host_hits(graph: HostGraph) -> DataFrame:
    """(source, authority, hub) after HITS_ROUNDS unnormalized power
    rounds of Kleinberg's mutual reinforcement: a <- E^T h, h <- E a.

    The third link-analysis signal beside PageRank and TrustRank:
    PageRank scores endorsement flow, TrustRank anchors it to a seed
    set, HITS separates PORTALS (hubs: pages whose outlinks
    concentrate on strong authorities) from DESTINATIONS (authorities:
    pages collecting links from strong hubs) — the mixture a crawler
    uses to pick seed lists (hubs) vs canonical sources (authorities).

    Exactness: HITS's usual L2 normalization would smuggle floats into
    the gate, but ranking is scale-invariant, so the iterates stay
    UNNORMALIZED integers in decimal(38,0) (DuckDB twin: HUGEINT).
    Growth bound: |a_k|,|h_k| <= D^(2k) for D corpus docs; at
    HITS_ROUNDS=2 that is D^4 <= 10^36 up to 10^9 docs — inside
    decimal(38). Past that, one power-of-two right-shift per round
    (exact, rank-preserving) is the documented rescale swap, the
    pca.py discipline.

    Scale shape: the corpus-scale work is the shared `host_graph`
    census, its integral double weights cast EXACTLY to decimal(38,0)
    (counts < 2^53); every round is two `_propagate` steps (authority
    along u->v, hub along v->u), each one host-cardinality broadcast
    plus one groupBy shuffle — the pagerank/trustrank contract.
    """
    nodes, _, edges = graph
    dec = "decimal(38,0)"
    edges = edges.select("u", "v", F.col("w").cast(dec).alias("w"))
    h = nodes.select("u", F.lit(1).cast(dec).alias("s"))
    for _ in range(HITS_ROUNDS):
        # authority: a(v) = sum_{u->v} w * h(u)
        a = _propagate(nodes, edges, h, "w", "u", "v", [F.col("s")])
        # hub: h(u) = sum_{u->v} w * a(v)
        h = _propagate(nodes, edges, a, "w", "v", "u", [F.col("s")])
    return (
        nodes.join(a.withColumnRenamed("s", "authority"), "u")
        .join(h.withColumnRenamed("s", "hub"), "u")
        .select("source", "authority", "hub")
    )


def hits_rows(graph: HostGraph):
    """(op='hits', k=source, v=authority|hub) — arbitrary-precision
    integers cross the gate as strings (pca.py convention)."""
    return host_hits(graph).select(
        F.lit("hits").alias("op"),
        F.col("source").alias("k"),
        F.concat_ws(
            "|",
            F.col("authority").cast("string"),
            F.col("hub").cast("string"),
        ).alias("v"),
    )


# Oracle: identical edge fixture, rounds unrolled in HUGEINT.
HITS_SQL = """
WITH nodes AS (
  SELECT source, row_number() OVER (ORDER BY source) AS u
  FROM (SELECT DISTINCT source FROM documents)
),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT nd.u AS u, (nd.u * 7 + d.doc_id) % nn.n + 1 AS v,
         CAST(count(*) AS hugeint) AS w
  FROM documents d JOIN nodes nd ON d.source = nd.source, nn
  GROUP BY 1, 2
),
h0 AS (SELECT u, CAST(1 AS hugeint) AS s FROM nodes),
a1 AS (
  SELECT nd.u, coalesce(m.m, 0) AS s FROM nodes nd
  LEFT JOIN (SELECT e.v, sum(e.w * h0.s) AS m
             FROM edges e JOIN h0 ON e.u = h0.u GROUP BY 1) m
    ON nd.u = m.v),
h1 AS (
  SELECT nd.u, coalesce(m.m, 0) AS s FROM nodes nd
  LEFT JOIN (SELECT e.u, sum(e.w * a1.s) AS m
             FROM edges e JOIN a1 ON e.v = a1.u GROUP BY 1) m
    ON nd.u = m.u),
a2 AS (
  SELECT nd.u, coalesce(m.m, 0) AS s FROM nodes nd
  LEFT JOIN (SELECT e.v, sum(e.w * h1.s) AS m
             FROM edges e JOIN h1 ON e.u = h1.u GROUP BY 1) m
    ON nd.u = m.v),
h2 AS (
  SELECT nd.u, coalesce(m.m, 0) AS s FROM nodes nd
  LEFT JOIN (SELECT e.u, sum(e.w * a2.s) AS m
             FROM edges e JOIN a2 ON e.v = a2.u GROUP BY 1) m
    ON nd.u = m.u)
SELECT 'hits' AS op, nodes.source AS k,
       CAST(a2.s AS varchar) || '|' || CAST(h2.s AS varchar) AS v
FROM nodes JOIN a2 ON nodes.u = a2.u JOIN h2 ON nodes.u = h2.u
ORDER BY k
"""
