"""URL canonicalization + host analytics over the web-pages corpus.

A Common-Crawl-scale pipeline dedups and shards by URL, so canonical
URL keys are load-bearing: the same page crawled as
`HTTPS://Host.TEST:443/x#frag` and `https://host.test/x` must collapse
to one key before exact dedup (functions/dedup.py) or the host-salted
repartition (plans/pipeline.py salted_repartition) sees it.

Everything here is JVM-side built-ins (parse_url / regexp / array ops)
— no Python touches the hot path (parse_url is CodegenFallback, so the
project sits outside whole-stage codegen but still evaluates in the
JVM; plan pinned scan+project-only in tests/test_plan_shape.py). The
reference has no URL layer (its inputs are image paths); these rules
are the standard public ones (RFC 3986 normalization subset):

- scheme and host lowercased (case-insensitive per RFC 3986 §6.2.2.1)
- fragment stripped (never sent to the server)
- default ports dropped (:80 http, :443 https); other ports kept
- utm_* tracking params dropped, other query params kept in order
- path kept byte-exact (case-significant)

Host keys: `url_host` (registrable host for grouping) and
`reversed_host` (SURT-style `tld.domain.sub` ordering so one host's
pages — and one domain's subdomains — sort adjacent, the key order
web-archive partitioning uses).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from paddleocr_spark.sources.scan import scan_parquet


def url_host(url: Column) -> Column:
    """Lowercased host without port (parse_url HOST is JVM-side)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def reversed_host(url: Column) -> Column:
    """SURT-style reversed host: www.news.example.test ->
    test.example.news.www (generic label reversal, any depth)."""
    return F.concat_ws(".", F.reverse(F.split(url_host(url), r"\.")))


def canonical_url(url: Column) -> Column:
    """RFC 3986 normalization subset (module docstring): lowercase
    scheme+authority, strip default port / fragment / utm_* params."""
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    # RFC 3986 §6.2.2.1 lowercases SCHEME and HOST only — userinfo is
    # case-significant, so rebuild the authority from its parts instead
    # of lowercasing the whole AUTHORITY string
    userinfo = F.parse_url(url, F.lit("USERINFO"))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    raw_auth = F.parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(raw_auth, r":(\d+)$", 1)
    is_default = (
        ((proto == "https") & (port == "443"))
        | ((proto == "http") & (port == "80"))
    )
    auth = F.concat(
        F.when(
            userinfo.isNotNull() & (userinfo != ""),
            F.concat(userinfo, F.lit("@")),
        ).otherwise(F.lit("")),
        host,
        F.when(
            (port != "") & ~is_default, F.concat(F.lit(":"), port)
        ).otherwise(F.lit("")),
    )
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.parse_url(url, F.lit("QUERY"))
    kept = F.array_join(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: ~p.startswith("utm_") & (p != ""),
        ),
        "&",
    )
    return F.concat(
        proto,
        F.lit("://"),
        auth,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )


# ---------------------------------------------------------------------------
# gate surface: crawl-dup fixture + (op, k, v) branches for text_stats_suite


def messy_url_expr() -> Column:
    """The crawl-duplicate fixture: the SAME logical page surfaces under
    four URL spellings by doc_id % 4 — canonical, upper-cased host with
    default :443 + fragment, utm-tracking query, http with :80 + mixed
    real/tracking query + fragment. canonical_url must collapse all four
    to one key. Derived from (doc_id, source) with JVM concat only."""
    path = F.concat(F.lit("/doc/"), F.col("doc_id").cast("string"))
    host_l = F.concat(F.col("source"), F.lit(".example.test"))
    host_u = F.concat(F.upper(F.col("source")), F.lit(".Example.TEST"))
    m = F.col("doc_id") % 4
    return (
        F.when(m == 1, F.concat(F.lit("HTTPS://"), host_u, F.lit(":443"),
                                path, F.lit("#frag")))
        .when(m == 2, F.concat(F.lit("https://"), host_l, path,
                               F.lit("?utm_source=feed")))
        .when(m == 3, F.concat(F.lit("HTTP://"), host_u, F.lit(":80"), path,
                               F.lit("?page=2&utm_campaign=x#top")))
        .otherwise(F.concat(F.lit("https://"), host_l, path))
    )


def url_canon_rows(spark, sf_dir: str):
    """(op='url_canon', k=doc_id, v=canonical|host|reversed_host)."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    raw = messy_url_expr()
    return docs.select(
        F.lit("url_canon").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|", canonical_url(raw), url_host(raw), reversed_host(raw)
        ).alias("v"),
    )


def host_rollup_rows(spark, sf_dir: str):
    """(op='host_docs', k=host, v=n_docs): the per-host cardinality scan
    that sizes the salted repartition (host-level skew is the north_rule
    failure mode). One map-side-combined groupBy."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    raw = messy_url_expr()
    return (
        docs.select(url_host(raw).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.lit("host_docs").alias("op"),
            F.col("host").alias("k"),
            F.col("n_docs").cast("string").alias("v"),
        )
    )


# Closed-form oracles (the fixture is deterministic in (doc_id, source),
# so the expected canonicalization is plain CASE arithmetic — the DuckDB
# twin never needs a URL parser).
URL_CANON_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 3
            THEN 'http://' || lower(source) || '.example.test/doc/' || doc_id
                 || '?page=2'
            ELSE 'https://' || lower(source) || '.example.test/doc/' || doc_id
       END AS canon,
       lower(source) || '.example.test' AS host,
       'test.example.' || lower(source) AS rev_host
FROM documents
"""

HOST_DOCS_SQL = """
SELECT lower(source) || '.example.test' AS host, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def latest_capture_rows(spark, sf_dir: str):
    """(op='latest_capture', k=page_key, v=doc_id|epoch): keep-newest-
    capture-per-page — the dedup a crawl archive needs before extraction
    (the same URL is re-crawled across snapshots; only the latest capture
    should reach the expensive OCR stage). Fixture: doc_id//4 is the
    logical page, the 4 residues are captures at different warc_ts.

    Plan shape: one window shuffle partitioned by page_key (at 10^12
    docs the key is canonical_url — same shape, no global sort); the
    row_number top-1 idiom pushes a partial top-k under AQE."""
    from pyspark.sql import Window

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    ts_epoch = (
        F.lit(1767225600) + (F.col("doc_id") * 37) % 2592000
    ).cast("long")
    w = Window.partitionBy("page_key").orderBy(
        F.desc("epoch"), F.desc("doc_id")
    )
    return (
        docs.select(
            F.floor(F.col("doc_id") / 4).alias("page_key"),
            F.col("doc_id"),
            ts_epoch.alias("epoch"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.lit("latest_capture").alias("op"),
            F.col("page_key").cast("string").alias("k"),
            F.concat_ws("|", "doc_id", "epoch").alias("v"),
        )
    )


def capture_diff_rows(spark, sf_dir: str):
    """(op='capture_diff', k=page_key, v=n_captures|n_changes|
    rate_micro): re-crawl change detection — order each logical page's
    captures by time, compare consecutive content versions (lag), and
    report how often the page actually changed. The signal a crawler's
    re-fetch scheduler feeds on: a page that never changes earns a long
    revisit interval, a churning page a short one (the latest_capture
    fixture groups, doc_id//4 = page, 4 captures each; the content-
    version pattern cycles by page_key%3 — AABB (1 change), ABAB
    (3 changes), AAAA (0 changes) — so stable, churning, and
    half-changed pages all occur).

    Plan: one window per page_key (bounded by captures-per-page, the
    latest_capture shape) -> per-page agg on the same key."""
    from pyspark.sql import Window

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    cap = docs.select(
        F.floor(F.col("doc_id") / 4).alias("page_key"),
        "doc_id",
        (F.lit(1767225600) + (F.col("doc_id") * 37) % 2592000)
        .cast("long")
        .alias("epoch"),
        F.expr(
            "CASE CAST(floor(doc_id / 4) AS bigint) % 3"
            " WHEN 0 THEN doc_id - doc_id % 2"
            " WHEN 1 THEN doc_id % 2 ELSE 0 END"
        ).alias("version"),
    )
    w = Window.partitionBy("page_key").orderBy("epoch", "doc_id")
    flagged = cap.select(
        "page_key",
        F.when(
            F.lag("version").over(w).isNull(), F.lit(None)
        )
        .otherwise(
            (F.col("version") != F.lag("version").over(w)).cast("int")
        )
        .alias("changed"),
    )
    agg = flagged.groupBy("page_key").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.coalesce(F.sum("changed"), F.lit(0)).alias("n_changes"),
    )
    rate = F.when(F.col("n_captures") > 1,
                  F.round(F.col("n_changes") * 1000000
                          / (F.col("n_captures") - 1)).cast("long")
                  ).otherwise(F.lit(0))
    return agg.select(
        F.lit("capture_diff").alias("op"),
        F.col("page_key").cast("string").alias("k"),
        F.concat_ws(
            "|", "n_captures", "n_changes", rate.alias("rate_micro")
        ).alias("v"),
    )


CAPTURE_DIFF_SQL = """
SELECT page_key,
       CAST(count(*) AS bigint) AS n_captures,
       CAST(coalesce(sum(changed), 0) AS bigint) AS n_changes,
       CASE WHEN count(*) > 1
            THEN CAST(round(coalesce(sum(changed), 0) * 1000000.0
                            / (count(*) - 1)) AS bigint)
            ELSE 0 END AS rate_micro
FROM (
  SELECT page_key,
         CASE WHEN lag(version) OVER w IS NULL THEN NULL
              ELSE CAST(version != lag(version) OVER w AS int) END
           AS changed
  FROM (
    SELECT CAST(floor(doc_id / 4) AS bigint) AS page_key, doc_id,
           1767225600 + (doc_id * 37) % 2592000 AS epoch,
           CASE CAST(floor(doc_id / 4) AS bigint) % 3
             WHEN 0 THEN doc_id - doc_id % 2
             WHEN 1 THEN doc_id % 2 ELSE 0 END AS version
    FROM documents)
  WINDOW w AS (PARTITION BY page_key ORDER BY epoch, doc_id))
GROUP BY page_key
ORDER BY page_key
"""


LATEST_CAPTURE_SQL = """
SELECT page_key, doc_id, epoch FROM (
  SELECT CAST(floor(doc_id / 4) AS bigint) AS page_key, doc_id,
         CAST(1767225600 + (doc_id * 37) % 2592000 AS bigint) AS epoch,
         row_number() OVER (
           PARTITION BY floor(doc_id / 4)
           ORDER BY 1767225600 + (doc_id * 37) % 2592000 DESC, doc_id DESC
         ) AS rn
  FROM documents
) WHERE rn = 1
"""


def robots_rules(spark, sf_dir: str):
    """Per-host robots directives as a DIMENSION TABLE: (host, disallow
    prefix). Fixture rule: hosts with an odd-length source name disallow
    the path prefix '/doc/1' (a real prefix-match case: /doc/123 is
    blocked, /doc/23 is not). At 10^12 docs this table is ~one row per
    crawled host (millions, not trillions) — always broadcast."""
    return (
        scan_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .filter(F.length("source") % 2 == 1)
        .select(
            F.concat(F.lower("source"), F.lit(".example.test")).alias("host"),
            F.lit("/doc/1").alias("disallow"),
        )
    )


def robots_filter_rows(spark, sf_dir: str):
    """(op='robots_allow', k=doc_id, v=0/1): apply per-host robots
    disallow prefixes to every page URL via a BROADCAST left join on
    host + a startswith prefix test — the polite-crawl filter a pipeline
    applies before fetch/extract. The fact side never shuffles."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    raw = messy_url_expr()
    pages = docs.select(
        "doc_id",
        url_host(raw).alias("host"),
        F.coalesce(F.parse_url(raw, F.lit("PATH")), F.lit("")).alias("path"),
    )
    rules = robots_rules(spark, sf_dir)
    joined = pages.join(F.broadcast(rules), "host", "left")
    allowed = (
        F.col("disallow").isNull()
        | ~F.col("path").startswith(F.col("disallow"))
    ).cast("int")
    return joined.select(
        F.lit("robots_allow").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        allowed.cast("string").alias("v"),
    )


# Honest relational twin (not closed-form): DuckDB runs the SAME
# dimension join + prefix test the Spark side does.
ROBOTS_ALLOW_SQL = """
SELECT d.doc_id,
       CAST(CASE WHEN r.disallow IS NULL
                 THEN 1
                 WHEN substring('/doc/' || d.doc_id, 1, length(r.disallow))
                      = r.disallow THEN 0
                 ELSE 1 END AS int) AS allowed
FROM documents d
LEFT JOIN (
  SELECT DISTINCT lower(source) || '.example.test' AS host,
         '/doc/1' AS disallow
  FROM documents WHERE length(source) % 2 = 1
) r ON lower(d.source) || '.example.test' = r.host
"""


# -- per-host quota sampling --------------------------------------------------

SAMPLE_K = 16        # docs kept per host
_SAMPLE_SALTS = 8    # fan-out of the skew-breaking first phase


def host_quota_sample(spark, sf_dir: str):
    """Domain-mix rebalancing: keep at most SAMPLE_K documents per host,
    chosen by a deterministic hash order (md5 of doc_id/source), the
    CCNet/RefinedWeb move that stops megasites from dominating the
    training mix while staying reproducible run-to-run.

    Exact top-K per host WITHOUT a hot-key sort: phase 1 splits each
    host across _SAMPLE_SALTS salts and takes the per-(host,salt) top
    SAMPLE_K; phase 2 re-ranks the <= SALTS*K survivors per host and
    keeps the global top SAMPLE_K. The global winners are all phase-1
    winners (each is top-K within its own salt), so the result is
    EXACTLY the single-window answer while the biggest sort any task
    performs is a 1/SALTS slice of the hottest host — at 10^12 docs a
    megasite's 10^9 pages never serialize through one task."""
    from pyspark.sql.window import Window

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    raw = messy_url_expr()
    key = F.md5(
        F.concat_ws("/", F.col("doc_id").cast("string"), F.col("source"))
    )
    base = docs.select(
        "doc_id", url_host(raw).alias("host"), key.alias("skey")
    )
    salt = F.pmod(F.crc32(F.col("skey")), F.lit(_SAMPLE_SALTS))
    w1 = Window.partitionBy("host", "salt").orderBy("skey", "doc_id")
    cand = (
        base.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= SAMPLE_K)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("host").orderBy("skey", "doc_id")
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= SAMPLE_K)
        .select("doc_id", "host", F.col("rank").cast("long").alias("rank"))
    )


def host_sample_rows(spark, sf_dir: str):
    """(op='host_sample', k=doc_id, v=host|rank) suite row."""
    return host_quota_sample(spark, sf_dir).select(
        F.lit("host_sample").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "host", "rank").alias("v"),
    )


def crawl_schedule(spark, sf_dir: str):
    """Politeness scheduling: assign every url a per-host fetch SLOT
    (0, 1, 2, ...) so a crawler issuing one request per host per
    politeness interval knows exactly when each url goes out. Slots
    must be dense and collision-free per host — a rank, not a hash.

    Exact per-host ranking WITHOUT a hot-host sort (a 10^9-page
    megasite must never serialize through one window task): urls shard
    by their first md5 hex digit, phase 1 ranks within (host, shard)
    — each task sorts a 1/16 slice — and phase 2 turns per-(host,
    shard) counts into running offsets with a window over at most
    16 rows per host (the seq_pack two-phase prefix-sum,
    keyed by host). slot = shard offset + local rank is EXACTLY
    row_number() over (host ORDER BY shard, url) - 1."""
    from pyspark.sql.window import Window

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    base = docs.selectExpr(
        "'https://' || lower(source) || '.example.test/doc/' || doc_id"
        " AS url",
        "lower(source) || '.example.test' AS host",
    ).selectExpr(
        "url",
        "host",
        # portable hex-digit shard (quality_classifier instr discipline)
        "instr('0123456789abcdef', substr(md5(url), 1, 1)) - 1 AS shard",
    )
    w1 = Window.partitionBy("host", "shard").orderBy("url")
    w1p = Window.partitionBy("host", "shard")
    # the (host, shard) group size rides as a window column on the SAME
    # partitioning as the rank — the shard-census frame is then just
    # the leader rows (r1 == 0), so the corpus is scanned and shuffled
    # exactly once; a separate groupBy(host, shard) over `base` would
    # re-scan it on a second plan branch
    ranked = base.select(
        "*",
        (F.row_number().over(w1) - 1).alias("r1"),
        F.count(F.lit(1)).over(w1p).alias("n_hs"),
    )
    leaders = ranked.filter(F.col("r1") == 0).select(
        "host", "shard", "n_hs"
    )
    woff = (
        Window.partitionBy("host")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = leaders.withColumn(
        "off", F.coalesce(F.sum("n_hs").over(woff), F.lit(0))
    ).select("host", "shard", "off")
    return ranked.join(offsets, ["host", "shard"]).select(
        "url",
        "host",
        (F.col("off") + F.col("r1")).cast("long").alias("slot"),
    )


def crawl_schedule_rows(spark, sf_dir: str):
    """(op='crawl_schedule', k=url, v=host|slot) suite row."""
    return crawl_schedule(spark, sf_dir).select(
        F.lit("crawl_schedule").alias("op"),
        F.col("url").alias("k"),
        F.concat_ws("|", "host", "slot").alias("v"),
    )


# The twin is the textbook single window over (shard, url) — the
# sharded two-phase plan must be indistinguishable from it.
CRAWL_SCHEDULE_SQL = """
SELECT url, host,
       CAST(row_number() OVER (PARTITION BY host ORDER BY shard, url) - 1
            AS bigint) AS slot
FROM (
  SELECT url, host,
         instr('0123456789abcdef', substr(md5(url), 1, 1)) - 1 AS shard
  FROM (
    SELECT 'https://' || lower(source) || '.example.test/doc/' || doc_id
             AS url,
           lower(source) || '.example.test' AS host
    FROM documents))
ORDER BY url
"""


# The twin is the textbook single window — the salted two-phase Spark
# plan must be indistinguishable from it.
HOST_SAMPLE_SQL = """
SELECT doc_id, host, rank FROM (
  SELECT doc_id,
         lower(source) || '.example.test' AS host,
         CAST(row_number() OVER (
           PARTITION BY lower(source)
           ORDER BY md5(CAST(doc_id AS string) || '/' || source), doc_id
         ) AS bigint) AS rank
  FROM documents)
WHERE rank <= 16
ORDER BY doc_id
"""


# -- URL pattern/blocklist filter (C4 / RefinedWeb pre-fetch hygiene) ---------

# Ordered rules, first failing one recorded. Public recipe composite:
# C4 (Raffel et al. 2020) drops pages whose URL contains a bad word;
# RefinedWeb (Penedo et al. 2023 §3.1) adds URL-level blocklists and
# non-document extension drops; the param-flood cap is the classic
# crawler trap / session-id guard. Lists here are tiny deterministic
# stand-ins — a production blocklist (millions of hosts) swaps in as a
# broadcast dimension join on `url_host`, same shape as robots_rules.
URL_BANNED_WORDS = ("casino", "viagra", "lottery", "adult")
URL_BAD_EXTS = ("exe", "zip", "css", "js", "png", "gif")
URL_MAX_PARAMS = 6
URL_BLOCKED_SUBDOMAINS = ("ads", "tracker", "doubleclick")

# Shared regex snippets — the Spark side and the DuckDB twin run the
# SAME patterns on the same lowercased URL string, so the oracle
# re-derives every rule rather than pinning a closed form.
_URL_PATH_RE = "^[a-z]+://[^/?#]+([^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"
# optional userinfo is skipped with a non-capturing group — otherwise
# 'https://x@ads.example.test/' would extract host='x' and the blocked
# subdomain rule could be evaded (or false-triggered) via userinfo
_URL_HOST_RE = "^[a-z]+://(?:[^/?#@]*@)?([^/?#:@]+)"


def url_filter_verdict(url: Column) -> tuple[Column, Column]:
    """(allowed int, first_fail string) for one URL column. All JVM
    built-ins (lower/regexp/split) — no Python in the hot path; the
    filter runs pre-fetch on the frontier, so at 10^12 candidate URLs
    it must stay inside codegen."""
    lo = F.lower(url)
    path = F.regexp_extract(lo, _URL_PATH_RE, 1)
    query = F.regexp_extract(lo, _URL_QUERY_RE, 1)
    host = F.regexp_extract(lo, _URL_HOST_RE, 1)
    b_banned = lo.rlike("(" + "|".join(URL_BANNED_WORDS) + ")")
    b_ext = path.rlike(r"\.(" + "|".join(URL_BAD_EXTS) + ")$")
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    )
    b_params = n_params > URL_MAX_PARAMS
    b_host = F.regexp_extract(host, "^([^.]+)", 1).isin(
        *URL_BLOCKED_SUBDOMAINS
    )
    first_fail = (
        F.when(b_banned, "banned_word")
        .when(b_ext, "bad_ext")
        .when(b_params, "param_flood")
        .when(b_host, "host_block")
        .otherwise("-")
    )
    return (first_fail == "-").cast("int"), first_fail


def spam_url_expr() -> Column:
    """Deterministic per-doc URL exercising every url_filter rule
    (doc_id % 5: 1=banned path word, 2=blocked extension, 3=seven query
    params, 4=blocked subdomain, 0=clean)."""
    host = F.concat(F.lower(F.col("source")), F.lit(".example.test"))
    path = F.concat(F.lit("/doc/"), F.col("doc_id"))
    m = F.col("doc_id") % 5
    return (
        F.when(m == 1, F.concat(F.lit("https://"), host,
                                F.lit("/casino"), path))
        .when(m == 2, F.concat(F.lit("https://"), host, path, F.lit(".exe")))
        .when(m == 3, F.concat(F.lit("https://"), host, path,
                               F.lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7")))
        .when(m == 4, F.concat(F.lit("https://tracker."), host, path))
        .otherwise(F.concat(F.lit("https://"), host, path))
    )


def url_filter_rows(spark, sf_dir: str):
    """(op='url_filter', k=doc_id, v=allowed|first_fail) suite row."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    allowed, first_fail = url_filter_verdict(spam_url_expr())
    return docs.select(
        F.lit("url_filter").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|", allowed.alias("allowed"), first_fail.alias("first_fail")
        ).alias("v"),
    )


URL_FILTER_SQL = f"""
WITH u AS (
  SELECT doc_id,
         lower(CASE doc_id % 5
           WHEN 1 THEN 'https://' || lower(source)
                       || '.example.test/casino/doc/' || doc_id
           WHEN 2 THEN 'https://' || lower(source)
                       || '.example.test/doc/' || doc_id || '.exe'
           WHEN 3 THEN 'https://' || lower(source)
                       || '.example.test/doc/' || doc_id
                       || '?a=1&b=2&c=3&d=4&e=5&f=6&g=7'
           WHEN 4 THEN 'https://tracker.' || lower(source)
                       || '.example.test/doc/' || doc_id
           ELSE 'https://' || lower(source)
                || '.example.test/doc/' || doc_id
         END) AS lo
  FROM documents
),
v AS (
  SELECT doc_id,
    regexp_matches(lo, '({"|".join(URL_BANNED_WORDS)})') AS b1,
    regexp_matches(regexp_extract(lo, '{_URL_PATH_RE}', 1),
                   '\\.({"|".join(URL_BAD_EXTS)})$') AS b2,
    (CASE WHEN regexp_extract(lo, '{_URL_QUERY_RE}', 1) = '' THEN 0
          ELSE len(string_split(regexp_extract(lo, '{_URL_QUERY_RE}', 1),
                                '&')) END) > {URL_MAX_PARAMS} AS b3,
    list_contains({list(URL_BLOCKED_SUBDOMAINS)!r},
                  regexp_extract(regexp_extract(lo, '{_URL_HOST_RE}', 1),
                                 '^([^.]+)', 1)) AS b4
  FROM u
)
SELECT doc_id,
       CAST(NOT (b1 OR b2 OR b3 OR b4) AS int) AS allowed,
       CASE WHEN b1 THEN 'banned_word' WHEN b2 THEN 'bad_ext'
            WHEN b3 THEN 'param_flood' WHEN b4 THEN 'host_block'
            ELSE '-' END AS first_fail
FROM v
ORDER BY doc_id
"""
