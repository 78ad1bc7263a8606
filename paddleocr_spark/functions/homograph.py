"""IDN homograph (confusable-script) detection — the phishing/webspam
URL signal: a host like xn--/Cyrillic 'аррle.com' renders identically
to 'apple.com' but is a different registrable domain. Crawl pipelines
flag these by SKELETONIZING hostnames (UTS #39 confusable folding) and
grouping: a non-ASCII host whose skeleton collides with a known ASCII
host is a spoof candidate.

Rebuilt Spark-first over a deterministic fixture derived from the
corpus host census: docs with doc_id % 5 == 0 emit a SPOOFED variant
of their host (Cyrillic lookalikes for 's'/'c' — 'ѕ' U+0455 and 'с'
U+0441 — selected by doc_id % 3: s-only / c-only / both), everyone
else the legit ASCII host. The operator then:

- skeletonizes via one `translate()` (the UTS-39 subset table — at
  production the full confusables.txt ships the same way: a literal
  from->to pair in the expression, or a broadcast map for the
  multi-char entries),
- flags mixed-script hosts (any Cyrillic char present),
- marks a spoof ATTACK when the skeleton matches a registered ASCII
  host (broadcast semi-join against the distinct host census — the
  PSL-table discipline; host cardinality, never corpus).

All JVM expressions + one broadcast join; DuckDB twin runs the same
translate/regexp/semi-join closed-form. Zero Python, zero shuffles on
the corpus side (the census groupBy is host-bounded).

This module also hosts the two ADJACENT URL-layer surfaces: the
punycode wire form (op='puny' — kernels/punycode.py scored against
stdlib-derived oracle literals) and meta-refresh redirect extraction
(op='meta_refresh' — the HTML-layer hop beside functions/redirects.py's
HTTP chain).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

# UTS #39 confusable subset used by the fixture: Cyrillic -> ASCII
CONF_SRC = "ѕс"  # ѕ с
CONF_DST = "sc"


def homograph_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='homograph', k=doc_id, v=candidate|skeleton|mixed|attack)."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    spoof_s = F.translate("source", "s", "ѕ")
    spoof_c = F.translate("source", "c", "с")
    spoof_both = F.translate("source", "sc", "ѕс")
    candidate = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.when(F.col("doc_id") % 3 == 0, spoof_s)
            .when(F.col("doc_id") % 3 == 1, spoof_c)
            .otherwise(spoof_both),
        )
        .otherwise(F.col("source"))
        .alias("candidate")
    )
    base = docs.select("doc_id", "source", candidate).select(
        "doc_id",
        "candidate",
        F.translate("candidate", CONF_SRC, CONF_DST).alias("skeleton"),
        (
            F.col("candidate").rlike(f"[{CONF_SRC}]")
        ).cast("int").alias("mixed"),
    )
    legit = docs.select(F.col("source").alias("skeleton")).distinct()
    # attack = mixed-script AND skeleton collides with a registered
    # ASCII host; broadcast semi-join keeps it host-bounded
    joined = base.join(
        F.broadcast(legit.withColumn("known", F.lit(1))),
        "skeleton",
        "left",
    )
    return joined.select(
        F.lit("homograph").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            "|",
            "candidate",
            "skeleton",
            "mixed",
            (
                (F.col("mixed") == 1)
                & F.col("known").isNotNull()
            ).cast("int"),
        ).alias("v"),
    )


HOMOGRAPH_SQL = """
WITH legit AS (SELECT DISTINCT source AS skeleton FROM documents),
cand AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 5 = 0 AND doc_id % 3 = 0
             THEN replace(source, 's', 'ѕ')
           WHEN doc_id % 5 = 0 AND doc_id % 3 = 1
             THEN replace(source, 'c', 'с')
           WHEN doc_id % 5 = 0
             THEN replace(replace(source, 's', 'ѕ'),
                          'c', 'с')
           ELSE source
         END AS candidate
  FROM documents),
sk AS (
  SELECT doc_id, candidate,
         replace(replace(candidate, 'ѕ', 's'),
                 'с', 'c') AS skeleton,
         CAST(candidate LIKE '%ѕ%'
              OR candidate LIKE '%с%' AS int) AS mixed
  FROM cand)
SELECT 'homograph' AS op, CAST(sk.doc_id AS string) AS k,
       sk.candidate || '|' || sk.skeleton || '|' ||
       CAST(sk.mixed AS varchar) || '|' ||
       CAST(CASE WHEN sk.mixed = 1 AND legit.skeleton IS NOT NULL
                 THEN 1 ELSE 0 END AS varchar) AS v
FROM sk LEFT JOIN legit ON sk.skeleton = legit.skeleton
ORDER BY k
"""


# --- punycode wire form (RFC 3492) ----------------------------------------
#
# The homograph attack surface arrives at a crawler as `xn--` ACE
# labels; this op pins OUR bootstring codec (kernels/punycode.py)
# against the stdlib `idna` reference THROUGH the gate: the Spark side
# encodes with our implementation (and round-trip-asserts in-runner),
# while the oracle's expected ACE strings are literals produced by the
# stdlib codec at module-definition time. Any divergence between the
# two implementations is a red gate row, per label, per run.

PUNY_LABELS = [
    "münchen",
    "bücher",
    "пример",
    "ѕrc0",        # the homograph fixture's Cyrillic-s spoof
    "srс10",       # Cyrillic-c spoof
    "ѕrс7",        # both
    "café",
    "königsberg",
    "ελληνικά",
    "中文测试",
    "مثال",
    "plain-ascii",
]


def _stdlib_ace(label: str) -> str:
    return label.encode("idna").decode("ascii")


PUNY_EXPECTED = [(lab, _stdlib_ace(lab)) for lab in PUNY_LABELS]


def puny_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='puny', k=doc_id, v=label|ace): each doc exercises one
    label (doc_id % len); encode = OUR codec, asserted equal to its
    own decode round-trip in-runner; the oracle carries the stdlib
    expectation."""
    from paddleocr_spark.kernels.punycode import host_to_ascii, host_to_unicode

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )

    def puny(d):
        label = PUNY_LABELS[d % len(PUNY_LABELS)]
        ace = host_to_ascii(label)
        if host_to_unicode(ace) != label.lower():
            raise ValueError(f"punycode roundtrip broke: {label}")
        return [("puny", str(d), f"{label}|{ace}")]

    return map_rows(docs, puny, "op string, k string, v string")


def _puny_sql() -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{lab}|{ace}'"
        for i, (lab, ace) in enumerate(PUNY_EXPECTED)
    )
    return f"""
SELECT 'puny' AS op, CAST(doc_id AS string) AS k,
       CASE doc_id % {len(PUNY_LABELS)} {arms} END AS v
FROM documents
ORDER BY k
"""


PUNY_SQL = _puny_sql()


# --- meta-refresh redirects (HTML-layer hop) ------------------------------
#
# The redirect chain a crawler follows is not only HTTP 3xx
# (functions/redirects.py): pages hop via
# `<meta http-equiv="refresh" content="5; url=/new">`, with notorious
# syntax slop — optional delay, `URL=` casing, quoted targets,
# whitespace. The extractor runs over the shared DOM build (real
# attribute parsing, not a regex over raw bytes), normalizes the slop,
# and resolves the target against the page URL with the SAME RFC 3986
# resolver every URL operator uses.

_REFRESH_FORMS = [
    # (content attribute, resolved-against-base expectation key)
    "0; url=/hop/next",
    "5;URL='/hop/quoted'",
    " 2 ; Url = hop/rel ",   # unquoted, casing + whitespace slop
    "7",                       # delay only: refresh, no redirect
    "0;url=https://other.example.test/abs",
]


def parse_meta_refresh(content: str) -> tuple[int, str | None]:
    """(delay_seconds, target | None) from a refresh content value —
    the WHATWG 'shared declarative refresh steps' in miniature:
    leading integer delay, then an optional case-insensitive `url=`
    whose value may be single- or double-quoted."""
    s = content.strip()
    i = 0
    while i < len(s) and s[i].isdigit():
        i += 1
    if i == 0:
        raise ValueError(f"refresh without delay: {content!r}")
    delay = int(s[:i])
    rest = s[i:].lstrip()
    if not rest:
        return delay, None
    if rest[0] in ",;":
        rest = rest[1:].lstrip()
    if rest[:3].lower() != "url":
        return delay, None
    rest = rest[3:].lstrip()
    if not rest.startswith("="):
        return delay, None
    rest = rest[1:].strip()
    if rest[:1] in "'\"" and rest[-1:] == rest[:1] and len(rest) >= 2:
        rest = rest[1:-1].strip()
    return delay, rest or None


def synth_refresh_page(doc_id: int) -> str:
    """doc_id % 5 selects one of the _REFRESH_FORMS variants; % 5 == 3
    is the delay-only page (no redirect)."""
    form = _REFRESH_FORMS[doc_id % 5]
    return (
        "<html><head>"
        f'<meta http-equiv="refresh" content="{form}">'
        f"<title>r{doc_id}</title></head>"
        "<body><p>interstitial</p></body></html>"
    )


class _RefreshMeta(HTMLParser):
    """Keeps the `content` of the first `<meta http-equiv=refresh>`."""

    def __init__(self):
        super().__init__()
        self.content = None

    def handle_starttag(self, tag, attrs):
        if tag == "meta" and self.content is None:
            a = dict(attrs)
            if (a.get("http-equiv") or "").lower() == "refresh":
                self.content = a.get("content") or ""


def meta_refresh_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='meta_refresh', k=doc_id, v=delay|resolved_target_or_-)."""
    import urllib.parse

    from paddleocr_spark.sources.pages import doc_url

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )

    def refresh(d, source):
        m = _RefreshMeta()
        m.feed(synth_refresh_page(d))
        delay, target = parse_meta_refresh(m.content)
        base = doc_url(d, str(source))
        resolved = urllib.parse.urljoin(base, target) if target else "-"
        return [("meta_refresh", str(d), f"{delay}|{resolved}")]

    return map_rows(docs, refresh, "op string, k string, v string")


META_REFRESH_SQL = """
SELECT 'meta_refresh' AS op, CAST(doc_id AS string) AS k,
       CASE doc_id % 5
         WHEN 0 THEN '0|https://' || source || '.example.test/hop/next'
         WHEN 1 THEN '5|https://' || source || '.example.test/hop/quoted'
         WHEN 2 THEN '2|https://' || source
                     || '.example.test/doc/hop/rel'
         WHEN 3 THEN '7|-'
         ELSE '0|https://other.example.test/abs'
       END AS v
FROM documents
ORDER BY k
"""
