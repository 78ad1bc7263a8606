"""RFC 9309 robots.txt parsing + per-url verdicts.

The protocol-faithful upgrade of `weburl.robots_allow` (which consumes
a pre-parsed prefix-rule dimension): parse the actual robots.txt a host
serves — group selection by product token, `*` wildcards, `$` end
anchors, longest-octet-match precedence with Allow winning ties —
and evaluate every page url against its host's rules.

RFC 9309 semantics implemented (and pinned in tests/test_robots.py):
- Groups: consecutive `User-agent:` lines share the rule block that
  follows; rules bind to every agent named since the last rule.
- Group selection: case-insensitive EXACT product-token match; the
  `*` group is the fallback when no token matches. Non-group records
  (e.g. Crawl-delay) attach to the group in force.
- Rule match: patterns anchor at the path start, `*` matches any
  sequence, a trailing `$` anchors the end.
- Precedence: the matching rule with the MOST OCTETS wins; on a tie,
  Allow wins. No matching rule -> allowed.
- Unknown directives and comments (#) are ignored; Sitemap lines are
  collected but non-binding.

Scale shape: robots are per-HOST artifacts. Parsing runs on the host
census (one DISTINCT + narrow map, like sitemap discovery); verdicts
join the corpus-scale url frame against the broadcast-sized rules
frame on host, then evaluate per-row in one Arrow-batched map with a
per-host compiled-pattern cache.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

AGENT = "paddlebot"  # this crawler's product token


def parse_robots(txt: str, agent: str = AGENT):
    """-> (rules, crawl_delay): rules = [(allow: bool, pattern: str)]
    for the group selected for `agent` (exact case-insensitive token,
    else the `*` group, else no rules); crawl_delay = float seconds or
    0.0 when absent from the selected group."""
    groups: list[tuple[list[str], list[tuple[bool, str]], float]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    cur_delay = 0.0
    in_rules = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay, in_rules
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], 0.0
        in_rules = False

    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                flush()
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            # an empty value is non-binding — "Disallow:" is the RFC
            # "allow everything" idiom, i.e. NO restriction, not a
            # zero-length disallow pattern
            if val:
                cur_rules.append((key == "allow", val))
        elif key == "crawl-delay":
            in_rules = True
            try:
                cur_delay = float(val)
            except ValueError:
                pass
        # unknown directives (Sitemap, Host, ...) are non-binding
    flush()

    token = agent.lower()
    exact = [g for g in groups if token in g[0]]
    star = [g for g in groups if "*" in g[0]]
    chosen = exact if exact else star
    rules: list[tuple[bool, str]] = []
    delay = 0.0
    for _agents, rs, dl in chosen:
        rules.extend(rs)
        delay = max(delay, dl)
    return rules, delay


def _pattern_re(pattern: str) -> re.Pattern:
    # collapse runs of '*' FIRST: '/**x' would otherwise compile to
    # '.*.*x' and backtrack catastrophically on long non-matching
    # paths (confirmed hang at ~20 stars x 200-char path) — and real
    # robots.txt files do contain '/**/' patterns
    anchored = pattern.endswith("$")
    core = re.sub(r"\*+", "*", pattern[:-1] if anchored else pattern)
    rx = ".*".join(re.escape(part) for part in core.split("*"))
    return re.compile("^" + rx + ("$" if anchored else ""))


def compile_rules(
    rules: list[tuple[bool, str]],
) -> list[tuple[bool, re.Pattern, int]]:
    """Pre-compile a rule list once; robots_verdict accepts either raw
    or compiled rules (the verdict hot path must not re-derive regex
    sources per url)."""
    return [
        (allow, _pattern_re(p), len(p.encode("utf-8")))
        for allow, p in rules
    ]


def robots_verdict(rules, path: str) -> tuple[bool, int]:
    """(allowed, winning pattern octet length) under longest-match /
    Allow-wins-ties precedence; (True, 0) when nothing matches.
    `rules` is either [(allow, pattern_str)] or compile_rules output."""
    if rules and len(rules[0]) == 2:
        rules = compile_rules(rules)
    best_len = -1
    best_allow = True
    for allow, rx, plen in rules:
        if plen < best_len or (plen == best_len and not allow):
            continue  # cannot beat the incumbent (Allow wins ties)
        if rx.match(path):
            best_len, best_allow = plen, allow
    if best_len < 0:
        return True, 0
    return best_allow, best_len


def synth_robots(source: str) -> str:
    """Deterministic per-host robots.txt: a decoy group, a `*` group
    with wildcard/$ rules + crawl-delay, and (odd hosts, by the sitemap
    ascii-arithmetic convention) a case-scrambled exact PaddleBot group
    that must take precedence over `*`."""
    c = ord(source[-1])
    txt = (
        "# synthetic robots for fixture host\n"
        "User-agent: OtherBot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /doc/*3$\n"
        "Allow: /doc/1*\n"
        f"Crawl-delay: {1 + c % 5}\n"
    )
    if c % 2 == 1:
        txt += (
            "\n"
            "User-agent: PaDdLeBoT\n"  # exact token, scrambled case
            "Disallow: /doc/*7$\n"
            "Allow: /doc/\n"
        )
    return txt


def robots_rfc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='robots_rfc', k=doc_id, v=allowed|delay_x10|winner_len)
    suite row: parse each host's robots.txt on the host census, join
    the rules (broadcast-sized) onto the url frame, evaluate the RFC
    verdict per url."""
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    hosts = docs.select("source").distinct()

    def parse(source):
        s = str(source)
        rules, delay = parse_robots(synth_robots(s), AGENT)
        return [(s, json.dumps(rules), delay)]

    rules_dim = map_rows(
        hosts, parse, "source string, rules_json string, delay double"
    )
    joined = docs.join(F.broadcast(rules_dim), "source")
    # compiled-regex cache keyed by the rules blob: a megahost's pages
    # pay ONE compile per task (each task unpickles its own dict)
    cache: dict[str, list] = {}

    def verdict(doc_id, rj, delay):
        rules = cache.get(rj)
        if rules is None:
            rules = compile_rules([(bool(a), p) for a, p in json.loads(rj)])
            cache[rj] = rules
        allowed, wlen = robots_verdict(rules, f"/doc/{doc_id}")
        return [("robots_rfc", str(doc_id),
                 f"{int(allowed)}|{int(round(delay * 10))}|{wlen}")]

    return map_rows(
        joined, verdict, "op string, k string, v string",
        cols=["doc_id", "rules_json", "delay"],
    )


# Closed-form twin: even hosts follow the `*` group (block ids ending
# in 3 via the /doc/*3$ rule, len 8; /doc/1* allow len 7 never outranks
# it; delay 1 + c%5), odd hosts follow the exact-token group (block ids
# ending in 7 len 8, allow /doc/ len 5, no delay in that group).
ROBOTS_RFC_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CASE WHEN c % 2 = 1 THEN
              CASE WHEN doc_id % 10 = 7 THEN '0|0|8' ELSE '1|0|5' END
            ELSE
              CASE WHEN doc_id % 10 = 3 THEN '0|' || (10 + (c % 5) * 10) || '|8'
                   WHEN substr(CAST(doc_id AS string), 1, 1) = '1'
                     THEN '1|' || (10 + (c % 5) * 10) || '|7'
                   ELSE '1|' || (10 + (c % 5) * 10) || '|0' END
       END AS v
FROM (SELECT doc_id,
             ascii(substr(source, length(source), 1)) AS c
      FROM documents)
ORDER BY doc_id
"""
