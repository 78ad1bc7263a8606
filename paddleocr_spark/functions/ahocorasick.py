"""Aho-Corasick multi-pattern scanning — the scalable form of the
blocklist/decontamination PHRASE scan.

`cleaning.badwords` matches exact single tokens with a JVM isin — the
right shape for a token blocklist, but production filters (Dolma's
blocklists, benchmark-canary sweeps) match 10^4-10^6 multi-word
PHRASES, where per-pattern scanning is O(patterns x text) and regex
alternation blows up. Aho-Corasick (1975) matches ALL patterns in one
pass: a goto trie + failure links + output sets, O(text + matches)
regardless of pattern count.

Spark shape: the automaton is built ONCE driver-side from the pattern
list and rides the closure as plain lists (broadcast-sized: trie
nodes ~ total pattern chars); the scan is one narrow Arrow map over
the corpus — zero shuffles, and the cost is independent of how many
phrases the blocklist holds (the property token-isin lacks).

Semantics: counts EVERY occurrence, including overlaps between
patterns and self-overlapping repeats — the standard AC output-link
semantics. The fixture phrase set is deliberately BORDER-FREE (no
pattern has a proper prefix that is also its suffix), which makes
per-pattern occurrence counts equal to DuckDB's non-overlapping
replace-count arithmetic — so the oracle can state the counts
closed-form without reimplementing the automaton (the border-free
precondition is asserted by test; bordered patterns like 'aa' are
exercised against a brute-force reference instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.scan import scan_parquet

PHRASES = (
    "free money", "money back", "click here", "here now", "casino",
    "limited offer",
)

# deterministic phrase injection (cleaning.badwords discipline): one
# portable SQL expression both engines evaluate verbatim; %5 keys
# cover none / single / multi / overlapping-chain / repeated cases.
# 'free money back' chains two phrases through the shared word.
AC_INJECT_EXPR = (
    "text || CASE CAST(doc_id % 5 AS int)"
    " WHEN 0 THEN ' free money back guarantee'"
    " WHEN 1 THEN ' click here now for casino'"
    " WHEN 2 THEN ' limited offer free money money back'"
    " WHEN 3 THEN ''"
    " ELSE ' casino casino casino' END"
)


def build_automaton(patterns: tuple[str, ...]):
    """(goto: list[dict[ch,int]], fail: list[int], out: list[list[int]])
    — the textbook construction (goto trie, BFS failure links, output
    set union along fail chains)."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for idx, pat in enumerate(patterns):
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(idx)
    fail = [0] * len(goto)
    from collections import deque

    q = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def ac_scan(
    text: str, automaton, patterns: tuple[str, ...]
) -> list[tuple[int, int]]:
    """[(pattern_idx, end_pos 1-based)] for every occurrence."""
    goto, fail, out = automaton
    s = 0
    hits: list[tuple[int, int]] = []
    for i, ch in enumerate(text):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        for idx in out[s]:
            hits.append((idx, i + 1))
    return hits


def ac_scan_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='ac_scan', k=doc_id, v=total|n_patterns|first_end) over the
    injected corpus."""
    from paddleocr_spark.frames import map_rows

    auto = build_automaton(PHRASES)
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(AC_INJECT_EXPR).alias("t")
    )

    def scan(d, t):
        hits = ac_scan(str(t), auto, PHRASES)
        return [(int(d), len(hits), len({i for i, _ in hits}),
                 min((e for _, e in hits), default=0))]

    return map_rows(
        docs, scan, "doc_id long, total long, n_patterns long, first_end long"
    ).select(
        F.lit("ac_scan").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "total", "n_patterns", "first_end").alias("v"),
    )


def _sql() -> str:
    occ = " + ".join(
        f"(length(t) - length(replace(t, '{p}', ''))) // {len(p)}"
        for p in PHRASES
    )
    npat = " + ".join(
        f"CASE WHEN instr(t, '{p}') > 0 THEN 1 ELSE 0 END"
        for p in PHRASES
    )
    firsts = ", ".join(
        f"CASE WHEN instr(t, '{p}') > 0"
        f" THEN instr(t, '{p}') + {len(p) - 1} ELSE NULL END"
        for p in PHRASES
    )
    return f"""
WITH d AS (
  SELECT doc_id, {AC_INJECT_EXPR} AS t FROM documents)
SELECT 'ac_scan' AS op, CAST(doc_id AS varchar) AS k,
       CAST({occ} AS varchar) || '|' ||
       CAST({npat} AS varchar) || '|' ||
       CAST(coalesce(least({firsts}), 0) AS varchar) AS v
FROM d
ORDER BY doc_id
"""


AC_SCAN_SQL = _sql()
