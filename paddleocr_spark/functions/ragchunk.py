"""Paragraph-aware retrieval chunking — the RAG-ingestion counterpart
of `chunk_split` (which cuts blind stride-S token windows for LM
training). A retrieval index wants chunks that respect DOCUMENT
STRUCTURE: paragraph boundaries preserved, small paragraphs packed
together up to a token budget, oversized paragraphs window-split only
as a last resort — because a chunk that straddles a paragraph break
retrieves worse than one aligned to it (the standard
"semantic/structural chunking" recipe of RAG tooling).

Semantics (budget C = CHUNK_TOKENS whitespace tokens):
 1. the unit sequence is the page's main-content paragraph SPANS in
    document order (operators/spans.extract_spans — the SAME winner
    rule as extraction, so chunk provenance can cite span intervals);
 2. greedy pack: accumulate consecutive spans while total tokens stay
    <= C; flush before a span that would overflow a non-empty chunk;
 3. a SINGLE span longer than C is split alone into consecutive
    C-token windows (last one short) — never merged with neighbours;
 4. chunk text = member span texts joined by '\\n' (window splits take
    the raw token slice re-joined by single spaces).

Spark shape: one narrow Arrow pass over the shared pages checkpoint
(page -> N chunk rows, zero shuffles), the html_spans discipline.

Oracle: the fixture pins the span structure (one span per doc;
layout 2: the two half-spans), so the packing/splitting arithmetic is
closed-form per layout and the chunk strings are rebuilt relationally
with list_slice over the split text — no Python replay.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_TOKENS = 24


def chunk_spans(
    span_texts: list[str], budget: int = CHUNK_TOKENS
) -> list[tuple[int, int, int, str]]:
    """[(n_spans, n_tokens, oversize_flag, chunk_text)] per chunk from
    ordered span texts (module docstring rules 2-4)."""
    out: list[tuple[int, int, int, str]] = []
    cur: list[str] = []
    cur_toks = 0

    def flush() -> None:
        nonlocal cur, cur_toks
        if cur:
            out.append((len(cur), cur_toks, 0, "\n".join(cur)))
        cur, cur_toks = [], 0

    for text in span_texts:
        toks = text.split()
        n = len(toks)
        if n > budget:
            flush()
            for i in range(0, n, budget):
                w = toks[i : i + budget]
                out.append((1, len(w), 1, " ".join(w)))
            continue
        if cur and cur_toks + n > budget:
            flush()
        if n:
            cur.append(text)
            cur_toks += n
    flush()
    return out


def rag_chunk_rows(
    spark: SparkSession, sf_dir: str, pages=None
) -> DataFrame:
    """(op='rag_chunk', k=doc_id:idx, v=n_spans|n_tokens|oversize|md5)
    suite row."""
    from paddleocr_spark.frames import map_rows
    from paddleocr_spark.operators.spans import extract_spans
    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def chunks(url, blob):
        doc_id = int(url.rsplit("/", 1)[1])
        spans = extract_spans(bytes(blob).decode("utf-8"))
        return [
            ("rag_chunk", f"{doc_id}:{i}", f"{ns}|{nt}|{ov}|"
             + hashlib.md5(text.encode("utf-8")).hexdigest())
            for i, (ns, nt, ov, text) in enumerate(
                chunk_spans([t for _, _, _, t in spans])
            )
        ]

    return map_rows(
        pages, chunks, "op string, k string, v string", cols=["url", "html"]
    )


# Oracle: span structure per layout (HTML_SPANS_SQL): layouts 0/1/3
# one span = the whole text; layout 2 two spans = the trimmed halves.
# A span with <= C tokens packs; layout 2 packs BOTH halves iff their
# token total fits. Oversized spans split into C-token windows whose
# strings are list_slice rebuilds. Whitespace-only docs yield no spans
# and no chunks.
RAG_CHUNK_SQL = f"""
WITH d AS (
  SELECT doc_id, text, CAST(doc_id % 4 AS int) AS layout,
         CAST(length(text) AS bigint) AS L
  FROM documents
  WHERE length(trim(text)) > 0),
sp AS (
  -- RAW halves (no trim): extract_spans hands the chunker the <p>
  -- text verbatim, boundary space included; only TOKEN counting
  -- collapses whitespace
  SELECT doc_id, 0 AS span_idx,
         CASE WHEN layout = 2
              THEN substr(text, 1, CAST(L // 2 AS int))
              ELSE text END AS t
  FROM d
  UNION ALL
  SELECT doc_id, 1, substr(text, CAST(L // 2 AS int) + 1)
  FROM d WHERE layout = 2),
tok AS (
  SELECT doc_id, span_idx, t, string_split(trim(t), ' ') AS ws,
         CAST(len(string_split(trim(t), ' ')) AS bigint) AS n
  FROM sp),
-- spans that fit the budget, with pack grouping: within a doc,
-- consecutive fitting spans pack greedily. With at most 2 spans the
-- grouping is: both pack together iff n0 + n1 <= C (else separate).
fit AS (
  SELECT doc_id, span_idx, t, n FROM tok WHERE n <= {CHUNK_TOKENS}),
packed AS (
  SELECT f.doc_id,
         CASE WHEN pk.doc_id IS NOT NULL THEN 0 ELSE f.span_idx END
           AS grp,
         f.span_idx, f.t, f.n
  FROM fit f
  LEFT JOIN (
    SELECT a.doc_id
    FROM fit a JOIN fit b ON a.doc_id = b.doc_id
    WHERE a.span_idx = 0 AND b.span_idx = 1
      AND a.n + b.n <= {CHUNK_TOKENS}) pk
    ON f.doc_id = pk.doc_id),
pack_chunks AS (
  SELECT doc_id, grp,
         CAST(count(*) AS bigint) AS n_spans,
         CAST(sum(n) AS bigint) AS n_tokens,
         string_agg(t, chr(10) ORDER BY span_idx) AS text
  FROM packed GROUP BY doc_id, grp),
over_chunks AS (
  SELECT doc_id, span_idx, w,
         CAST(1 AS bigint) AS n_spans,
         CAST(least(n - (w - 1) * {CHUNK_TOKENS}, {CHUNK_TOKENS})
              AS bigint) AS n_tokens,
         array_to_string(
           list_slice(ws, (w - 1) * {CHUNK_TOKENS} + 1,
                      least(w * {CHUNK_TOKENS}, n)), ' ') AS text
  FROM tok, UNNEST(generate_series(
         1, CAST((n + {CHUNK_TOKENS} - 1) // {CHUNK_TOKENS} AS int)))
       AS g(w)
  WHERE n > {CHUNK_TOKENS}),
all_chunks AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY ord1, ord2) - 1 AS idx,
         n_spans, n_tokens, ov, text
  FROM (
    SELECT doc_id, grp AS ord1, 0 AS ord2, n_spans, n_tokens,
           CAST(0 AS int) AS ov, text
    FROM pack_chunks
    UNION ALL
    SELECT doc_id, span_idx, w, n_spans, n_tokens, 1, text
    FROM over_chunks))
SELECT 'rag_chunk' AS op,
       CAST(doc_id AS varchar) || ':' || CAST(idx AS varchar) AS k,
       CAST(n_spans AS varchar) || '|' || CAST(n_tokens AS varchar)
       || '|' || CAST(ov AS varchar) || '|' || md5(text) AS v
FROM all_chunks
ORDER BY k
"""
