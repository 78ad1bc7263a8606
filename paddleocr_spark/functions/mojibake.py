"""Mojibake detection + repair (the ftfy core): undo UTF-8 bytes that
were mis-decoded as cp1252.

The single most common encoding corruption in web text: a page's UTF-8
bytes pass through a latin-1/cp1252 stage and 'café' becomes 'cafÃ©',
'—' becomes 'â€”'. A curation pipeline repairs this BEFORE hashing or
tokenizing, or every garbled capture splits its dedup group and
pollutes the vocabulary. The reliable fix (what ftfy's
`fix_encoding` does at its core) is the round-trip test:
re-encode the text as cp1252 and try to decode the bytes as UTF-8 —
genuine mojibake round-trips to the original, while clean text fails
the UTF-8 decode (a lone 0xE9 byte is not valid UTF-8) and is left
untouched. Repeated up to MAX_ROUNDS for double-encoded input; pure
ASCII round-trips to itself and stops immediately.

Known, accepted edge (ftfy's too): text that LEGITIMATELY contains a
mojibake-looking sequence gets "repaired" — vanishingly rare outside
constructed examples. Text with characters outside cp1252 (CJK) can't
re-encode, so it is a guaranteed no-op.

Like NFC normalization this is the sanctioned Python exception (Spark
has no codec round-trip builtin): an Arrow-batched `frames.map_rows`, a pure
narrow map with zero shuffles riding the scan partitioning. The
fixture INJECTS the corruption via one portable SQL expression (a
garbled prefix on doc_id%3==1 rows, the clean prefix otherwise), and
because repair exactly inverts injection, the oracle verdict is closed
form: every row's repaired md5 is md5(clean_prefix || text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

MAX_ROUNDS = 3

# every UTF-8 byte of these characters is a DEFINED cp1252 codepoint,
# so the garbling round-trips exactly: é = C3 A9 -> 'Ã©',
# — = E2 80 94 -> 'â€”', ü = C3 BC -> 'Ã¼'
CLEAN_PREFIX = "café — über: "
GARBLED_PREFIX = CLEAN_PREFIX.encode("utf-8").decode("cp1252")

MOJIBAKE_INJECT_EXPR = (
    f"CASE WHEN doc_id % 3 = 1 THEN '{GARBLED_PREFIX}' || text"
    f" ELSE '{CLEAN_PREFIX}' || text END"
)


def fix_encoding(t: str) -> tuple[str, int]:
    """(repaired, rounds): undo up to MAX_ROUNDS of cp1252 mis-decoding
    via the round-trip test; rounds = 0 means the text was clean."""
    rounds = 0
    while rounds < MAX_ROUNDS:
        try:
            fixed = t.encode("cp1252").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if fixed == t:
            break
        t = fixed
        rounds += 1
    return t, rounds


def mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fixed_rounds, repaired_md5) over the injected fixture:
    doc_id%3==1 rows carry one level of cp1252 mojibake and must repair
    back to the clean text byte-exactly; the rest must pass through
    untouched."""
    import hashlib

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", f"{MOJIBAKE_INJECT_EXPR} AS injected"
    )

    def repair(d, t):
        fixed, r = fix_encoding(t)
        return [(d, r, hashlib.md5(fixed.encode("utf-8")).hexdigest())]

    return map_rows(
        docs, repair, "doc_id long, fixed_rounds int, repaired_md5 string"
    ).orderBy("doc_id")


def mojibake_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='mojibake', k=doc_id, v=fixed_rounds|repaired_md5)."""
    return mojibake_repair(spark, sf_dir).select(
        F.lit("mojibake").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws("|", "fixed_rounds", "repaired_md5").alias("v"),
    )


# Closed form: repair inverts injection, so EVERY row's repaired text
# is clean_prefix || text; only the rounds flag depends on the parity.
MOJIBAKE_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS fixed_rounds,
       md5('{CLEAN_PREFIX}' || text) AS repaired_md5
FROM documents
ORDER BY doc_id
"""
