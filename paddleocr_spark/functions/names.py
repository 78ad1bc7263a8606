"""Name extraction + Malay word splitting — the fork's two largest text
heuristics (SURVEY.md §2.8), as Arrow-batched UDF kernels with
ground-truth DuckDB oracles.

Name extraction (canonical simplification of fastapi_app.py:603-778,
the positional strategy the serving path uses):
- locate the IC-number line (`\\d{6}-\\d{2}-\\d{4}`),
- the name is the first line after it that is >= 70% alphabetic,
  not a stop-list keyword line (place/area/building words, gender or
  religion keywords), with OCR artifacts stripped and broken
  'B IN'/'B INTI' marker spacing repaired.

split_malay_words (fastapi_app.py:220-281): greedy longest-first
dictionary splitting of concatenated uppercase runs, with protected
words that must never be split (the reference protects MAHKOTA/SETAPAK
because shorter dictionary entries are substrings of them).

Both run on transcripts synthesized deterministically from `documents`
(doc_id arithmetic), so the DuckDB oracle recomputes the expected
output as ground truth rather than replaying the heuristic — a
mismatch means the extraction logic broke, not the fixture.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

IC_LINE_RE = re.compile(r"\d{6}-\d{2}-\d{4}")

# Stop-lists of the legacy extractor (fastapi_app.py:598-634,693) — the
# FULL sets; every check below is a substring containment, exactly like
# the reference (so e.g. the 'RA' noise token really does veto RAHMAN
# lines in the after-IC scan — a pinned faithful quirk).
NOISE_WORDS = [
    "ORPHEUSCAPITAL", "ONLY", "SAMPLE", "SPECIMEN", "WATERMARK",
    "COPYRIGHT", "AKER", "ERAJ", "MALAY", "SIA", "PENT", "GR",
    "PENGENJALAN", "SLAM", "LALAYSI", "Touch", "chip", "SEFA", "FAETAY",
    "ROTI", "ACAR", "RA", "MALAL", "AKERO",
]
NAME_ARTIFACTS = ["FAETAY", "ROTI", "ACAR", "TARIK", "NASI", "RICING", "GORENG"]
PLACE_NAME_FILTERS = [
    "PULAU PINANG", "SUNGAI DUA", "GELUGOR", "SELANGOR", "JOHOR",
    "KEDAH", "PERAK", "PAHANG", "KELANTAN", "TERENGGANU", "MELAKA",
    "SABAH", "SARAWAK", "KUALA LUMPUR", "PUTRAJAYA", "LABUAN", "PERLIS",
    "NEGERI SEMBILAN", "PENANG", "PINANG", "PETALING", "SHAH ALAM",
    "IPOH", "KOTA BHARU", "SEPANG",
]
AREA_KEYWORDS = [
    "TAMAN", "DESA", "PERMAI", "SEKSYEN", "BANDAR", "WANGSA", "JAYA",
    "INDAH", "MAJU", "SALAK", "TINGGI", "SUBANG",
]
BUILDING_KEYWORDS = [
    "RUMAH", "APARTMENT", "CONDO", "FLAT", "BLOK", "BLOCK", "BANGLOW",
    "BANGUNAN", "WISMA", "PLAZA", "KOMPLEKS", "PERUMAHAN", "PANGSA",
]
HEADER_KEYWORDS = ["KAD PENGENALAN", "MYKAD", "MALAYSIA", "IDENTITY", "CARD"]
FIELD_BREAK_KEYWORDS = [
    "LELAKI", "PEREMPUAN", "ISLAM", "KRISTIAN", "BUDDHA", "HINDU",
    "SIKH", "NEGERISEMBILAN", "SELANGOR", "JOHOR",
]
ADDRESS_BREAK_KEYWORDS = ["LOT", "JALAN", "LORONG", "KAMPUNG", "PERINGKAT", "FELDA"]

_LETTERS_ONLY_RE = re.compile(r"^[A-Z\s'@]+$")


def has_chinese(text: str) -> bool:
    return any(0x4E00 <= ord(c) <= 0x9FFF for c in text)


def _is_area_standalone(line_upper: str) -> bool:
    return (
        any(a in line_upper for a in AREA_KEYWORDS)
        and len(line_upper.split()) == 1
    )


def _find_ic_line(lines: list[str], ic_number: str) -> int | None:
    """The reference prefers the IC occurrence whose NEXT line looks like
    a name (BIN/BINTI or letters-only), falling back to the first
    occurrence (fastapi_app.py:608-625)."""
    indices = [i for i, line in enumerate(lines) if ic_number in line]
    for ci in indices:
        if ci + 1 < len(lines):
            nl = lines[ci + 1].upper().strip()
            if nl and len(nl) > 2:
                if any(w in nl for w in ("BIN", "BINTI")) or _LETTERS_ONLY_RE.match(nl):
                    return ci
    return indices[0] if indices else None


def _before_ic_tokens(lines: list[str], idx: int) -> list[str]:
    """Upside-down-card strategy (fastapi_app.py:637-671): person name /
    father's-name lines read from ABOVE the IC line."""
    prev = lines[idx - 1].upper().strip()
    is_place = any(p in prev for p in PLACE_NAME_FILTERS)
    is_area = _is_area_standalone(prev)
    has_bin = any(w in prev for w in ("BIN", "BINTI"))
    is_single = len(prev.split()) == 1 and len(prev) > 3 and prev.isalpha()
    is_multi = len(prev.split()) > 1
    if not (prev and len(prev) > 3 and not is_place and not is_area):
        return []
    if is_single or (is_multi and not has_bin):
        tokens = [lines[idx - 1]]
        if idx > 1:
            pp = lines[idx - 2].upper().strip()
            if (
                pp
                and len(pp) > 2
                and not any(p in pp for p in PLACE_NAME_FILTERS)
                and not _is_area_standalone(pp)
                and any(w in pp for w in ("BIN", "BINTI"))
            ):
                tokens.append(lines[idx - 2])
        return tokens
    if has_bin and idx > 1:
        pp = lines[idx - 2].upper().strip()
        pp_single = len(pp.split()) == 1 and len(pp) > 3 and pp.isalpha()
        if (
            pp
            and len(pp) > 2
            and not any(p in pp for p in PLACE_NAME_FILTERS)
            and not _is_area_standalone(pp)
            and pp_single
        ):
            return [lines[idx - 2], lines[idx - 1]]
    return []


def _after_ic_tokens(lines: list[str], idx: int) -> list[str]:
    """Forward scan below the IC line with the reference's full
    skip/stop ordering (fastapi_app.py:690-746)."""
    tokens: list[str] = []
    for i in range(idx + 1, len(lines)):
        line = lines[i]
        lu = line.upper().strip()
        if not lu or has_chinese(line) or len(lu) == 1:
            continue
        if len(tokens) >= 2:
            break
        if any(h in lu for h in HEADER_KEYWORDS):
            continue
        if any(f in lu for f in FIELD_BREAK_KEYWORDS):
            break
        if any(p in lu for p in PLACE_NAME_FILTERS):
            continue
        if any(a in lu for a in AREA_KEYWORDS):
            if len(lu.split()) == 1:
                continue
        if any(k in lu for k in ADDRESS_BREAK_KEYWORDS):
            break
        if any(b in lu for b in BUILDING_KEYWORDS):
            continue
        if "WARGANEGARA" in lu:
            break
        if any(n in lu for n in NOISE_WORDS):
            continue
        if line.islower():
            continue
        letters = sum(c.isalpha() or c.isspace() or c in "-'@" for c in line)
        if letters / len(line) < 0.7:
            continue
        tokens.append(line)
    return tokens


def _finish_name(raw_name: str) -> str:
    """Artifact strip + marker respacing + dict corrections + Malay
    split (fastapi_app.py:748-778)."""
    from paddleocr_spark.functions.corrections import (
        apply_replacement_corrections,
    )

    for artifact in NAME_ARTIFACTS:
        raw_name = re.sub(rf"\s+{artifact}(?:\s|$)", " ", raw_name)
        raw_name = raw_name.replace(artifact, "")
    raw_name = raw_name.strip()
    raw_name = raw_name.replace("BIN TI", "BINTI")
    raw_name = re.sub(r"BIN\s+TI", "BINTI", raw_name)
    name = apply_replacement_corrections(raw_name)
    name = re.sub(r"BINTI([A-Z])", r"BINTI \1", name, flags=re.IGNORECASE)
    if "BIN" in name and "BINTI" not in name:
        name = re.sub(r"BIN([A-Z])", r"BIN \1", name, flags=re.IGNORECASE)
    name = re.sub(r"([A-Z]+)(BINTI)\s", r"\1 \2 ", name, flags=re.IGNORECASE)
    name = re.sub(r"([A-Z]+)(BIN)\s", r"\1 \2 ", name, flags=re.IGNORECASE)
    name = split_malay_words(name)
    return re.sub(r"\s+", " ", name).strip()


def extract_name_legacy(lines: list[str], ic_number: str) -> str:
    """Full legacy strategy dispatch (fastapi_app.py:603-778): try the
    before-IC (upside-down) position first; if it yielded a lone token
    but a BIN/BINTI pattern exists within 2 lines after the IC, prefer
    the after-IC scan; finish with artifact strip + respacing + split."""
    if not ic_number:
        return ""
    idx = _find_ic_line(lines, ic_number)
    if idx is None:
        return ""
    tokens: list[str] = []
    if idx > 0:
        tokens = _before_ic_tokens(lines, idx)
    if tokens and len(tokens) == 1 and idx < len(lines) - 2:
        for ni in range(idx + 1, min(idx + 3, len(lines))):
            if any(w in lines[ni].upper().strip() for w in ("BIN", "BINTI")):
                tokens = []
                break
    if not tokens:
        tokens = _after_ic_tokens(lines, idx)
    if not tokens:
        return ""
    return _finish_name(" ".join(tokens).strip())


def extract_name(transcript: str) -> str:
    """Transcript-level wrapper: locate the IC like the serving path
    (regex over the joined text) then run the legacy strategies."""
    m = IC_LINE_RE.search(transcript)
    return extract_name_legacy(transcript.split("\n"), m.group() if m else "")


# -- synthetic corpus + query -------------------------------------------------

# Name pools chosen from the Malay-name dictionary so the final
# split_malay_words pass is the identity (each pool word markers whole),
# and screened against EVERY substring stop-list above (no 'RA', 'GR',
# 'SIA', area/place/address-keyword fragments — the reference checks are
# substring containments, so e.g. RAHMAN or PUTRA would be vetoed by the
# 'RA' noise token).
GIVEN_POOL = [
    "AHMAD", "KHALID", "SAMAD", "TAUFIK", "HAKIM", "FAIZAL", "SHUKRI",
    "HANIF",
]
FAMILY_POOL = [
    "SALIM", "TAHIR", "KARIM", "USMAN", "HARUN", "MAHMUD", "ZAKI",
    "IDRIS",
]

from paddleocr_spark.functions.fixture_shared import IC_EXPR as _IC_EXPR
from paddleocr_spark.functions.fixture_shared import pool_pick as _pool_pick


def _name_layout_sql(spark_side: bool) -> str:
    """Seven card layouts (doc_id % 7), one per legacy-strategy branch:
    0 after-IC two-line BIN name; 1 before-IC person+father
    (upside-down); 2 before-IC single-word kept (no BIN after);
    3 after-IC with an OCR artifact token stripped, BINTI; 4 the
    faithful header-as-name quirk (header precedes IC, nothing rescues);
    5 no IC at all (name must be empty); 6 before-IC multi-word person +
    father append."""
    g = _pool_pick(GIVEN_POOL, 1, 0, spark_side)
    g2 = _pool_pick(GIVEN_POOL, 5, 2, spark_side)
    fm = _pool_pick(FAMILY_POOL, 3, 1, spark_side)
    nl = "chr(10)"
    layouts = [
        f"concat_ws({nl}, 'KAD PENGENALAN MYKAD', {_IC_EXPR}, {g}, "
        f"concat('BIN ', {fm}), 'JALAN MAWAR', 'LELAKI')",
        f"concat_ws({nl}, {g}, concat('BIN ', {fm}), {_IC_EXPR}, "
        f"'KAD PENGENALAN MYKAD', 'LELAKI')",
        f"concat_ws({nl}, {g}, {_IC_EXPR}, 'JALAN MAWAR', 'PEREMPUAN')",
        f"concat_ws({nl}, 'KAD PENGENALAN MYKAD', {_IC_EXPR}, "
        f"concat({g}, ' TARIK'), concat('BINTI ', {fm}), 'PULAU PINANG', 'ISLAM')",
        f"concat_ws({nl}, 'KAD PENGENALAN MYKAD', {_IC_EXPR}, 'LELAKI')",
        f"concat_ws({nl}, 'MYKAD', 'PEREMPUAN', {g})",
        f"concat_ws({nl}, concat('BIN ', {fm}), concat({g}, ' ', {g2}), "
        f"{_IC_EXPR}, 'WARGANEGARA', 'ISLAM')",
    ]
    cases = " ".join(
        f"WHEN {i} THEN {expr}" for i, expr in enumerate(layouts)
    )
    return f"CASE doc_id % 7 {cases} END"


def _expected_name_sql(spark_side: bool) -> str:
    g = _pool_pick(GIVEN_POOL, 1, 0, spark_side)
    g2 = _pool_pick(GIVEN_POOL, 5, 2, spark_side)
    fm = _pool_pick(FAMILY_POOL, 3, 1, spark_side)
    return (
        "CASE doc_id % 7"
        f" WHEN 0 THEN concat({g}, ' BIN ', {fm})"
        f" WHEN 1 THEN concat({g}, ' BIN ', {fm})"
        f" WHEN 2 THEN {g}"
        f" WHEN 3 THEN concat({g}, ' BINTI ', {fm})"
        " WHEN 4 THEN 'KAD PENGENALAN MYKAD'"
        " WHEN 5 THEN ''"
        f" WHEN 6 THEN concat({g}, ' ', {g2}, ' BIN ', {fm})"
        " END"
    )


def ic_name_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_name_layout_sql(True)).alias("raw_ocr_text")
    )

    return map_rows(
        docs, lambda d, t: [(d, extract_name(t))], "doc_id long, name string"
    )


IC_NAME_EXTRACT_SQL = (
    f"SELECT doc_id, {_expected_name_sql(False)} AS name FROM documents"
)


# -- split_malay_words --------------------------------------------------------

# Full dictionaries (fastapi_app.py:220-281): split priority is NOT
# positional — the names pass runs first, sorted longest-first, then the
# words pass in LIST order. Both orders are semantics (e.g. HAFIZZAH
# must marker before its substring HAFIZ; CYBERJAYA before JAYA).
MALAY_WORDS = [
    "KAMPUNG", "TAMAN", "JALAN", "LORONG", "PERUMAHAN", "BANDAR",
    "KOTA", "BUKIT", "PETALING", "SHAH", "DAMANSARA", "SETIAWANGSA",
    "PUTRAJAYA", "CYBERJAYA", "AMPANG", "CHERAS", "SENTOSA", "KEPONG",
    "MELAYU", "SUBANG", "SEKSYEN", "FELDA", "DESA", "ALAM", "IDAMAN",
    "LEMBAH", "PERMAI", "INDAH", "NEGERI", "SEMBILAN", "BINTI", "BIN",
    "PADANG", "PALOH", "KUALA", "BATU", "PAHAT", "LOJING", "SALAK",
    "TINGGI", "BARU", "WANGSA", "MAJU", "JAYA", "ALOR", "SETAR",
]

MALAY_NAMES = [
    "MUHAMMAD", "ABDUL", "ABDULLAH", "AHMAD", "MOHD", "MOHAMED",
    "MOHAMMAD", "MUHAMAD", "FIRDAUS", "FARID", "FARIS", "FAIZ",
    "FAIZAL", "FAZL", "HAFIZ", "HAFIZZAH", "HAFIZUL", "HAJAR", "HAKIM",
    "HALIM", "HAMID", "HAMZAH", "HANIF", "HARIS", "HARITH", "HARUN",
    "HASAN", "HASSAN", "HIDAYAT", "HUSAIN", "HUSSAIN", "IBRAHIM",
    "IDRIS", "ILYAS", "IMRAN", "ISMAIL", "IZZAT", "JAFAR", "JAMIL",
    "KAMAL", "KARIM", "KHALID", "KHAMIS", "KHAIRUL", "AIMAN", "MAHDI",
    "MAHIR", "MAHMUD", "MAJID", "MALIK", "MANSOR", "MARZUQI", "MASHUD",
    "MASRI", "MUSTAFA", "NAIM", "NASIR", "NASRUL", "NAZMI", "NOOR",
    "NOR", "NUR", "NURUL", "RAHIM", "RAHMAN", "RAIS", "RAJA", "RAMLI",
    "RASHID", "RAZAK", "RAZALI", "RIDWAN", "ROSLAN", "ROSLEE", "ROSLI",
    "ROZMAN", "SAAD", "SABRI", "SAIFUL", "SALAHUDDIN", "SALIM",
    "SALLEH", "SAMAD", "SAMSUDDIN", "SANUSI", "SHAFIQ", "SHAHRUL",
    "SHAHRIL", "SHAMSUL", "SHARIF", "SHUKRI", "SIDDIQ", "SULAIMAN",
    "SYAFIQ", "SYAHIR", "SYAMSUL", "SYED", "TAHIR", "TAJUDDIN",
    "TALIB", "TAMRIN", "TARMIZI", "TAUFIK", "THAIB", "UMAR", "USMAN",
    "WAHID", "WAKI", "YAHYA", "YUSOF", "YUSOFF", "YUSUF", "ZAHARI",
    "ZAINAL", "ZAINUDDIN", "ZAKARIA", "ZAKI", "ZAMRI", "ZULKIFLI",
    "ZULKEFLI", "HAMIDEE", "NIK", "AMIN", "MAT", "ZIN",
]

# Words that must never be split even though dictionary entries are
# substrings of them (KOTA in MAHKOTA, TAPAK-adjacent SETAPAK).
PROTECTED_WORDS = [("MAHKOTA", "ZZZ001ZZZ"), ("SETAPAK", "ZZZ002ZZZ")]


def split_malay_words(s: str) -> str:
    """Reference marker-counter splitter (fastapi_app.py:220-281):
    protect -> names pass (longest-first, substring replace anywhere) ->
    words pass (list order) -> expand markers with surrounding spaces ->
    restore protected -> collapse whitespace.

    Priority is by dictionary rank, NOT left-to-right position: in
    'ANIKAMAL' the 5-letter name KAMAL markers first even though NIK
    starts earlier, giving 'ANI KAMAL' (a greedy positional scan would
    wrongly yield 'A NIK AMAL' — pinned in tests)."""
    for word, placeholder in PROTECTED_WORDS:
        s = s.replace(word, placeholder)
    counter = 1000
    expansions: list[tuple[str, str]] = []
    for name in sorted(MALAY_NAMES, key=len, reverse=True):
        if name in s:
            marker = f"__NAME_{counter}__"
            expansions.append((marker, name))
            s = s.replace(name, marker)
            counter += 1
    for word in MALAY_WORDS:
        if word in s:
            marker = f"__WORD_{counter}__"
            expansions.append((marker, word))
            s = s.replace(word, marker)
            counter += 1
    for marker, original in expansions:
        s = s.replace(marker, f" {original} ")
    for word, placeholder in PROTECTED_WORDS:
        s = s.replace(placeholder, word)
    return re.sub(r"\s+", " ", s).strip()


# Expected split form of each dictionary word under the algorithm — the
# names pass outranks the words pass, so PUTRAJAYA (containing the name
# RAJA) legitimately splits; everything else is stable. Used by the
# oracle, validated exhaustively in tests.
SPLIT_FORMS = {w: ("PUT RAJA YA" if w == "PUTRAJAYA" else w) for w in MALAY_WORDS}

_WORD_PICKS = ((7, 0), (11, 3), (13, 5))


def _word_terms_spark() -> list[str]:
    """element_at is 1-based in Spark (bracket indexing is 0-based, so it
    is avoided — DuckDB's brackets are 1-based and would silently skew)."""
    n = len(MALAY_WORDS)
    arr = "array(" + ", ".join(f"'{w}'" for w in MALAY_WORDS) + ")"
    return [
        f"element_at({arr}, CAST((doc_id * {m} + {o}) % {n} AS int) + 1)"
        for m, o in _WORD_PICKS
    ]


def _word_terms_duck() -> list[str]:
    n = len(MALAY_WORDS)
    lst = "[" + ", ".join(f"'{w}'" for w in MALAY_WORDS) + "]"
    return [
        f"{lst}[CAST((doc_id * {m} + {o}) % {n} AS int) + 1]"
        for m, o in _WORD_PICKS
    ]


def malay_word_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    concat_expr = "concat(" + ", ".join(_word_terms_spark()) + ")"
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(concat_expr).alias("joined")
    )

    return map_rows(
        docs, lambda d, s: [(d, s, split_malay_words(s))],
        "doc_id long, joined string, split string",
    )


def _expected_split_sql() -> str:
    """Ground truth: the three chosen words joined with spaces, each in
    its SPLIT_FORMS shape. Valid for every reachable (doc_id mod 46)
    pick triple — no cross-boundary dictionary match exists among them,
    which tests/test_names_recovery.py verifies exhaustively."""
    parts = _word_terms_duck()
    n = len(MALAY_WORDS)
    forms = "[" + ", ".join(f"'{SPLIT_FORMS[w]}'" for w in MALAY_WORDS) + "]"
    spaced_parts = [
        f"{forms}[CAST((doc_id * {m} + {o}) % {n} AS int) + 1]"
        for m, o in _WORD_PICKS
    ]
    joined = "concat(" + ", ".join(parts) + ")"
    spaced = "concat_ws(' ', " + ", ".join(spaced_parts) + ")"
    return (
        f"SELECT doc_id, {joined} AS joined, {spaced} AS split FROM documents"
    )


MALAY_WORD_SPLIT_SQL = _expected_split_sql()
