"""The fork's "ultimate" IC extractor (malaysia_ic_extractor_ultimate.py
:43-248) — the PRIMARY serving-path parser; the legacy strategies in
functions/names.py / functions/address.py are its fallback
(fastapi_app.py:472-490 try/except dispatch, re-expressed in
extract_fields_dispatch below).

Layout-agnostic rules: find the IC anywhere, anchor on the BIN/BINTI
line when present (name = alphabetic lines walked backward from it +
the line itself + one forward line), otherwise collect alphabetic lines
after the IC; address = the non-name remainder until gender/religion
markers, with a small OCR-misread map applied per line. Faithful quirks
are kept and pinned in tests (e.g. a state line is >85% alphabetic and
is therefore skipped by the BIN-case address collector, and in the
no-BIN case the state-append pass can duplicate an already-collected
state line).

Execution model: pure per-row Python over a line list — runs inside
Arrow-batched UDFs next to the OCR kernels; no shuffle, no driver work.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

IC_RE = re.compile(r"\d{6}-\d{2}-\d{4}")
UNIT_RE = re.compile(r"^[ML]\d+")

# Per-line misread map (malaysia_ic_extractor_ultimate.py:14-22):
# applied to a whole stripped-uppercased line, not substrings.
LINE_CORRECTIONS = {
    "YENU6": "MUHAMMAD",
    "MUHAMMAH": "MUHAMMAD",
    "MUHAMAD": "MUHAMMAD",
    "AHALAM": "SHAH ALAM",
    "SHSHAH": "SHAH ALAM",
    "SERIBINTANG": "SERI BINTANG",
    "SUBANGBESTARI": "SUBANG BESTARI",
}

STATES = {
    "JOHOR", "KEDAH", "KELANTAN", "MELAKA", "NEGERI SEMBILAN", "PAHANG",
    "PENANG", "PERAK", "PERLIS", "SABAH", "SARAWAK", "SELANGOR",
    "TERENGGANU", "WILAYAH PERSEKUTUAN", "KUALA LUMPUR",
}

METADATA = {
    "ISLAM", "KRISTIAN", "BUDDHA", "HINDU", "SIKH", "LELAKI",
    "PEREMPUAN", "WARGANEGARA", "KAD", "MYKAD",
}

NAME_STOP_KEYWORDS = ["LOT", "JLN", "JALAN", "APARTMENT", "APT"]
NO_BIN_NAME_STOP_KEYWORDS = NAME_STOP_KEYWORDS + ["NO", "LORONG"]


def _correct(line: str) -> str:
    u = line.strip().upper()
    return LINE_CORRECTIONS.get(u, u)


def _is_latin(line: str) -> bool:
    if not line:
        return False
    latin = sum(1 for c in line if ord(c) < 256)
    return latin / len(line) > 0.7


def _alpha_ratio(line: str) -> float:
    return sum(1 for c in line if c.isalpha() or c == " ") / max(len(line), 1)


def ultimate_extract(raw_lines: list[str]) -> dict[str, str | None]:
    """Full field extraction; returns ic_number/name/address/gender/
    religion exactly per the reference's rule order."""
    lines = [ln.strip() for ln in raw_lines if ln.strip() and _is_latin(ln)]

    ic_number, ic_idx = "", -1
    for idx, line in enumerate(lines):
        m = IC_RE.search(line)
        if m:
            ic_number, ic_idx = m.group(), idx
            break

    bin_idx = -1
    for idx, line in enumerate(lines):
        if "BIN" in line.upper() or "BINTI" in line.upper():
            bin_idx = idx
            break

    name_parts: list[str] = []
    if bin_idx >= 0:
        for i in range(bin_idx - 1, -1, -1):
            line = lines[i].strip().upper()
            if not line:
                continue
            # Bare membership, faithful to the reference: when no IC was
            # found ic_number == "" and '' in line is always True, so the
            # backward scan breaks immediately and collects NO name parts
            # above BIN on IC-less cards (pinned in tests).
            if ic_number in lines[i]:
                break
            if any(s in line for s in STATES):
                break
            if any(m in line for m in METADATA):
                break
            if any(kw in line for kw in NAME_STOP_KEYWORDS):
                break
            if UNIT_RE.match(line):
                break
            if _alpha_ratio(line) > 0.8:
                name_parts.insert(0, _correct(lines[i]))
        name_parts.append(lines[bin_idx].upper())
        for i in range(bin_idx + 1, min(bin_idx + 3, len(lines))):
            line = lines[i].strip().upper()
            if not line:
                continue
            if any(m in line for m in METADATA):
                break
            if any(s in line for s in STATES):
                break
            if UNIT_RE.match(line):
                break
            if _alpha_ratio(line) > 0.8:
                name_parts.append(_correct(lines[i]))
                break
    elif ic_idx >= 0:
        started = False
        for i in range(ic_idx + 1, len(lines)):
            line = lines[i].strip().upper()
            if not line:
                continue
            if any(m in line for m in METADATA):
                break
            if any(s in line for s in STATES):
                break
            if UNIT_RE.match(line):
                break
            if any(kw in line for kw in NO_BIN_NAME_STOP_KEYWORDS):
                break
            if _alpha_ratio(line) > 0.8:
                name_parts.append(_correct(line))
                started = True
            elif started:
                break

    name = " ".join(name_parts).strip()

    addr_parts: list[str] = []
    if bin_idx >= 0:
        for i in range(bin_idx + 1, len(lines)):
            line = lines[i].strip().upper()
            if not line:
                continue
            if any(r in line for r in ("ISLAM", "KRISTIAN", "BUDDHA", "HINDU", "SIKH")):
                break
            if "LELAKI" in line or "PEREMPUAN" in line:
                break
            if _alpha_ratio(line) > 0.85 and "SEKSYEN" not in line:
                continue
            addr_parts.append(_correct(line))
    else:
        name_end_idx = ic_idx if ic_idx >= 0 else 0
        if name_parts:
            for i in range(ic_idx + 1, len(lines)):
                if any(_correct(lines[i]).upper() == p.upper() for p in name_parts):
                    name_end_idx = i
        for i in range(name_end_idx + 1, len(lines)):
            line = lines[i].strip().upper()
            if not line:
                continue
            if any(r in line for r in ("ISLAM", "KRISTIAN", "BUDDHA", "HINDU", "SIKH")):
                break
            if "LELAKI" in line or "PEREMPUAN" in line:
                break
            if any(m in line for m in METADATA):
                continue
            addr_parts.append(_correct(line))
        for i in range(name_end_idx + 1, len(lines)):
            line = lines[i].strip().upper()
            if not line:
                continue
            if any(s in line for s in STATES):
                addr_parts.append(_correct(line))
                break

    address = ", ".join(addr_parts).strip()

    gender = None
    if ic_number:
        try:
            gender = "Male" if int(ic_number[-1]) % 2 == 1 else "Female"
        except ValueError:
            pass

    religion = None
    full_text = " ".join(lines).upper()
    for rel in ("ISLAM", "KRISTIAN", "BUDDHA", "HINDU"):
        if rel in full_text:
            religion = rel
            break

    return {
        "ic_number": ic_number,
        "name": name,
        "address": address,
        "gender": gender,
        "religion": religion,
    }


def extract_fields_dispatch(raw_lines: list[str]) -> dict[str, str]:
    """Serving dispatch (fastapi_app.py:472-490): the ultimate extractor
    first; any exception falls back to the legacy strategy chain."""
    try:
        res = ultimate_extract(raw_lines)
        return {k: (v or "") for k, v in res.items()}
    except Exception:
        from paddleocr_spark.functions.address import extract_serving_fields

        legacy = extract_serving_fields(raw_lines)
        text = "\n".join(raw_lines).upper()
        ic = legacy["ic_number"]
        gender = ""
        if ic and ic[-1].isdigit():
            gender = "Male" if int(ic[-1]) % 2 == 1 else "Female"
        elif "PEREMPUAN" in text:
            gender = "Female"
        elif "LELAKI" in text:
            gender = "Male"
        religion = next(
            (r for r in ("ISLAM", "KRISTIAN", "BUDDHA", "HINDU", "SIKH")
             if r in text),
            "",
        )
        return {**legacy, "gender": gender, "religion": religion}


# -- queries() surface --------------------------------------------------------

from paddleocr_spark.functions.fixture_shared import IC_EXPR as _IC_EXPR

# Pools as in functions/names.py, screened against the ultimate
# extractor's substring stop-sets (no 'KAD', 'BIN', state fragments).
GIVEN_POOL = ["AHMAD", "KHALID", "SAMAD", "TAUFIK", "HAKIM", "FAIZAL",
              "SHUKRI", "HANIF"]
FAMILY_POOL = ["SALIM", "TAHIR", "KARIM", "USMAN", "HARUN", "MAHMUD",
               "ZAKI", "IDRIS"]


from paddleocr_spark.functions.fixture_shared import pool_pick as _pick


def _layout_sql(spark_side: bool, renderable: bool = False) -> str:
    """Three card layouts (doc_id % 3): 0 = BIN case with a per-line
    misread ('MUHAMMAH') healed by the map, building-unit line stopping
    the forward name scan, state skipped by the >85%-alpha address rule;
    1 = no-BIN two-line name, address + late state append; 2 = Chinese
    line filtered, map correction INSIDE the no-BIN name collection.
    (SERIBINTANG cannot be a no-BIN fixture: it CONTAINS 'BIN', so the
    reference anchors on it — pinned as a quirk in tests instead.)"""
    g = _pick(GIVEN_POOL, 1, 0, spark_side)
    g2 = _pick(GIVEN_POOL, 5, 2, spark_side)
    fm = _pick(FAMILY_POOL, 3, 1, spark_side)
    nl = "chr(10)"
    # The Latin-ratio gate filters the CJK line out before any rule
    # runs, so the renderable (page-image) corpus simply omits it — the
    # bitmap font has no CJK glyphs — and every expected output is
    # unchanged.
    zh = "" if renderable else "'中文行', "
    layouts = [
        f"concat_ws({nl}, {_IC_EXPR}, 'MUHAMMAH', concat('BIN ', {fm}), "
        "'M1-G-1 TAMAN APT', '40150 SHAH ALAM', 'SELANGOR', 'ISLAM', "
        "'WARGANEGARA', 'LELAKI')",
        f"concat_ws({nl}, {_IC_EXPR}, {g}, {g2}, 'NO 12 JALAN MAWAR', "
        "'ISLAM', 'SELANGOR', 'LELAKI')",
        f"concat_ws({nl}, {_IC_EXPR}, {g}, {zh}'MUHAMMAH', "
        "'40000 SHAH ALAM', 'HINDU', 'PERAK')",
    ]
    cases = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(layouts))
    return f"CASE doc_id % 3 {cases} END"


def _expected_sql(spark_side: bool) -> str:
    g = _pick(GIVEN_POOL, 1, 0, spark_side)
    g2 = _pick(GIVEN_POOL, 5, 2, spark_side)
    fm = _pick(FAMILY_POOL, 3, 1, spark_side)
    gender = (
        "CASE WHEN (doc_id * 31) % 2 = 1 THEN 'Male' ELSE 'Female' END"
    )
    return f"""
SELECT doc_id,
       {_IC_EXPR} AS ic_number,
       CASE doc_id % 3
            WHEN 0 THEN concat('MUHAMMAD BIN ', {fm})
            WHEN 1 THEN concat({g}, ' ', {g2})
            WHEN 2 THEN concat({g}, ' MUHAMMAD')
       END AS name,
       CASE doc_id % 3
            WHEN 0 THEN 'M1-G-1 TAMAN APT, 40150 SHAH ALAM'
            WHEN 1 THEN 'NO 12 JALAN MAWAR, SELANGOR'
            WHEN 2 THEN '40000 SHAH ALAM, PERAK'
       END AS address,
       {gender} AS gender,
       CASE doc_id % 3 WHEN 2 THEN 'HINDU' ELSE 'ISLAM' END AS religion
FROM documents
"""


_FIELDS_SCHEMA = (
    "doc_id long, ic_number string, name string, "
    "address string, gender string, religion string"
)


def _field_rows(doc_id, transcript: str) -> list[tuple]:
    r = extract_fields_dispatch(transcript.split("\n"))
    return [(doc_id, r["ic_number"], r["name"], r["address"],
             r["gender"], r["religion"])]


def ic_ultimate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_layout_sql(True)).alias("transcript")
    )
    return map_rows(docs, _field_rows, _FIELDS_SCHEMA)


IC_ULTIMATE_EXTRACT_SQL = _expected_sql(False)


def ic_serving_from_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE modern serving path on Spark (fastapi_app.py
    upload -> OCR -> extract_fields with the ultimate-first dispatch):
    card transcripts rendered as page images -> salted repartition ->
    mapInPandas OCR -> per-doc extract_fields_dispatch. Same oracle as
    ic_ultimate_extract — byte-identical fields prove the whole image
    chain feeds the parser exactly."""
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import PAGES_SCHEMA, transcript_page

    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.expr(_layout_sql(True, renderable=True)).alias("transcript"),
    ).repartition(spark.sparkContext.defaultParallelism)
    pages = map_rows(docs, transcript_page, PAGES_SCHEMA)
    ncpu = spark.sparkContext.defaultParallelism
    res = extract_pages(pages, num_partitions=ncpu)
    return map_rows(
        res.select("url", "extracted_text"),
        lambda url, text: _field_rows(int(url.rsplit("/", 1)[1]), text),
        _FIELDS_SCHEMA,
    )
