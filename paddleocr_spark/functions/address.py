"""The fork's full address extractor (fastapi_app.py:818-1075) — the
largest legacy heuristic: trigger-driven line collection, per-line
corrections + Malay split, street/area pre-split, categorize/order/
dedup/join, and final federal-territory formatting.

Faithful semantics carried verbatim (and pinned in tests):
- every keyword check is a substring containment on the uppercased line;
- the LLOT/LLORONG/ORONG pre-repairs are applied to a CHECK copy only
  (the collected text passes through the substring correction chain +
  split_malay_words instead);
- a state line sets is_address_line without starting collection — the
  separate `is_address_line and not collecting` promotion starts it;
- short pure-digit lines become address parts only from index 4 on;
- back-of-card markers (PENDAFTARAN/CHIP/TOUCH/80K) stop collection,
  and a later postcode/unit trigger restarts it;
- buckets are emitted in unit -> street -> area -> locality ->
  postcode -> state order with case-insensitive dedup.

Execution model: per-row Python over a line list inside Arrow-batched
UDFs (same placement as the OCR kernels); JVM-side this is a narrow map,
shuffle-free at any scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows

from paddleocr_spark.functions.corrections import (
    apply_line_corrections,
    apply_replacement_corrections,
)
from paddleocr_spark.sources.scan import scan_parquet
from paddleocr_spark.functions.names import (
    NOISE_WORDS,
    extract_name_legacy,
    has_chinese,
    split_malay_words,
)

ADDRESS_KEYWORDS = [
    "LOT", "JALAN", "KAMPUNG", "KG", "JLN", "NO", "BATU", "LEBUH",
    "LORONG", "JAMBATAN", "PPR", "BLOK", "UNIT", "TINGKAT", "TAMAN",
    "BANDAR", "PERINGKAT", "FELDA", "DESA", "PERMAI",
]
GENDER_RELIGION_KEYWORDS = [
    "LELAKI", "PEREMPUAN", "ISLAM", "KRISTIAN", "BUDDHA", "HINDU",
    "SIKH", "ISL.AM", "ISLAMIC",
]
MALAYSIA_STATES = [
    "TERENGGANU", "SELANGOR", "KUALA LUMPUR", "KUALALUMPUR", "KL",
    "JOHOR", "KEDAH", "KELANTAN", "LABUAN", "MELAKA", "NEGERI SEMBILAN",
    "NEGERISEMBILAN", "PAHANG", "PENANG", "PERAK", "PERLIS", "SABAH",
    "SARAWAK", "WILAYAH PERSEKUTUAN", "WP", "PULAU PINANG", "PINANG",
]
ADDRESS_PLACE_NAMES = ["SUNGAI DUA", "GELUGOR", "PERMAI INDAH", "DESA PERMAI"]
BACK_OF_IC_MARKERS = ["PENDAFTARAN", "CHIP", "TOUCH", "80K"]
HEADER_PATTERNS = [
    "KAD PENGENALAN", "KAD PENGENJALAN", "MYKAD", "MALAYSIA", "MALAY",
    "IDENTITY", "CARD", "MK", "IDENTITN", "IDENTITY CARD",
]
LOCATION_KEYWORDS = [
    "BANDAR", "TAMAN", "DESA", "SEKSYEN", "SALAK", "TINGGI", "WANGSA",
    "JAYA", "INDAH", "MAJU", "SUBANG", "PERMAI",
]
# categorization uses its own (shorter) state list — faithful duplication
STATE_LIST = [
    "PULAU PINANG", "PINANG", "SELANGOR", "JOHOR", "KEDAH", "KELANTAN",
    "TERENGGANU", "PAHANG", "PERAK", "PERLIS", "SABAH", "SARAWAK",
    "MELAKA", "NEGERI SEMBILAN", "KUALA LUMPUR", "PUTRAJAYA", "LABUAN",
    "PENANG",
]

EXT_IC_RE = re.compile(r"\d{6}-\d{2}-\d{4}-\d{2}-\d{2}")
UNIT_ALPHA_RE = re.compile(r"^[A-Z]{1,2}-\d")
UNIT_NUM_RE = re.compile(r"^\d+[A-Z]*-[\d\-A-Z]+")
UNIT_NOSPACE_RE = re.compile(r"^\d+[A-Z]-[\d\-A-Z]+")
POSTCODE_LEAD_RE = re.compile(r"^\d{5}\s*[A-Z]")


def _check_copy(line_upper: str) -> str:
    """The reference's keyword-check copy: three substring repairs that
    deliberately over-correct (LORONG -> LLORONG round-trips) — only
    ever used for trigger tests, never emitted."""
    c = line_upper.replace("LLOT", "LOT")
    c = c.replace("LLORONG", "LORONG")
    return c.replace("ORONG", "LORONG")


def _is_address_trigger(check: str) -> tuple[bool, bool]:
    """Returns (is_address_line, start_collecting) per the trigger
    cascade of fastapi_app.py:892-940."""
    is_line = False
    collect = False
    for kw in ADDRESS_KEYWORDS:
        if check.startswith(kw):
            if kw in ("NO", "JLN", "KG"):
                if len(check) > len(kw):
                    nxt = check[len(kw)]
                    if nxt.isdigit() or nxt == " ":
                        return True, True
            else:
                return True, True
        if re.search(r"\d+" + kw, check):
            return True, True
        if kw not in ("NO", "JLN", "KG") and kw in check:
            is_line = True
    if sum(1 for k in LOCATION_KEYWORDS if k in check) >= 2:
        return True, True
    if UNIT_ALPHA_RE.match(check) or UNIT_NUM_RE.match(check):
        return True, True
    if POSTCODE_LEAD_RE.match(check):
        return True, True
    if any(p in check for p in ADDRESS_PLACE_NAMES):
        return True, True
    if any(s in check for s in MALAYSIA_STATES):
        is_line = True
    return is_line, collect


def _clean_collected(line: str) -> str:
    """Per-line finishing before the line joins the address: substring
    corrections -> Malay split -> letter<->digit spacing (skipped for
    unit-number shapes), whitespace collapse."""
    c = apply_replacement_corrections(line)
    c = split_malay_words(c)
    if not UNIT_NOSPACE_RE.search(c):
        c = re.sub(r"([A-Z]+)(\d)(?!/)", r"\1 \2", c)
        c = re.sub(r"(\d)([A-Z])(?!/)", r"\1 \2", c)
    return re.sub(r"\s+", " ", c).strip()


def collect_address_lines(
    lines: list[str],
    ic_number: str = "",
    name: str = "",
    name_tokens: tuple[str, ...] | list[str] = (),
) -> list[str]:
    out: list[str] = []
    collecting = False
    name_line_count = len(name_tokens) if name_tokens else 0
    name_parts = [p for p in name.upper().split() if len(p.strip()) > 2] if name else []
    for idx, line in enumerate(lines):
        lu = line.upper().strip()
        if not lu or has_chinese(line) or len(lu) == 1:
            continue
        if idx < name_line_count + 5 and name_tokens:
            if any(tok.upper() in lu for tok in name_tokens):
                continue
        if re.match(r"^[\d\-\s]+$", lu):
            s = line.strip()
            if (
                re.match(r"^\d{6}-\d{2}-\d{3,4}$", s)
                or re.match(r"^\d{1,2}$", s)
                or re.search(r"\d{6,}", s)
            ):
                continue
            if idx >= 4 and len(s) <= 5:
                collecting = True
                out.append(s)
            continue
        check = _check_copy(lu)
        if any(h in lu for h in HEADER_PATTERNS):
            continue
        if ic_number and ic_number in line:
            continue
        if re.match(r"^\d{12}$", line.strip()) or re.match(
            r"^\d{6}-\d{2}-\d{4}$", line.strip()
        ):
            continue
        if EXT_IC_RE.search(line):
            collecting = False
            continue
        if name_parts and any(p in lu for p in name_parts):
            continue
        if any(k in lu for k in GENDER_RELIGION_KEYWORDS):
            if not any(s in lu for s in MALAYSIA_STATES):
                continue
        if any(m in lu for m in BACK_OF_IC_MARKERS):
            collecting = False
            continue
        if "WARGANEGARA" in lu:
            continue
        is_line, start = _is_address_trigger(check)
        if start:
            collecting = True
        if is_line and not collecting:
            collecting = True
        if not collecting:
            continue
        if line.strip().isdigit():
            continue
        if re.search(r",\s*\d{6}-\d{2}-\d{4}-\d{2}-\d{2}", line):
            line = re.sub(r",\s*\d{6}-\d{2}-\d{4}-\d{2}-\d{2}.*", "", line).strip()
            if not line:
                continue
        if any(n in lu for n in NOISE_WORDS):
            continue
        if re.search(r"\d{6}-\d{2}-\d{3,4}", line):
            continue
        s = line.strip()
        if re.match(r"^\d{5,}$", s):
            continue
        if re.match(r"^[\d\s\-\.]+$", s) and re.sub(r"[\s\-\.]", "", s):
            nums = re.sub(r"[\s\-\.]", "", s)
            if len(nums) >= 5 and len(nums) >= len(s) * 0.7:
                continue
        if re.match(r"^\d{1,2}$", s):
            continue
        digits = sum(1 for c in s if c.isdigit())
        if digits >= len(s) * 0.7 and digits >= 5:
            continue
        if len(s) <= 4:
            compound = sum(1 for k in LOCATION_KEYWORDS if k in lu) >= 2
            if not any(k in lu for k in ADDRESS_KEYWORDS) and not compound:
                continue
        cleaned = _clean_collected(line)
        if cleaned:
            out.append(cleaned)
    return out


def assemble_address(address_lines: list[str]) -> str:
    if not address_lines:
        return ""
    processed: list[str] = []
    for line in address_lines:
        lu = line.upper()
        has_street = any(k in lu for k in ("JALAN", "JLN", "LORONG", "LEBUH"))
        has_area = any(k in lu for k in ("SEKSYEN", "BUKIT", "BANDAR", "TAMAN"))
        if has_street and has_area:
            for marker in ("SEKSYEN", "BUKIT", "BANDAR", "TAMAN"):
                if marker in lu:
                    parts = re.split(
                        f"({marker}\\s+\\d+|{marker}[A-Z\\s]*)",
                        line,
                        flags=re.IGNORECASE,
                    )
                    processed.extend(p.strip() for p in parts if p.strip())
                    break
        else:
            processed.append(line)

    units: list[str] = []
    streets: list[str] = []
    areas: list[str] = []
    localities: list[str] = []
    postcodes: list[str] = []
    states: list[str] = []
    for line in processed:
        lu = line.upper().strip()
        if any(s in lu for s in STATE_LIST):
            states.append(line)
        elif re.match(r"^\d{5}\s", lu):
            postcodes.append(line)
        elif (
            UNIT_ALPHA_RE.match(lu)
            or UNIT_NUM_RE.match(lu)
            or lu.startswith("LOT")
            or lu.startswith("NO")
        ):
            units.append(line)
        elif any(k in lu for k in ("LORONG", "JALAN", "LEBUH", "JLN")):
            streets.append(line)
        elif any(
            k in lu
            for k in ("TAMAN", "DESA", "PERMAI", "INDAH", "BANDAR",
                      "FELDA", "SEKSYEN", "WANGSA", "MAJU")
        ):
            areas.append(line)
        else:
            localities.append(line)

    seen: set[str] = set()
    final: list[str] = []
    for part in units + streets + areas + localities + postcodes + states:
        key = part.upper().strip()
        if key not in seen:
            seen.add(key)
            final.append(part)

    address = ", ".join(final)
    address = re.sub(r",?\s*\d{6}-\d{2}-\d{4}-\d{2}-\d{2}.*$", "", address).strip()
    address = re.sub(r"W\.PERSEKUTUAN\(", "W. PERSEKUTUAN (", address)
    address = re.sub(r"W\.PERSEKUTUAN", "W. PERSEKUTUAN", address)
    return address


def extract_address(
    lines: list[str],
    ic_number: str = "",
    name: str = "",
    name_tokens: tuple[str, ...] | list[str] = (),
) -> str:
    return assemble_address(
        collect_address_lines(lines, ic_number, name, name_tokens)
    )


def extract_serving_fields(raw_lines: list[str]) -> dict[str, str]:
    """The legacy serving sequence (fastapi_app.py:575-1075): regex
    correction chain per line -> IC -> legacy name -> legacy address."""
    from paddleocr_spark.functions.names import (
        _after_ic_tokens,
        _before_ic_tokens,
        _find_ic_line,
    )

    lines = [apply_line_corrections(ln) for ln in raw_lines]
    m = re.search(r"\d{6}-\d{2}-\d{4}", " ".join(lines))
    ic = m.group() if m else ""
    name = extract_name_legacy(lines, ic)
    # re-derive the token lines the name came from (the address loop
    # needs the RAW collected lines, not the finished name)
    tokens: list[str] = []
    if ic:
        idx = _find_ic_line(lines, ic)
        if idx is not None:
            if idx > 0:
                tokens = _before_ic_tokens(lines, idx)
            if tokens and len(tokens) == 1 and idx < len(lines) - 2:
                for ni in range(idx + 1, min(idx + 3, len(lines))):
                    if any(w in lines[ni].upper() for w in ("BIN", "BINTI")):
                        tokens = []
                        break
            if not tokens:
                tokens = _after_ic_tokens(lines, idx)
    address = extract_address(lines, ic, name, tokens)
    return {"ic_number": ic, "name": name, "address": address}


# -- queries() surface --------------------------------------------------------

from paddleocr_spark.functions.names import FAMILY_POOL, GIVEN_POOL  # noqa: E402

from paddleocr_spark.functions.fixture_shared import IC_EXPR as _IC_EXPR
from paddleocr_spark.functions.fixture_shared import pool_pick as _pick


def _layout_sql(spark_side: bool) -> str:
    """Five serving-path cards (doc_id % 5): 0 = street with merged
    digits + compound area + postcode + state; 1 = street/area pre-split
    (JLN ... SEKSYEN ...); 2 = alpha unit + federal-territory formatting
    + the 63300->53300 chain rule firing end-to-end; 3 = duplicate LOT
    lines deduped, back-of-card stop then postcode re-trigger; 4 = no
    address content at all."""
    g = _pick(GIVEN_POOL, 1, 0, spark_side)
    fm = _pick(FAMILY_POOL, 3, 1, spark_side)
    nl = "chr(10)"
    head = f"'KAD PENGENALAN MYKAD', {_IC_EXPR}, {g}, concat('BIN ', {fm})"
    layouts = [
        f"concat_ws({nl}, {head}, 'NO 53 JALAN SEROJA35', "
        "'BANDARBARU SALAK TINGGI', '43900 SEPANG', 'SELANGOR', 'ISLAM', "
        "'WARGANEGARA', 'LELAKI')",
        f"concat_ws({nl}, {head}, 'JLN 4/27E SEKSYEN 10', '52100 KEPONG', "
        "'KUALA LUMPUR', 'ISLAM')",
        f"concat_ws({nl}, {head}, 'A-5-7 MAWAR', '63300 KUALA LUMPUR', "
        "'W.PERSEKUTUAN(KL)', 'ISLAM')",
        f"concat_ws({nl}, {head}, 'LOT 77 TAMAN MELUR', 'LOT 77 TAMAN MELUR', "
        "'PENDAFTARAN', '40450 SHAH ALAM', 'SELANGOR', 'ISLAM')",
        f"concat_ws({nl}, {head}, 'ISLAM', 'LELAKI')",
    ]
    cases = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(layouts))
    return f"CASE doc_id % 5 {cases} END"


def _expected_sql(spark_side: bool) -> str:
    g = _pick(GIVEN_POOL, 1, 0, spark_side)
    fm = _pick(FAMILY_POOL, 3, 1, spark_side)
    return f"""
SELECT doc_id,
       concat({g}, ' BIN ', {fm}) AS name,
       CASE doc_id % 5
            WHEN 0 THEN 'NO 53 JALAN SEROJA 35, BANDAR BARU SALAK TINGGI, 43900 SEPANG, SELANGOR'
            WHEN 1 THEN 'JLN 4/27 E, SEKSYEN 10, 52100 KEPONG, KUALA LUMPUR'
            WHEN 2 THEN 'A-5-7 MAWAR, W. PERSEKUTUAN (KL), 53300 KUALA LUMPUR'
            WHEN 3 THEN 'LOT 77 TAMAN MELUR, 40450 SHAH ALAM, SELANGOR'
            WHEN 4 THEN ''
       END AS address
FROM documents
"""


def ic_address_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_layout_sql(True)).alias("transcript")
    )

    def fields(doc_id, t):
        r = extract_serving_fields(t.split("\n"))
        return [(doc_id, r["name"], r["address"])]

    return map_rows(docs, fields, "doc_id long, name string, address string")


IC_ADDRESS_EXTRACT_SQL = _expected_sql(False)
