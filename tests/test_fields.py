"""Field-extraction layer tests (SURVEY.md §2.8): ordered correction
chain, IC regex, gender parity + keyword fallback, religion priority,
postcode -> state broadcast join (plan-checked), DuckDB oracle parity."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, page_text

from paddleocr_spark.functions import fields


def test_correction_chain_is_ordered(spark):
    df = spark.createDataFrame(
        [("LLORONG 5 TIMUR",), ("63300 KUALA LUMPUR",), ("NO 15JJJALAN 13",)],
        ["t"],
    )
    got = [r[0] for r in df.select(fields.correct_ocr_errors(F.col("t"))).collect()]
    assert got == ["LORONG 5 TIMUR", "53300 KUALA LUMPUR", "NO 15 JALAN 13"]


def test_correction_chain_order_is_semantics():
    """Reversing the rule order changes outputs: LLORONG relies on the
    generic ORONG rule running AFTER the specific repairs and on the
    duplicate late LLORONG rule re-fixing its round trip."""
    import re

    from paddleocr_spark.functions.corrections import (
        RE_CORRECTIONS,
        apply_line_corrections,
    )

    def reversed_chain(s):
        for pat, rep in reversed(RE_CORRECTIONS):
            s = re.sub(pat, rep, s)
        return s

    # JALANUSJ: forward order splits it BEFORE the 'ALAN\s' rule, which
    # then re-corrupts to JJALAN (the faithful quirk); reversed order
    # splits after, yielding clean JALAN — different bytes, so the gate
    # would catch a re-ordered chain.
    assert apply_line_corrections("JALANUSJ") == "JJALAN USJ"
    assert reversed_chain("JALANUSJ") == "JALAN USJ"
    assert apply_line_corrections("NO 15JJJALAN 13") == "NO 15 JALAN 13"


def test_every_correction_rule_fires_once():
    """Each golden case exists to fire its rule; collectively the case
    table must exercise every rule in RE_CORRECTIONS at least once
    (rules 1/4 overlap by construction: L{2,}OT swallows LLOT, as in
    the reference — those are asserted as reachable-by-pattern)."""
    import re

    from paddleocr_spark.functions.corrections import CASES, RE_CORRECTIONS

    fired = set()
    for inj, _ in CASES:
        s = inj
        for i, (pat, rep) in enumerate(RE_CORRECTIONS):
            s2 = re.sub(pat, rep, s)
            if s2 != s:
                fired.add(i)
            s = s2
    unfired = [
        (i, RE_CORRECTIONS[i][0])
        for i in range(len(RE_CORRECTIONS))
        if i not in fired
    ]
    # earlier, more-specific rules legitimately shadow these patterns,
    # exactly as in the reference chain
    shadowed = {r"LLOT", r"LLORONG", r"AMIRAZIQ"}
    assert all(p in shadowed for _, p in unfired), unfired


def test_gender_parity_and_fallback(spark):
    df = spark.createDataFrame(
        [
            ("a", "880101-14-5523"),  # odd last digit -> Male
            ("b", "880101-14-5524"),  # even -> Female
            ("c", ""),  # no IC, keyword fallback
        ],
        ["k", "ic"],
    ).withColumn(
        "text",
        F.when(F.col("k") == "c", F.lit("WARGANEGARA PEREMPUAN")).otherwise(
            F.lit("")
        ),
    )
    out = df.select(
        "k", fields.gender_from_ic(F.col("ic"), F.col("text")).alias("g")
    ).collect()
    assert {r.k: r.g for r in out} == {"a": "Male", "b": "Female", "c": "Female"}


def test_religion_priority_order(spark):
    # ISLAM wins over SIKH when both present (ordered scan in the fork).
    df = spark.createDataFrame([("SIKH ISLAM",), ("HINDU",), ("none",)], ["t"])
    got = [r[0] for r in df.select(fields.religion(F.col("t"))).collect()]
    assert got == ["ISLAM", "HINDU", ""]


def test_state_join_is_broadcast(spark):
    res = fields.ic_field_extract(spark, SF_SMALL)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # and it must actually resolve states for every doc with a postcode
    n_missing = res.filter((F.col("postcode") != "") & (F.col("state") == "")).count()
    assert n_missing == 0


def test_fields_match_duckdb_oracle(spark):
    got = {
        r.doc_id: (r.ic_number, r.gender, r.religion, r.postcode, r.state)
        for r in fields.ic_field_extract(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(fields.IC_FIELD_EXTRACT_SQL).fetchall()
    }
    assert got == want


def test_space_and_dash_ocr_roundtrip():
    """The IC corpus needs '-' glyphs and gap->space decoding; the plain
    alnum contract must be unaffected."""
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.ocr import OcrEngine

    eng = OcrEngine()
    t = ["880101-14-5523", "AHMAD BIN OSMAN", "53300 KUALA LUMPUR"]
    assert page_text(eng, render_page(t)) == "\n".join(t)
    assert page_text(eng, render_page(["NOSPACESHERE123"])) == "NOSPACESHERE123"


def test_ic_fields_from_rendered_pages_end_to_end(spark):
    """Full fork serving path: card image -> OCR -> corrections -> fields
    must equal the pure string-layer extraction for the same docs."""
    from_pages = {
        r.doc_id: (r.ic_number, r.gender, r.religion, r.postcode, r.state)
        for r in fields.ic_fields_from_pages(spark, SF_SMALL).collect()
    }
    from_text = {
        r.doc_id: (r.ic_number, r.gender, r.religion, r.postcode, r.state)
        for r in fields.ic_field_extract(spark, SF_SMALL).collect()
    }
    assert from_pages == from_text
