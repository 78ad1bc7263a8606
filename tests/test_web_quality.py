"""PII redaction, per-host quota sampling, and the Gopher-rule filter
verdict: golden-value pins plus the exactness property of the salted
two-phase top-K (it must equal the single-window answer on any input,
including a pathologically skewed host)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from paddleocr_spark.functions import pii, text, weburl


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, source)."""
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    return str(tmp_path)


# -- PII redaction ------------------------------------------------------------

def test_pii_redact_golden_per_layout(spark, tmp_path):
    """Every doc_id%5 injection layout counts and redacts exactly; the
    untouched layout stays byte-identical."""
    rows = [(i, f"plain words d{i}", "alpha") for i in range(5)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {r.doc_id: r for r in pii.pii_redact(spark, sf_dir).collect()}
    assert (got[0].n_emails, got[0].n_phones, got[0].n_ips) == (1, 0, 0)
    assert got[0].redacted == "plain words d0 contact <EMAIL> for details"
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (0, 1, 0)
    assert got[1].redacted == "plain words d1 call <PHONE> now"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 1)
    assert got[2].redacted == "plain words d2 origin <IP> logged"
    assert (got[3].n_emails, got[3].n_phones, got[3].n_ips) == (1, 0, 1)
    assert got[3].redacted == "mail <EMAIL> or ping <IP> plain words d3"
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ips) == (0, 0, 0)
    assert got[4].redacted == "plain words d4"


def test_pii_regexes_match_python_re(spark, tmp_path):
    """The three patterns are lookaround-free, so Python re (a third
    engine) must agree with the Spark/Java result on tricky near-misses:
    version strings (1.2.3), bare '@', short TLDs, adjacent digits."""
    import re

    tricky = (
        "v1.2.3 is not an ip but 10.0.0.1 is; a@b is not an email but "
        "a@b.co is; +123 is short but +123456789 matches; 999.999.999.999"
    )
    rows = [(4, tricky, "alpha")]  # %5==4: injected text == raw text
    sf_dir = _write_docs(spark, tmp_path, rows)
    r = pii.pii_redact(spark, sf_dir).collect()[0]
    assert r.n_emails == len(re.findall(pii.EMAIL_RE, tricky))
    assert r.n_phones == len(re.findall(pii.PHONE_RE, tricky))
    assert r.n_ips == len(re.findall(pii.IP_RE, tricky))
    expect = re.sub(pii.EMAIL_RE, "<EMAIL>", tricky)
    expect = re.sub(pii.PHONE_RE, "<PHONE>", expect)
    expect = re.sub(pii.IP_RE, "<IP>", expect)
    assert r.redacted == expect


def test_pii_plan_is_narrow(spark, tmp_path):
    """Redaction is a pure map stage: no Exchange in the plan."""
    sf_dir = _write_docs(spark, tmp_path, [(0, "x y", "alpha")])
    plan = (
        pii.pii_redact(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# -- host quota sampling ------------------------------------------------------

def _brute_top_k(rows, k):
    """Single-window reference: per host, order by (md5 key, doc_id)."""
    by_host = {}
    for doc_id, _, source in rows:
        key = hashlib.md5(f"{doc_id}/{source}".encode()).hexdigest()
        by_host.setdefault(source, []).append((key, doc_id))
    out = {}
    for host, entries in by_host.items():
        for rank, (_, doc_id) in enumerate(sorted(entries)[:k], start=1):
            out[doc_id] = (f"{host}.example.test", rank)
    return out


def test_host_sample_exact_vs_brute_force_on_skew(spark, tmp_path):
    """One megahost (120 docs) + two small hosts: the salted two-phase
    plan must return EXACTLY the single-window top-K, every rank."""
    rows = [(i, f"t{i}", "mega") for i in range(120)]
    rows += [(200 + i, f"s{i}", "tiny") for i in range(3)]
    rows += [(300 + i, f"m{i}", "mid") for i in range(weburl.SAMPLE_K + 4)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.host, r.rank)
        for r in weburl.host_quota_sample(spark, sf_dir).collect()
    }
    assert got == _brute_top_k(rows, weburl.SAMPLE_K)
    # the megahost is capped, the tiny host is kept whole
    assert sum(1 for h, _ in got.values() if h == "mega.example.test") == weburl.SAMPLE_K
    assert sum(1 for h, _ in got.values() if h == "tiny.example.test") == 3


def test_host_sample_phase1_caps_per_salt(spark, tmp_path):
    """Phase 1 survivors are <= SALTS*K per host — the bound that keeps
    any single sort task at a 1/SALTS slice of the hottest host."""
    rows = [(i, f"t{i}", "mega") for i in range(300)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    # re-run phase 1 only, mirroring host_quota_sample's construction
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    key = F.md5(
        F.concat_ws("/", F.col("doc_id").cast("string"), F.col("source"))
    )
    base = docs.select("doc_id", key.alias("skey"))
    salt = F.pmod(F.crc32(F.col("skey")), F.lit(weburl._SAMPLE_SALTS))
    w1 = Window.partitionBy("salt").orderBy("skey", "doc_id")
    n = (
        base.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= weburl.SAMPLE_K)
        .count()
    )
    assert n <= weburl._SAMPLE_SALTS * weburl.SAMPLE_K
    assert n >= weburl.SAMPLE_K  # enough survivors to cover the answer


# -- Gopher filter ------------------------------------------------------------

def test_gopher_filter_bitmask_cases(spark, tmp_path):
    """Each rule trips its own bit; a clean doc keeps."""
    long_clean = " ".join(
        f"word{i} the and" for i in range(20)
    )  # 60 words, mean len ~3.7, stopwords {the, and}, distinct ~37%
    short = "the a tiny doc"  # 4 words -> bit 1
    long_words = " ".join("w" * 20 for _ in range(60)) + " the a"  # bit 2
    no_stop = " ".join(f"q{i}" for i in range(60))  # bit 4
    repet = ("x " * 59 + "the a").strip()  # 61 words, 3 distinct -> bit 8
    rows = [
        (0, long_clean, "h"),
        (1, short, "h"),
        (2, long_words, "h"),
        (3, no_stop, "h"),
        (4, repet, "h"),
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: r for r in text.gopher_filter(spark, sf_dir).collect()
    }
    assert got[0].fail_bits == 0 and got[0].keep == 1
    assert got[1].fail_bits & 1
    assert got[2].fail_bits & 2
    assert got[3].fail_bits & 4 and got[3].keep == 0
    assert got[4].fail_bits & 8
    # signal values are exact integer units
    assert got[0].n_words == 60 and got[0].n_stopwords == 2
    assert got[4].distinct_x100 == 100 * 3 // 61


# -- hashed linear classifier -------------------------------------------------

def test_quality_classifier_matches_python_reference(spark, tmp_path):
    """The hashed-weight pooling matches an independent Python
    reimplementation (hash trick on md5 hex), and the plan is a pure
    map stage."""
    texts = ["hello world", "the quick brown fox", "x", "a a a"]
    rows = [(i, t, "h") for i, t in enumerate(texts)]
    sf_dir = _write_docs(spark, tmp_path, rows)

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) - 32768

    got = {
        r.doc_id: (r.n_tokens, r.sum_w, r.label)
        for r in text.quality_classifier(spark, sf_dir).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        s = sum(w(tok) for tok in toks)
        assert got[i] == (len(toks), s, int(s > 0))
    plan = (
        text.quality_classifier(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# -- sequence packing ----------------------------------------------------------

def test_seq_pack_matches_naive_cumsum(spark, tmp_path):
    """The two-phase distributed prefix sum equals the naive global
    cumsum policy (concat stream, cut every PACK_BUDGET tokens),
    including doc_ids that straddle a prefix-sum shard boundary."""
    import random

    rng = random.Random(7)
    # doc_ids cross the _PACK_SHARD boundary (1024) on purpose
    ids = list(range(1015, 1035)) + list(range(0, 40))
    rows = [
        (i, " ".join(f"w{j}" for j in range(rng.randint(1, 90))), "h")
        for i in ids
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_tokens, r.bin, r.bin_offset)
        for r in text.seq_pack(spark, sf_dir).collect()
    }
    start = 0
    for doc_id, t, _ in sorted(rows):
        n = len(t.split(" "))
        assert got[doc_id] == (
            n,
            start // text.PACK_BUDGET,
            start % text.PACK_BUDGET,
        ), doc_id
        start += n
    # bins are contiguous from 0
    bins = {b for _, b, _ in got.values()}
    assert bins == set(range(max(bins) + 1))


# -- LM bucketing --------------------------------------------------------------

def test_lm_bucket_scores_and_quantiles(spark, tmp_path):
    """Docs made of common tokens land in the head bucket, rare-token
    docs in the tail; scores are the exact integer mean corpus
    frequency; ntile splits follow the deterministic order."""
    common = "aa bb aa bb aa bb"          # aa,bb appear everywhere
    rows = [(i, common, "h") for i in range(4)]
    rows.append((4, "aa bb zz", "h"))     # one rare token
    rows.append((5, "zz yy xx", "h"))     # all rare
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_tokens, r.freq_q, r.freq_frac, r.bucket)
        for r in text.lm_bucket(spark, sf_dir).collect()
    }
    # corpus freqs: aa 13, bb 13, zz 2, yy 1, xx 1; score = (q, frac)
    assert got[0] == (6, 13, 0, 1)
    assert got[4][1:3] == ((13 + 13 + 2) // 3, (28 % 3) * 1_000_000 // 3)
    assert got[5][1:3] == (4 // 3, (4 % 3) * 1_000_000 // 3)
    assert got[5][3] == 3  # tail bucket
    # ntile balance: 6 docs over 3 buckets -> exactly 2 each
    from collections import Counter

    assert Counter(b for _, _, _, b in got.values()) == {1: 2, 2: 2, 3: 2}


# -- CCNet paragraph-level dedup ----------------------------------------------

def test_paragraph_dedup_first_occurrence_wins(spark, tmp_path):
    """A normalized paragraph repeated across docs keeps ONLY its first
    (doc_id, idx) occurrence; later docs lose the unit and report it in
    n_removed; untouched docs come back byte-identical."""
    from paddleocr_spark.functions import dedup

    boiler = "aa bb cc dd ee ff gg hh"          # exactly PARA_W tokens
    # distinct suffix must differ in LETTERS — digits are squashed to
    # '0' by the normalization, so u0/u1/u2 would all collide
    uniq = "u{} v w x y z q r"
    rows = [
        (0, boiler + " " + uniq.format("a"), "alpha"),
        (1, boiler + " " + uniq.format("b"), "beta"),  # unit 0 is a dup
        (2, uniq.format("c"), "alpha"),                # no dup at all
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {r.doc_id: r for r in dedup.paragraph_dedup(spark, sf_dir).collect()}
    assert (got[0].n_paras, got[0].n_removed) == (2, 0)
    assert got[0].cleaned_text == boiler + "\n" + uniq.format("a")
    assert (got[1].n_paras, got[1].n_removed) == (2, 1)
    assert got[1].cleaned_text == uniq.format("b")
    assert (got[2].n_paras, got[2].n_removed) == (1, 0)
    assert got[2].cleaned_text == uniq.format("c")


def test_paragraph_dedup_normalization(spark, tmp_path):
    """Matching is on the CCNet-normalized key (lowercase, digits -> 0):
    'Copyright 2024 ...' and 'copyright 1999 ...' are the same unit, and
    the surviving text keeps its ORIGINAL un-normalized bytes."""
    from paddleocr_spark.functions import dedup

    a = "Copyright 2024 Site Inc all rights reserved ok"
    b = "copyright 1999 site inc ALL RIGHTS reserved OK"
    sf_dir = _write_docs(spark, tmp_path, [(0, a, "alpha"), (1, b, "beta")])
    got = {r.doc_id: r for r in dedup.paragraph_dedup(spark, sf_dir).collect()}
    assert got[0].n_removed == 0 and got[0].cleaned_text == a
    assert got[1].n_removed == 1 and got[1].cleaned_text == ""


def test_paragraph_dedup_no_window_over_unit_key(spark, tmp_path):
    """Scale pin: the first-occurrence choice must be a partial-agg
    groupBy + join, never a window over the unit key (a boilerplate
    unit repeated 10^9 times would hot-spot one window partition)."""
    from paddleocr_spark.functions import dedup

    sf_dir = _write_docs(spark, tmp_path, [(0, "a b c d e f g h", "alpha")])
    df = dedup.paragraph_dedup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


# -- URL pattern/blocklist filter ---------------------------------------------

def test_url_filter_rule_order_and_branches(spark, tmp_path):
    """Each fixture layout fails exactly its rule; a URL failing two
    rules records the FIRST in the documented order."""
    rows = [(i, "t", "alpha") for i in range(5)]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        int(r.k): r.v
        for r in weburl.url_filter_rows(spark, sf_dir).collect()
    }
    assert got[0] == "1|-"
    assert got[1] == "0|banned_word"
    assert got[2] == "0|bad_ext"
    assert got[3] == "0|param_flood"
    assert got[4] == "0|host_block"

    # rule precedence: banned word beats blocked extension
    allowed, first = weburl.url_filter_verdict(
        F.lit("https://h.example.test/casino/x.exe")
    )
    row = spark.range(1).select(allowed.alias("a"), first.alias("f")).first()
    assert (row.a, row.f) == (0, "banned_word")


def test_url_filter_param_boundary(spark):
    """Exactly URL_MAX_PARAMS params passes; one more fails; a bare '?'
    counts zero params."""
    cases = {
        "https://h.example.test/p?" + "&".join(
            f"k{i}=1" for i in range(weburl.URL_MAX_PARAMS)
        ): (1, "-"),
        "https://h.example.test/p?" + "&".join(
            f"k{i}=1" for i in range(weburl.URL_MAX_PARAMS + 1)
        ): (0, "param_flood"),
        "https://h.example.test/p?": (1, "-"),
    }
    for url, want in cases.items():
        allowed, first = weburl.url_filter_verdict(F.lit(url))
        row = spark.range(1).select(
            allowed.alias("a"), first.alias("f")
        ).first()
        assert (row.a, row.f) == want, url


# -- BM25 top-k retrieval -------------------------------------------------------

def test_bm25_matches_python_reference(spark, tmp_path):
    """Independent Python reimplementation (math.log) agrees on every
    score; ranking prefers the doc with more query-term mass and
    shorter length."""
    import math

    rows = [
        (0, "scan join vector scan", "h"),       # heavy hit, short
        (1, "scan other words here padd more tokens now", "h"),
        (2, "no query terms at all in this doc", "h"),
        (3, "join join join join vector", "h"),
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: r.score_micro
        for r in text.bm25_topk(spark, sf_dir).collect()
    }

    toks = {d: t.split(" ") for d, t, _ in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n
    want = {}
    for d, t in toks.items():
        s = 0.0
        for term in text.BM25_TERMS:
            tf = t.count(term)
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avgdl)))
        want[d] = round(s * 1000000)
    assert got == want
    ranked = sorted(got, key=lambda d: (-got[d], d))
    assert ranked[0] in (0, 3) and ranked[-1] == 2


def test_bm25_plan_never_explodes(spark, tmp_path):
    """Literal query terms mean per-term tf is a filter() projection —
    the plan must contain NO Generate (explode) node, and the corpus
    stats must come back as a broadcast, not a shuffle join."""
    sf_dir = _write_docs(spark, tmp_path, [(0, "scan join", "h")])
    plan = (
        text.bm25_topk(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


# -- TF-IDF keywords ------------------------------------------------------------

def test_tfidf_keywords_golden_and_ties(spark, tmp_path):
    """Terms shared by every doc score ln(1)=0; a doc's distinctive
    term wins; equal scores break to the lexicographically smaller
    term."""
    import math

    rows = [
        (0, "common zebra zebra apple", "h"),
        (1, "common apple banana banana", "h"),
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = [
        (r.doc_id, r.rn, r.term, r.tfidf_micro)
        for r in text.tfidf_keywords(spark, sf_dir).collect()
    ]
    half = round(math.log(2.0) * 1000000)      # df=1 of N=2, tf=1
    twice = round(2 * math.log(2.0) * 1000000)  # tf=2
    assert got == [
        (0, 1, "zebra", twice),
        (0, 2, "apple", 0),   # df=2 -> ln(1)=0; 'apple' < 'common'
        (0, 3, "common", 0),
        (1, 1, "banana", twice),
        (1, 2, "apple", 0),
        (1, 3, "common", 0),
    ]
    assert half > 0  # sanity: the micro scale resolves single-tf idf


def test_url_filter_userinfo_cannot_evade_host_block(spark):
    """Host extraction skips userinfo: 'x@ads.…' is still host-blocked
    and 'ads@good.…' is not."""
    cases = {
        "https://x@ads.example.test/p": (0, "host_block"),
        "https://ads@good.example.test/p": (1, "-"),
        "https://ads.example.test/p": (0, "host_block"),
    }
    for url, want in cases.items():
        allowed, first = weburl.url_filter_verdict(F.lit(url))
        row = spark.range(1).select(
            allowed.alias("a"), first.alias("f")
        ).first()
        assert (row.a, row.f) == want, url


# -- NFC normalization ----------------------------------------------------------

def test_nfc_normalize_collapses_decomposed_forms(spark, tmp_path):
    """doc 0 (decomposed e+U+0301) is flagged changed; doc 1
    (precomposed U+00E9) and doc 2 (ASCII) are not — and after
    normalization docs 0 and 1 hash IDENTICALLY: the dedup-splitting
    failure mode NFC exists to prevent."""
    rows = [(0, "same words", "h"), (1, "same words", "h"),
            (2, "same words", "h")]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {r.doc_id: r for r in text.nfc_normalize(spark, sf_dir).collect()}
    assert [got[i].changed for i in (0, 1, 2)] == [1, 0, 0]
    assert got[0].norm_md5 == got[1].norm_md5
    assert got[2].norm_md5 != got[0].norm_md5


def test_nfc_injection_forms_really_differ():
    """Guard the fixture itself: branch 0's payload must be the
    DECOMPOSED sequence and branch 1's the precomposed char — if an
    editor ever NFC-normalizes the source file, this fails."""
    import unicodedata

    e = text.NFC_INJECT_EXPR
    b0 = e[e.index("WHEN 0"):e.index("WHEN 1")]
    b1 = e[e.index("WHEN 1"):]
    assert "́" in b0 and "é" not in b0
    assert "é" in b1 and "́" not in b1
    assert unicodedata.normalize("NFC", b0.replace("cafe", "caf")) != b0


# -- corpus mix report ----------------------------------------------------------

def test_mix_report_counts_and_shares(spark, tmp_path):
    """Cell counts, token sums, and micro-shares are exact."""
    rows = [
        (0, "a b c", "alpha"), (1, "d e", "alpha"),
        (2, "f", "beta"), (3, "g h i j", "beta"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["lang"] = ["en", "en", "en", "de"]
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        (r.lang, r.host): (r.n_docs, r.n_tokens, r.share_micro)
        for r in text.mix_report(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("en", "alpha.example.test"): (2, 5, 500000),
        ("en", "beta.example.test"): (1, 1, 250000),
        ("de", "beta.example.test"): (1, 4, 250000),
    }


# -- mix resampling -------------------------------------------------------------

def _mix_brute(rows, budget_frac, targets):
    """Single-window reference in plain Python."""
    per = {}
    total = len(rows)
    for doc_id, _, _, lang in rows:
        key = hashlib.md5(f"{doc_id}/{lang}".encode()).hexdigest()
        per.setdefault(lang, []).append((key, doc_id))
    out = {}
    for lang, pct in targets:
        n_keep = round(total * budget_frac * pct / 100.0)
        for rank, (_, doc_id) in enumerate(
            sorted(per.get(lang, []))[:n_keep], start=1
        ):
            out[doc_id] = (lang, rank)
    return out


def test_mix_resample_exact_vs_brute_force(spark, tmp_path):
    """Over-target languages are down-sampled to quota, scarce ones keep
    everything; result equals the single-window answer exactly."""
    rows = [(i, f"t{i}", "h", "en") for i in range(80)]          # dominant
    rows += [(100 + i, f"u{i}", "h", "de") for i in range(15)]
    rows += [(200 + i, f"v{i}", "h", "zh") for i in range(5)]    # scarce
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source", "lang"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: (r.lang, r.rank)
        for r in text.mix_resample(spark, str(tmp_path)).collect()
    }
    want = _mix_brute(rows, text.MIX_BUDGET_FRAC, text.MIX_TARGETS)
    assert got == want
    # quotas: budget = 50; en capped at 15, de at 10, zh keeps all 5
    from collections import Counter

    c = Counter(l for l, _ in got.values())
    assert c["en"] == 15 and c["de"] == 10 and c["zh"] == 5


def test_paragraph_dedup_matches_brute_force_random(spark, tmp_path):
    """Randomized corpus (seeded): the distributed plan equals a plain
    Python reimplementation of first-occurrence-keep over normalized
    8-token units."""
    import random
    import re as _re

    rng = random.Random(42)
    vocab = ["Alpha", "beta", "GAMMA", "delta7", "x9y", "zz"]
    rows = []
    for d in range(30):
        n = rng.randint(0, 40)
        rows.append(
            (d, " ".join(rng.choice(vocab) for _ in range(n)), "h")
        )
    sf_dir = _write_docs(spark, tmp_path, rows)
    from paddleocr_spark.functions import dedup

    got = {
        r.doc_id: (r.n_paras, r.n_removed, r.cleaned_text)
        for r in dedup.paragraph_dedup(spark, sf_dir).collect()
    }

    seen = set()
    want = {}
    for d, t, _ in rows:
        toks = t.strip().split(" ")
        units = [
            " ".join(toks[i * 8:(i + 1) * 8])
            for i in range((len(toks) + 7) // 8)
        ]
        kept = []
        for u in units:
            key = _re.sub(r"[0-9]", "0", u.lower())
            if key in seen:
                continue
            seen.add(key)
            kept.append(u)
        want[d] = (len(units), len(units) - len(kept), "\n".join(kept))
    assert got == want


# -- fixed-window chunking ------------------------------------------------------

def test_chunk_split_matches_bruteforce(spark, tmp_path):
    """Sliding-window chunking equals the naive Python policy on every
    boundary case: n < W, n == W, n == W+1 (a 1-token second window is
    NOT created — the last window re-covers the tail), multi-window,
    and exact stride multiples. The final token is always covered."""
    import hashlib

    W, S = text.CHUNK_W, text.CHUNK_S
    lens = [1, W - 1, W, W + 1, W + S, W + S + 1, 2 * S + W, 99]
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)), "alpha")
        for i, n in enumerate(lens)
    ]
    # empty and whitespace-only docs must yield ZERO chunks (no phantom
    # empty training example)
    rows += [(100, "", "alpha"), (101, "  \t ", "alpha")]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        (r.doc_id, r.i): (r.start, r.n_tokens, r.chunk_md5)
        for r in text.chunk_split(spark, sf_dir).collect()
    }
    want = {}
    for doc_id, t, _ in rows:
        toks = t.split()
        n = len(toks)
        if n == 0:
            continue
        nc = 1 if n <= W else -((n - W) // -S) + 1
        for i in range(nc):
            chunk = toks[i * S : i * S + W]
            want[(doc_id, i)] = (
                i * S,
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == want
    # every doc's last chunk reaches its final token
    for doc_id, t, _ in rows:
        n = len(t.split())
        if n == 0:
            continue
        last_i = max(i for d, i in want if d == doc_id)
        start, ln, _ = want[(doc_id, last_i)]
        assert start + ln == n, doc_id
    # narrow plan: 1 doc -> N chunks; the ONLY exchange is the
    # presentation orderBy's rangepartitioning (the chunking itself —
    # split/sequence/explode/slice — is shuffle-free)
    plan = (
        text.chunk_split(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re as _re

    exchanges = _re.findall(r"Exchange \w+", plan)
    assert exchanges == ["Exchange rangepartitioning"], exchanges


# -- inverted index --------------------------------------------------------------

def test_inverted_index_matches_bruteforce(spark, tmp_path):
    """Exact df + min-K postings equal the naive Python index on a
    corpus with a deliberately hot term ('the' in every doc, df beyond
    the cap) and within-doc repeats (df counts documents, not
    occurrences)."""
    rows = [
        (i, "the " * 3 + f"w{i} shared{'X' if i % 2 else ''} the", "h")
        for i in range(30)
    ]
    sf_dir = _write_docs(spark, tmp_path, rows)
    got = {
        r.term: (r.df, r.postings)
        for r in text.inverted_index(spark, sf_dir).collect()
    }
    want: dict = {}
    for doc_id, t, _ in rows:
        for term in set(t.split()):
            want.setdefault(term, []).append(doc_id)
    for term, docs in want.items():
        docs.sort()
        assert got[term] == (
            len(docs),
            ",".join(str(d) for d in docs[: text.POSTINGS_CAP]),
        ), term
    assert set(got) == set(want)
    # the hot term really exceeded the cap (the two-phase path was
    # exercised, not just tiny groups)
    assert want["the"][text.POSTINGS_CAP :]


# -- OLAP rollup ----------------------------------------------------------------

def test_olap_rollup_subtotals_exact(spark, tmp_path):
    """ROLLUP emits detail + per-lang subtotal + grand total in one
    pass, with grouping bits distinguishing subtotal rows; every level
    equals the hand-computed aggregate."""
    import pandas as pd

    pdf = pd.DataFrame(
        [
            (0, "aaaa", "h1", "en"), (1, "bb", "h1", "en"),
            (2, "cccccc", "h2", "en"), (3, "d", "h1", "ms"),
        ],
        columns=["doc_id", "text", "source", "lang"],
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        (r.lang, r.source): (r.n_docs, r.sum_chars, r.g_lang, r.g_source)
        for r in text.olap_rollup(spark, str(tmp_path)).collect()
    }
    assert got[("en", "h1")] == (2, 6, 0, 0)
    assert got[("en", "h2")] == (1, 6, 0, 0)
    assert got[("ms", "h1")] == (1, 1, 0, 0)
    assert got[("en", "ALL")] == (3, 12, 0, 1)
    assert got[("ms", "ALL")] == (1, 1, 0, 1)
    assert got[("ALL", "ALL")] == (4, 13, 1, 1)
    assert len(got) == 6


def test_clf_eval_auc_matches_brute_force_pairs(spark):
    """Exact AUC: compare the distinct-score prefix-sum formula against
    O(P*N) pair counting on sf0.001."""
    import duckdb

    from paddleocr_spark.functions.clfeval import clf_eval_rows

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    # independent label + score recomputation (pure python)
    STOP = ("the", "a", "and", "of", "to", "in", "is", "it")
    from paddleocr_spark.functions.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MEAN_LEN_X100,
        GOPHER_MIN_DISTINCT_X100,
        GOPHER_MIN_STOP,
        GOPHER_MIN_WORDS,
        GOPHER_STOP,
    )
    import hashlib

    def weight(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:4], 16) - 32768

    pairs_num = 0
    pts = []
    for _, text in rows:
        ws = text.strip().split(" ")
        n = len(ws)
        mean100 = len(text.replace(" ", "")) * 100 // n
        stop = sum(1 for w in set(GOPHER_STOP) if w in ws)
        dist100 = len(set(ws)) * 100 // n
        bits = (
            int(n < GOPHER_MIN_WORDS or n > GOPHER_MAX_WORDS)
            + int(
                mean100 < GOPHER_MEAN_LEN_X100[0]
                or mean100 > GOPHER_MEAN_LEN_X100[1]
            ) * 2
            + int(stop < GOPHER_MIN_STOP) * 4
            + int(dist100 < GOPHER_MIN_DISTINCT_X100) * 8
        )
        score = sum(weight(t) for t in ws)
        pts.append((int(bits == 0), score))
    pos = [s for k, s in pts if k]
    neg = [s for k, s in pts if not k]
    num = sum(
        2 * sum(1 for sn in neg if sp > sn)
        + sum(1 for sn in neg if sp == sn)
        for sp in pos
    )
    got = {
        r["k"]: r["v"]
        for r in clf_eval_rows(spark, "/root/testdata/sf0.001").collect()
    }
    p, n_, gnum, micro = map(int, got["auc"].split("|"))
    assert (p, n_, gnum) == (len(pos), len(neg), num)
    assert micro == num * 1000000 // (2 * len(pos) * len(neg))
    # untrained hashing-trick scorer is ~random against the rule
    # labels — the harness, not the model, is under test here
    assert 250000 < micro < 750000
    tp, fp, tn, fn = map(int, got["confusion"].split("|"))
    assert tp + fp + tn + fn == len(rows)
    assert tp + fn == len(pos) and fp + tn == len(neg)
