"""DSIR importance-resampling weights (functions/dsir.py).

The strict gate (text_stats_suite row 'dsir') proves Spark == DuckDB on
the fixture; these tests prove the weights are RIGHT: the full pipeline
matches a pure-Python DSIR built from the same md5 feature stream, the
weight direction favours the target slice, and the plan keeps the
64-row ratio table on the broadcast side.
"""

import hashlib
import math

from paddleocr_spark.functions.dsir import (
    DSIR_B,
    DSIR_KEEP,
    DSIR_TARGET_LANG,
    dsir_weights,
)

SF = "/root/testdata/sf0.001"


def _py_dsir(df):
    """Textbook DSIR from the same tokenization + md5 bucketing."""

    def feats(text):
        t = text.strip(" ").split(" ")
        return t + [a + " " + b for a, b in zip(t, t[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:2], 16) % DSIR_B

    cr = [0] * DSIR_B
    ct = [0] * DSIR_B
    prof = {}
    for _, r in df.iterrows():
        d = {}
        for g in feats(r["text"]):
            b = bucket(g)
            d[b] = d.get(b, 0) + 1
        prof[r["doc_id"]] = d
        for b, c in d.items():
            cr[b] += c
            if r["lang"] == DSIR_TARGET_LANG:
                ct[b] += c
    R, T = sum(cr), sum(ct)
    lr = [
        round(
            (
                math.log((ct[b] + 1.0) / (T + DSIR_B))
                - math.log((cr[b] + 1.0) / (R + DSIR_B))
            )
            * 1e6
        )
        for b in range(DSIR_B)
    ]
    return {
        k: (sum(d.values()), sum(c * lr[b] for b, c in d.items()))
        for k, d in prof.items()
    }


def test_dsir_matches_python_reference(spark):
    import pandas as pd

    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_micro"], r["selected"])
        for r in dsir_weights(spark, SF).collect()
    }
    df = pd.read_parquet(f"{SF}/documents.parquet")
    py = _py_dsir(df)
    assert set(got) == set(py)
    for k, (n, w) in py.items():
        assert got[k][:2] == (n, w), k
    # exact top-quartile cut: first ceil(n/KEEP) of the (-w, doc_id) order
    order = sorted(py, key=lambda k: (-py[k][1], k))
    n = len(order)
    keep = n // DSIR_KEEP + (1 if n % DSIR_KEEP else 0)
    sel = set(order[:keep])
    for k in got:
        assert got[k][2] == (1 if k in sel else 0), k


def test_dsir_upranks_target_slice(spark):
    """The point of DSIR: target-like documents must carry higher mean
    weight than the rest of the pool (here trivially true — the target
    IS the en slice — but it pins the ratio's sign convention)."""
    import pandas as pd

    df = pd.read_parquet(f"{SF}/documents.parquet")
    w = {
        r["doc_id"]: r["dsir_micro"]
        for r in dsir_weights(spark, SF).collect()
    }
    per_tok = {
        r["doc_id"]: w[r["doc_id"]]
        / max(len(r["text"].strip(" ").split(" ")), 1)
        for _, r in df.iterrows()
    }
    en = [per_tok[r["doc_id"]] for _, r in df.iterrows()
          if r["lang"] == DSIR_TARGET_LANG]
    other = [per_tok[r["doc_id"]] for _, r in df.iterrows()
             if r["lang"] != DSIR_TARGET_LANG]
    assert sum(en) / len(en) > sum(other) / len(other)


def test_dsir_ratio_table_is_broadcast(spark):
    """Scale pin: the scoring join must put the 64-row log-ratio table
    on the broadcast side — no sort-merge join of the corpus against
    itself."""
    plan = (
        dsir_weights(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
