"""Distributed k-means + SemDeDup (functions/kmeans.py) semantics pins.

The module's whole value proposition is exact integer-lattice arithmetic:
the trained centroids and drop verdicts must be bit-identical regardless
of partitioning or aggregation order, and must match a brute-force
single-machine Lloyd's on the same lattice.
"""

import numpy as np
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


def _brute_kmeans(emb: np.ndarray, vec_ids: np.ndarray, iters: int):
    """Reference Lloyd's on the quantized lattice, plain numpy."""
    from paddleocr_spark.functions.kmeans import (
        KM_INIT_MOD,
        KM_INIT_RES,
        QUANT,
    )

    q = np.floor(emb.astype(np.float64) * QUANT).astype(np.int64)
    seed_mask = vec_ids % KM_INIT_MOD == KM_INIT_RES
    cents = {
        int(v): q[i] * QUANT for i, v in enumerate(vec_ids) if seed_mask[i]
    }

    def assign(cents):
        cid = sorted(cents)
        M = np.stack([cents[c] for c in cid])
        # score = ||m||^2 - 2*QUANT*<q, m>; ties -> smallest cent_id
        score = (M * M).sum(axis=1)[None, :] - 2 * QUANT * (q @ M.T)
        return np.array([cid[j] for j in score.argmin(axis=1)])

    cells = assign(cents)
    for _ in range(iters - 1):
        upd = {}
        for c in np.unique(cells):
            sel = q[cells == c]
            upd[int(c)] = np.floor(
                sel.sum(axis=0).astype(np.float64) * QUANT / len(sel)
            ).astype(np.int64)
        cents = upd
        cells = assign(cents)
    # final update
    final = {}
    for c in np.unique(cells):
        sel = q[cells == c]
        final[int(c)] = (
            np.floor(
                sel.sum(axis=0).astype(np.float64) * QUANT / len(sel)
            ).astype(np.int64),
            len(sel),
        )
    return q, cells, final


@pytest.fixture(scope="module")
def brute(spark):
    t = pq.read_table(f"{SF_SMALL}/embeddings.parquet")
    vec_ids = np.array(t["vec_id"].to_pylist())
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float32)
    from paddleocr_spark.functions.kmeans import KM_ITERS

    return vec_ids, *_brute_kmeans(emb, vec_ids, KM_ITERS)


def _branch_rows(spark, sf_dir):
    """{op: {k-tuple: v-tuple}} of the suite's `kmeans_semdedup_bitext`
    branch: the kmeans, semdedup and bitext rows that production
    (`embedding_ops_suite`) emits, parsed back to ints."""
    from paddleocr_spark.functions.kmeans import embedding_branch_builders

    build = dict(embedding_branch_builders(spark, sf_dir))
    out: dict[str, dict] = {"kmeans": {}, "semdedup": {}, "bitext": {}}
    for r in build["kmeans_semdedup_bitext"]().collect():
        k = tuple(int(x) for x in r["k"].split("|"))
        out[r["op"]][k] = tuple(int(x) for x in r["v"].split("|"))
    return out


@pytest.fixture(scope="module")
def branch(spark):
    return _branch_rows(spark, SF_SMALL)


def test_kmeans_matches_bruteforce(branch, brute):
    vec_ids, q, cells, final = brute
    want = {
        (c, i): (int(m[i]), n)
        for c, (m, n) in final.items()
        for i in range(len(m))
    }
    assert branch["kmeans"] == want


def test_semdedup_keep_lowest_id_and_bruteforce(branch, brute):
    from paddleocr_spark.functions.kmeans import TAU_DEN, TAU_NUM

    vec_ids, q, cells, _ = brute
    got = {k[0]: v for k, v in branch["semdedup"].items()}
    assert set(got) == set(int(v) for v in vec_ids)

    # brute-force verdicts on the integer lattice
    order = np.argsort(vec_ids)
    dropped_n = 0
    by_cell: dict[int, list[int]] = {}
    for i in order:
        by_cell.setdefault(int(cells[i]), []).append(i)
    for cell, idxs in by_cell.items():
        for pos, i in enumerate(idxs):
            hit = False
            for j in idxs[:pos]:
                dot = int(q[i] @ q[j])
                if dot > 0 and TAU_DEN**2 * dot * dot >= TAU_NUM**2 * int(
                    q[i] @ q[i]
                ) * int(q[j] @ q[j]):
                    hit = True
                    break
            assert got[int(vec_ids[i])] == (cell, int(hit))
            dropped_n += hit
    # the gate threshold is tuned so BOTH verdicts occur in the corpus
    assert 0 < dropped_n < len(vec_ids)
    # keep-lowest-id: the smallest vec_id of every cell is never dropped
    for cell, idxs in by_cell.items():
        first = min(int(vec_ids[i]) for i in idxs)
        assert got[first] == (cell, 0)


def test_kmeans_partitioning_invariant(spark, branch):
    """Integer lattice => result independent of partition count /
    aggregation order (the classic float-kmeans reproducibility hole)."""
    from paddleocr_spark.functions import kmeans as km

    orig = km._quantized

    def skewed(spark_, sf_dir):
        return orig(spark_, sf_dir).repartition(37)

    km._quantized = skewed
    try:
        rep = _branch_rows(spark, SF_SMALL)
    finally:
        km._quantized = orig
    assert rep == branch


def test_bitext_candidates_match_bruteforce(spark, branch):
    """Cross-lang same-cell pairs equal the brute-force integer-exact
    cosine test over the collected assignment; every pair is ordered
    (a < b) and genuinely cross-language."""
    from paddleocr_spark.functions.kmeans import (
        BITEXT_DEN,
        BITEXT_NUM,
        _train,
    )

    got = branch["bitext"]
    _, assigned = _train(spark, SF_SMALL)
    vecs = {r.vec_id: (list(r.qq), r.cell) for r in assigned.collect()}
    langs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    want = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        qa, ca = vecs[a]
        for b in ids[i + 1 :]:
            qb, cb = vecs[b]
            if ca != cb or langs[a] == langs[b]:
                continue
            dot = sum(x * y for x, y in zip(qa, qb))
            if dot > 0 and (
                BITEXT_DEN * BITEXT_DEN * dot * dot
                >= BITEXT_NUM * BITEXT_NUM
                * sum(x * x for x in qa) * sum(y * y for y in qb)
            ):
                want[(a, b)] = (ca, dot)
    assert got == want
    assert want  # the fixture actually produces candidates
    for (a, b) in got:
        assert a < b and langs[a] != langs[b]
