"""Host-graph PageRank, TrustRank and HITS (functions/webgraph.py):
pure-python reference parity, rounding-boundary safety margin,
oracle-fixture agreement, and the shared power step on a hand-built
graph."""

import duckdb
import pytest

from tests.conftest import SF_MID, SF_SMALL

DAMPING = 0.85
ITERS = 3


def _reference_pagerank(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    hosts = sorted({s for _, s in rows})
    n = len(hosts)
    rank_of = {s: i + 1 for i, s in enumerate(hosts)}
    edges = {}
    for doc_id, s in rows:
        u = rank_of[s]
        v = (u * 7 + doc_id) % n + 1
        edges[(u, v)] = edges.get((u, v), 0) + 1
    r = _pagerank_dict(n, edges)
    return {hosts[u - 1]: r[u] for u in r}


def _pagerank_dict(n, edges):
    """{u: rank} after ITERS power steps over {(u, v): w}, u = 1..n."""
    out = {}
    for (u, _), w in edges.items():
        out[u] = out.get(u, 0) + w
    assert set(out) == set(range(1, n + 1)), "dangling host"
    r = {u: 1.0 / n for u in range(1, n + 1)}
    for _ in range(ITERS):
        mass = {u: 0.0 for u in range(1, n + 1)}
        for (u, v), w in edges.items():
            mass[v] += r[u] * (w / out[u])
        r = {
            u: (1 - DAMPING) / n + DAMPING * mass[u]
            for u in range(1, n + 1)
        }
    return r


def test_spark_matches_reference_exactly_in_micro_units(spark):
    from paddleocr_spark.functions.webgraph import host_graph, host_pagerank

    ref = _reference_pagerank(SF_SMALL)
    got = {
        r["source"]: r["rank"]
        for r in host_pagerank(host_graph(spark, SF_SMALL)).collect()
    }
    assert set(got) == set(ref)
    for s in ref:
        assert round(got[s] * 1e8) == round(ref[s] * 1e8), (
            s, got[s], ref[s]
        )


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MID])
def test_micro_rounding_margin(sf_dir):
    """At scale 1e8 every fixture rank is an exact integer (the rank
    denominators divide 1e8), so the rounding-boundary distance is the
    maximum 0.5 — ~6 orders of magnitude above engine summation drift.
    1e6 was unsafe (0.1177875 * 1e6 lands exactly on .5)."""
    for s, r in _reference_pagerank(sf_dir).items():
        frac = abs((r * 1e8) % 1.0 - 0.5)
        assert frac > 0.4, (s, r, frac)


def test_ranks_sum_to_one(spark):
    from paddleocr_spark.functions.webgraph import host_graph, host_pagerank

    total = sum(
        r["rank"]
        for r in host_pagerank(host_graph(spark, SF_SMALL)).collect()
    )
    assert abs(total - 1.0) < 1e-9


# --- TrustRank / spam mass / reciprocity --------------------------------


def _reference_trust(sf_dir):
    """Pure-python two-vector power iteration over the ENRICHED trust
    graph (functional edges + 4x-weighted pairing edges)."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    hosts = sorted({s for _, s in rows})
    n = len(hosts)
    s = max(n // 4, 1)
    rank_of = {h: i + 1 for i, h in enumerate(hosts)}
    edges = {}
    for doc_id, h in rows:
        u = rank_of[h]
        v = (u * 7 + doc_id) % n + 1
        edges[(u, v)] = edges.get((u, v), 0) + 1
    docw = {}
    for (u, _), w in edges.items():
        docw[u] = docw.get(u, 0) + w
    for u in range(1, n + 1):
        p = u + 1 if (u % 2 == 1 and u < n) else (u - 1 if u % 2 == 0 else u)
        edges[(u, p)] = edges.get((u, p), 0) + 4 * docw[u]
    out = {}
    for (u, _), w in edges.items():
        out[u] = out.get(u, 0) + w
    pr = {u: 1.0 / n for u in range(1, n + 1)}
    tr = {u: (1.0 / s if u <= s else 0.0) for u in range(1, n + 1)}
    for _ in range(ITERS):
        mp = {u: 0.0 for u in pr}
        mt = {u: 0.0 for u in pr}
        for (u, v), w in edges.items():
            mp[v] += pr[u] * (w / out[u])
            mt[v] += tr[u] * (w / out[u])
        pr = {u: (1 - DAMPING) / n + DAMPING * mp[u] for u in pr}
        tr = {
            u: ((1 - DAMPING) / s if u <= s else 0.0) + DAMPING * mt[u]
            for u in tr
        }
    recip = {}
    deg = {}
    dedges = set(edges)
    for (u, v) in dedges:
        deg[u] = deg.get(u, 0) + 1
        if (v, u) in dedges:
            recip[u] = recip.get(u, 0) + 1
    return hosts, s, rank_of, pr, tr, deg, recip


def test_trust_signals_match_pure_python(spark):
    from paddleocr_spark.functions.webgraph import (
        host_graph,
        host_trust_signals,
    )

    hosts, s, rank_of, pr, tr, deg, recip = _reference_trust(SF_SMALL)
    graph = host_graph(spark, SF_SMALL)
    got = {r["source"]: r for r in host_trust_signals(graph).collect()}
    assert set(got) == set(hosts)
    for h in hosts:
        u = rank_of[h]
        r = got[h]
        assert r["seed"] == (1 if u <= s else 0)
        assert round(r["r_pr"] * 1e8) == round(pr[u] * 1e8), h
        assert round(r["r_tr"] * 1e8) == round(tr[u] * 1e8), h
        assert r["n_out"] == deg.get(u, 0)
        assert r["n_recip"] == recip.get(u, 0)
    # pairing guarantees every host at least one reciprocal edge
    assert all(r["n_recip"] >= 1 for r in got.values())
    # seeds concentrate trust: mean tr over seeds > mean over non-seeds
    seeds = [r["r_tr"] for r in got.values() if r["seed"]]
    rest = [r["r_tr"] for r in got.values() if not r["seed"]]
    assert sum(seeds) / len(seeds) > sum(rest) / max(len(rest), 1)


def test_trust_rounding_margin(spark):
    from paddleocr_spark.functions.webgraph import (
        host_graph,
        host_trust_signals,
    )

    for sf in (SF_SMALL, SF_MID):
        for r in host_trust_signals(host_graph(spark, sf)).collect():
            for col in ("r_pr", "r_tr"):
                frac = abs((r[col] * 1e8) % 1.0 - 0.5)
                assert frac > 0.4, (sf, r["source"], col, r[col])


def test_trustrank_rows_match_duckdb_oracle(spark):
    from paddleocr_spark.functions.webgraph import (
        TRUSTRANK_SQL,
        host_graph,
        trustrank_rows,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    oracle = {r[1]: r[2] for r in con.execute(TRUSTRANK_SQL).fetchall()}
    rows = trustrank_rows(host_graph(spark, SF_SMALL)).collect()
    mine = {r["k"]: r["v"] for r in rows}
    assert mine == oracle


def _hits_dict(us, edges):
    """({u: authority}, {u: hub}) after HITS_ROUNDS unnormalized
    rounds over {(u, v): w}."""
    from paddleocr_spark.functions.webgraph import HITS_ROUNDS

    h = {u: 1 for u in us}
    a = {}
    for _ in range(HITS_ROUNDS):
        a = {u: 0 for u in us}
        for (u, v), w in edges.items():
            a[v] += w * h[u]
        h = {u: 0 for u in us}
        for (u, v), w in edges.items():
            h[u] += w * a[v]
    return a, h


def test_hits_matches_pure_python(spark):
    """Unnormalized integer HITS vs a dict-based reference over the
    same edge census."""
    from paddleocr_spark.functions.webgraph import host_graph, host_hits

    graph = host_graph(spark, SF_SMALL)
    nodes = {r["source"]: r["u"] for r in graph[0].collect()}
    edges = {(r["u"], r["v"]): int(r["w"]) for r in graph[2].collect()}
    a, h = _hits_dict(nodes.values(), edges)
    got = {
        r["source"]: (int(r["authority"]), int(r["hub"]))
        for r in host_hits(graph).collect()
    }
    assert got == {s: (a[u], h[u]) for s, u in nodes.items()}


def test_hits_rows_match_duckdb_oracle(spark):
    from paddleocr_spark.functions.webgraph import (
        HITS_SQL,
        hits_rows,
        host_graph,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    oracle = {r[1]: r[2] for r in con.execute(HITS_SQL).fetchall()}
    rows = hits_rows(host_graph(spark, SF_SMALL)).collect()
    mine = {r["k"]: r["v"] for r in rows}
    assert mine == oracle
    # mutual reinforcement is non-degenerate on the fixture: some host
    # must collect authority mass and every host emits hub mass
    assert any(int(v.split("|")[0]) > 0 for v in mine.values())
    assert all(int(v.split("|")[1]) > 0 for v in mine.values())


def test_power_step_on_hand_built_graph(spark):
    """The shared `_propagate` step on a 4-host graph the corpus
    fixture may lack: host d has no in-link and host c links to itself.
    The zero term each node adds to the mass groupBy must give d a row
    with exactly no mass: PageRank (1 - d) / n, HITS authority 0. Every
    host comes back exactly once, and all values equal the dict
    references."""
    from paddleocr_spark.functions.webgraph import (
        DAMPING,
        host_hits,
        host_pagerank,
    )

    hosts = ["a", "b", "c", "d"]
    edges = {(1, 2): 1, (2, 3): 2, (3, 3): 2, (3, 1): 1, (4, 1): 3}
    nodes = spark.createDataFrame(
        [(s, u) for u, s in enumerate(hosts, 1)], "source string, u int"
    )
    frame = spark.createDataFrame(
        [(u, v, float(w)) for (u, v), w in edges.items()],
        "u int, v int, w double",
    )
    graph = (nodes, len(hosts), frame)

    ranks = host_pagerank(graph).collect()
    assert sorted(r["source"] for r in ranks) == hosts
    got = {r["source"]: r["rank"] for r in ranks}
    assert got["d"] == (1.0 - DAMPING) / len(hosts)
    ref = _pagerank_dict(len(hosts), edges)
    assert got == {s: ref[u] for u, s in enumerate(hosts, 1)}

    hits = host_hits(graph).collect()
    assert sorted(r["source"] for r in hits) == hosts
    got = {r["source"]: (int(r["authority"]), int(r["hub"])) for r in hits}
    assert got["d"][0] == 0
    a, h = _hits_dict(range(1, len(hosts) + 1), edges)
    assert got == {s: (a[u], h[u]) for u, s in enumerate(hosts, 1)}
