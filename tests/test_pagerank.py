"""Distributed PageRank pinned against a pure-Python power iteration
with the identical formula (uniform init, damping, symmetrized edges,
L1 early stop)."""

from __future__ import annotations

from conversation_analysis_tools_spark.operators.pagerank import pagerank


def _py_pagerank(edges, damping=0.85, max_iter=20, tol=1e-6):
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    nodes = sorted({x for e in sym for x in e})
    n = len(nodes)
    out = {v: sum(1 for s, _ in sym if s == v) for v in nodes}
    r = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, d in sym:
            contrib[d] += r[s] / out[s]
        new = {v: (1 - damping) / n + damping * contrib[v] for v in nodes}
        delta = sum(abs(new[v] - r[v]) for v in nodes)
        r = new
        if delta < tol:
            break
    return r


def test_pagerank_matches_python_reference(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, src="id1", dst="id2").collect()
    }
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    # triangle member with an extra spoke outranks everyone
    assert max(got, key=got.get) == 3


def test_pagerank_sums_to_one(spark):
    df = spark.createDataFrame([(1, 2), (3, 4), (4, 5)], "id1 long, id2 long")
    ranks = pagerank(df, src="id1", dst="id2").collect()
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9


def test_pagerank_fixed_pinned_literals():
    """The pagerank_fixed driver certificate's literal oracle must
    equal the pure-Python power iteration on the same fixed graph."""
    from conversation_analysis_tools_spark.queries.dedup import (
        PAGERANK_FIXED_EDGES,
        PAGERANK_FIXED_EXPECTED,
    )

    want = _py_pagerank(PAGERANK_FIXED_EDGES)
    expected = sorted(
        (v, int(round(r * 1_000_000))) for v, r in want.items()
    )
    assert expected == sorted(PAGERANK_FIXED_EXPECTED)
