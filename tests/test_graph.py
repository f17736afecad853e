"""host_rank (integer PageRank) vs an independent Python simulator."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from doppel_spark.operators.graph import RANK_SCALE, host_rank
from doppel_spark.operators.stage import StageMaterializer


def ref_rank(edge_list, iterations, d_num=85, d_den=100, scale=RANK_SCALE):
    """Straightforward dict-based mirror of the operator's exact
    integer arithmetic — the independent spec the distributed
    implementation must match bit-for-bit."""
    w = Counter(edge_list)
    nodes = sorted({u for u, _ in w} | {v for _, v in w})
    n = len(nodes)
    out_w = Counter()
    for (u, _), c in w.items():
        out_w[u] += c
    tele = (d_den - d_num) * scale // (d_den * n)
    score = {x: scale // n for x in nodes}
    for _ in range(iterations):
        s = dict.fromkeys(nodes, 0)
        for (u, v), c in w.items():
            s[v] += score[u] * c // out_w[u]
        score = {x: tele + d_num * s[x] // d_den for x in nodes}
    return score


def _ranks(df, **kw):
    """``host_rank(df, **kw)`` rows, cut through a materializer freed
    afterwards."""
    mat = StageMaterializer.for_input(df, prefix="rank")
    try:
        return host_rank(df, mat=mat, **kw).collect()
    finally:
        mat.cleanup()


def _run(spark, edge_list, **kw):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {r.host: r.rank_micros for r in _ranks(df, **kw)}


def test_matches_reference_simulator_small_graph(spark):
    # hub (0) pointed at by everyone; 3 also dangling-free via 3->0
    edges = [(1, 0), (2, 0), (3, 0), (0, 1), (1, 2), (2, 3), (3, 1)]
    for t in (1, 2, 5):
        assert _run(spark, edges, iterations=t) == ref_rank(edges, t)


def test_multi_edges_aggregate_to_weights(spark):
    # 1 links 0 three times; simulator sees the same multiset
    edges = [(1, 0), (1, 0), (1, 0), (0, 1), (1, 2), (2, 0)]
    assert _run(spark, edges, iterations=3) == ref_rank(edges, 3)


def test_dangling_node_keeps_teleport_and_inflow(spark):
    # 2 has no out-edges: its mass leaks (documented) but it must still
    # be ranked from teleport + inflow, and others must match the spec
    edges = [(0, 1), (1, 2), (0, 2)]
    got = _run(spark, edges, iterations=4)
    # simulator with explicit dangling handling = drop (out_w missing)
    w = Counter(edges)
    nodes = [0, 1, 2]
    out_w = Counter()
    for (u, _), c in w.items():
        out_w[u] += c
    tele = 15 * RANK_SCALE // (100 * 3)
    score = {x: RANK_SCALE // 3 for x in nodes}
    for _ in range(4):
        s = dict.fromkeys(nodes, 0)
        for (u, v), c in w.items():
            if out_w[u]:
                s[v] += score[u] * c // out_w[u]
        score = {x: tele + 85 * s[x] // 100 for x in nodes}
    assert got == score
    assert got[2] > got[1]  # 2 has two in-links, 1 has one


def test_hub_ranks_highest(spark):
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    got = _run(spark, edges, iterations=5)
    assert max(got, key=got.get) == 0


def test_deterministic_across_partitionings(spark):
    edges = [(i % 7, (i * 3 + 1) % 7) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(_ranks(df, iterations=4))
    b = sorted(_ranks(df.repartition(13), iterations=4))
    assert a == b


def test_rejects_zero_iterations(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        _ranks(df, iterations=0)


def test_weight_column_path(spark):
    # pre-aggregated weighted edges == the equivalent multi-edge list
    weighted = [(1, 0, 3), (0, 1, 1), (1, 2, 1), (2, 0, 1)]
    multi = [(1, 0)] * 3 + [(0, 1), (1, 2), (2, 0)]
    df = spark.createDataFrame(weighted, "src long, dst long, w long")
    got = {r.host: r.rank_micros
           for r in _ranks(df, weight="w", iterations=3)}
    assert got == ref_rank(multi, 3)
