"""Tests for weighted SSSP (Bellman-Ford), incremental connected
components and clustering coefficients.  Gate-level Spark-vs-DuckDB
equality ran at sf0.001/0.01/0.1 when each query landed; these pin the
kernels and the branches gate data may not stress (negative-free weight
relaxation order, unreachable nodes, merge-vs-new-node incremental paths).
"""

import random

import duckdb
import pytest

from bert_namedentityrecognition_spark.operators.canonicalize import (
    connected_components_star,
)
from bert_namedentityrecognition_spark.operators.graph import (
    incremental_components,
    sssp_bellman_ford,
)
from bert_namedentityrecognition_spark.oracle.graph import sssp_sql, sssp_weighted


def test_sssp_kernel_prefers_cheap_long_path():
    # 0->1 direct cost 5; 0->2->1 cost 2; 1->3 completes in 3 hops
    wedges = [(0, 1, 5), (0, 2, 1), (2, 1, 1), (1, 3, 1)]
    assert sssp_weighted(wedges, [0], 4) == {0: 0, 1: 2, 2: 1, 3: 3}
    # round budget 1: only direct relaxations
    assert sssp_weighted(wedges, [0], 1) == {0: 0, 1: 5, 2: 1}


def test_sssp_sql_twin_matches_kernel_random():
    rng = random.Random(11)
    for _ in range(3):
        n = 30
        wedges = sorted(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(70)}
        )
        wedges = [(a, b, 1 + (a + b) % 5) for a, b in wedges if a != b]
        want = sssp_weighted(wedges, [0, 7], 5)
        vals = ",".join(f"({a},{b},{w})" for a, b, w in wedges)
        ctes = (
            f"wedges(a,b,w) AS (VALUES {vals}), "
            "seeds(node) AS (VALUES (0),(7))"
        )
        got = dict(duckdb.sql(sssp_sql(ctes, 5)).fetchall())
        assert got == want


def test_sssp_spark_matches_kernel(spark):
    rng = random.Random(3)
    n = 40
    wedges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(90)})
    wedges = [(a, b, 1 + (a * 7 + b) % 4) for a, b in wedges if a != b]
    want = sssp_weighted(wedges, [0, 13], 5)
    df = spark.createDataFrame(wedges, "src long, dst long, weight long")
    sd = spark.createDataFrame([(0,), (13,)], "node long")
    got = {r.node: r.dist for r in sssp_bellman_ford(df, sd, 5).collect()}
    assert got == want


def test_incremental_components_equals_full_recompute(spark):
    rng = random.Random(5)
    for _ in range(2):
        n = 50
        base = [(a, b) for a, b in
                {(rng.randrange(n), rng.randrange(n)) for _ in range(40)}
                if a != b]
        # delta touches existing comps AND brand-new nodes n..n+9
        delta = [(a, b) for a, b in
                 {(rng.randrange(n + 10), rng.randrange(n + 10))
                  for _ in range(12)} if a != b]
        bdf = spark.createDataFrame(base, "src long, dst long")
        ddf = spark.createDataFrame(delta, "src long, dst long")
        prev = connected_components_star(bdf)
        inc = {(r.node, r.component)
               for r in incremental_components(prev, ddf).collect()}
        full = {(r.node, r.component)
                for r in connected_components_star(
                    bdf.unionByName(ddf)).collect()}
        assert inc == full


def test_incremental_components_noop_delta_keeps_assignment(spark):
    # delta edge inside one existing component must change nothing
    bdf = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    prev = connected_components_star(bdf)
    ddf = spark.createDataFrame([(0, 2)], "src long, dst long")
    inc = {(r.node, r.component)
           for r in incremental_components(prev, ddf).collect()}
    assert inc == {(r.node, r.component) for r in prev.collect()}


@pytest.mark.parametrize("q", ["kg_weighted_sssp", "kg_incremental_components"])
def test_new_queries_registered_with_oracles(q):
    import __spark_entry__ as e

    assert q in e.queries()
    assert q in e.oracle_sql()


def test_clustering_coefficients_k4_and_path(spark):
    from bert_namedentityrecognition_spark.operators.graph import (
        clustering_coefficients,
    )

    # K4 on 0..3 (every node cc=1.0) + path 4-5-6 (deg-2 center, cc=0)
    # + pendant 6-7 (node 7 deg 1 -> excluded)
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.deg, r.triangles, r.cc_scaled)
           for r in clustering_coefficients(df).collect()}
    assert got == {
        0: (3, 3, 1_000_000), 1: (3, 3, 1_000_000),
        2: (3, 3, 1_000_000), 3: (3, 3, 1_000_000),
        5: (2, 0, 0), 6: (2, 0, 0),
    }


def test_clustering_coefficients_registered():
    import __spark_entry__ as e

    assert "kg_clustering_coefficients" in e.queries()
    assert "kg_clustering_coefficients" in e.oracle_sql()
