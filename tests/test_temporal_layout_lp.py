"""Unit tests for common-neighbor link prediction. Gate-level
Spark-vs-DuckDB equality is covered by tools/check_oracles.py; these pin
the operator semantics on hand-checkable fixtures, including the branches
the synthetic gate data may not stress (quad-graph Jaccard, existing edges
excluded).
"""

import pytest

from bert_namedentityrecognition_spark.operators.graph import link_prediction_cn



def test_link_prediction_on_quad(spark):
    # square 0-1-2-3-0: the two diagonals are the only candidates,
    # each with cn=2, all degrees 2 -> jaccard = 2/(2+2-2) = 1.0
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    out = link_prediction_cn(edges, min_cn=1, top_k=2)
    got = {(r.u, r.v): (r.cn, r.deg_u, r.deg_v, r.jaccard_scaled, r.rank)
           for r in out.collect()}
    assert got == {
        (0, 2): (2, 2, 2, 1_000_000, 1),
        (1, 3): (2, 2, 2, 1_000_000, 1),
    }


def test_link_prediction_excludes_existing_edges(spark):
    # triangle + pendant: 0-1, 1-2, 0-2, 2-3.  Candidates: (0,3) and (1,3)
    # via 2 (cn=1); adjacent pairs must NOT appear.
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    out = link_prediction_cn(edges, min_cn=1, top_k=2)
    got = {(r.u, r.v): (r.cn, r.jaccard_scaled) for r in out.collect()}
    # deg(0)=deg(1)=2, deg(3)=1 -> jacc = 1e6*1//(2+1-1) = 500000
    assert got == {(0, 3): (1, 500_000), (1, 3): (1, 500_000)}


@pytest.mark.parametrize("q", ["kg_link_prediction"])
def test_new_queries_registered_with_oracles(q):
    import __spark_entry__ as e

    assert q in e.queries()
    assert q in e.oracle_sql()
