"""Mutual-kNN graph semantics on handcrafted inputs."""

import math

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from bert_namedentityrecognition_spark.operators.similarity import (
    knn_within_clusters,
)

VECS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def test_knn_mutual_flag_asymmetry(spark):
    # chain on the unit circle: a–b adjacent, c nearer b than a, d far off.
    # k=1: a→b, b→a (mutual pair); c→b but b's top-1 is a → c's edge
    # NOT mutual; d→c one-way.
    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(0, unit(0)), (1, unit(10)), (2, unit(25)), (3, unit(80))]
    out = knn_within_clusters(
        spark.createDataFrame(rows, VECS), k=1, n_centroids=1
    ).collect()
    edges = {r["src_id"]: (r["dst_id"], r["mutual"]) for r in out}
    assert edges[0] == (1, True)
    assert edges[1] == (0, True)
    assert edges[2] == (1, False)
    assert edges[3] == (2, False)


def test_knn_rank_order_and_k(spark):
    rows = [(i, [float(10 - i), 1.0]) for i in range(5)]
    out = knn_within_clusters(
        spark.createDataFrame(rows, VECS), k=3, n_centroids=1
    ).collect()
    per_src = {}
    for r in out:
        per_src.setdefault(r["src_id"], []).append(r["rank"])
    assert set(per_src) == set(range(5))
    assert all(sorted(v) == [1, 2, 3] for v in per_src.values())
