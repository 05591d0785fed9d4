"""Tests for the hash dataset split.  Gate equality ran at
sf0.001/0.01/0.1 when it landed; these pin the split definition on the
gate data and on a hand-built fixture.
"""

import duckdb

import __spark_entry__ as E


def _duck(sf="0.001"):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf{sf}/{t}.parquet'"
        )
    return con


def test_dataset_split_is_partition_and_roughly_80_10_10():
    con = _duck()
    rows = con.sql(E.oracle_sql()["dataset_split_hash"]).df()
    n = dict(zip(rows["split"], rows["n_docs"]))
    total = sum(n.values())
    assert total == con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert 0.7 < n["train"] / total < 0.9
    assert n["val"] > 0 and n["test"] > 0


def test_dataset_split_is_content_keyed(spark):
    # identical text -> identical split, regardless of doc_id
    from bert_namedentityrecognition_spark.functions.textstats import poly_hash
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "same text"), (999, "same text")], "doc_id long, text string"
    )
    hs = [r.h for r in df.select((poly_hash(F.col("text")) % 100).alias("h")).collect()]
    assert hs[0] == hs[1]


def test_all_registered():
    qs, os_ = E.queries(), E.oracle_sql()
    for q in ("dataset_split_hash",):
        assert q in qs and q in os_
