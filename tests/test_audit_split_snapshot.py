"""Tests for the KG integrity audit, hash dataset split, and temporal
snapshot queries.  Gate equality ran at sf0.001/0.01/0.1 when each landed;
these pin the metric definitions on hand-built fixtures and the
composition invariants the gate can't see directly.
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


def test_snapshot_asof_one_row_per_user(spark):
    out = E.queries()["kg_snapshot_asof"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users)) == 15
    # as_of must sit inside every user's covered span: version >= 1 and
    # the snapshot status is one of the event types
    assert all(r.version >= 1 for r in rows)
    assert {r.status for r in rows} <= {"click", "error", "purchase",
                                        "signup", "view"}


def test_snapshot_is_scd2_interval_at_t(spark):
    # composition invariant: picking the SCD2 row whose interval contains
    # T must equal filtering the full history
    from pyspark.sql import functions as F

    hist = E.queries()["scd2_entity_history"](spark, "/root/testdata/sf0.001")
    snap = E.queries()["kg_snapshot_asof"](spark, "/root/testdata/sf0.001")
    t = snap.select("as_of_us").first()["as_of_us"]
    manual = hist.filter(
        (F.col("valid_from_us") <= t)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > t))
    )
    a = {(r.user_id, r.status, r.version) for r in manual.collect()}
    b = {(r.user_id, r.status, r.version) for r in snap.collect()}
    assert a == b


def test_all_registered():
    qs, os_ = E.queries(), E.oracle_sql()
    for q in ("dataset_split_hash", "kg_snapshot_asof"):
        assert q in qs and q in os_
