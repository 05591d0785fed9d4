"""Graph materialization: id-keyed nodes/edges tables."""


from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline, write_outputs
from bert_namedentityrecognition_spark.sources import fixtures


def test_nodes_and_edges_resolve_entity_ids(spark, tmp_path):
    corpus = fixtures.generate_pages(100, seed=21)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    out = run_kg_pipeline(pages, dim, fixtures.pipeline_term_types())

    nodes = out["nodes"].collect()
    assert nodes
    for n in nodes:
        assert n.entity_id is not None
        assert n.kind in ("drug", "symptom")
        assert n.mention_count >= n.doc_count >= 1

    edges = out["edges"].collect()
    assert edges
    dim_ids = {r.entity_id for r in dim.collect()}
    for e in edges:
        assert e.pred == "HAS_ADVERSE_EVENT"
        assert e["count"] >= 1
        # drug subjects are dictionary surfaces → must resolve to real ids;
        # No-Symptoms objects get the synthetic SURF: id
        if e.obj == "No Symptoms":
            assert e.dst_id == "SURF:No Symptoms"
        else:
            assert e.dst_id in dim_ids
    resolved_src = [e for e in edges if not e.src_id.startswith("SURF:")]
    assert len(resolved_src) > len(edges) * 0.8

    # edge counts must agree with the triples table
    t = {(r.subj, r.obj): r["count"] for r in out["triples"].collect()}
    g = {(r.subj, r.obj): r["count"] for r in out["edges"].collect()}
    assert t == g

    base = str(tmp_path / "kg")
    write_outputs(out, base)
    assert spark.read.parquet(f"{base}/edges").count() == len(edges)
    assert spark.read.parquet(f"{base}/nodes").count() == len(nodes)
    assert spark.read.parquet(f"{base}/mentions").count() > 0


def test_write_outputs_iceberg_requires_catalog(spark):
    """The V2 writeTo path is real code that fails only at catalog
    resolution in this jar-less sandbox (no silent parquet fallback), and
    builds its partition transforms without a deprecated alias."""
    import warnings

    import pytest
    from pyspark.sql.utils import AnalysisException

    from bert_namedentityrecognition_spark.plans.pipeline import (
        write_outputs_iceberg,
    )

    mentions = spark.createDataFrame([("u1", 0, "w", "drug")],
                                     ["url", "sent_id", "word", "type"])
    with warnings.catch_warnings(), pytest.raises(AnalysisException):
        warnings.simplefilter("error", FutureWarning)
        write_outputs_iceberg({"mentions": mentions, "triples": mentions,
                               "nodes": mentions}, "nocatalog.db.kg")


def test_write_outputs_bucketed_colocated_join_and_rerun(spark, tmp_path):
    """The executable production-sink twin: bucketed catalog tables where
    (a) a url-bucketed mentions self-join plans with ZERO shuffle exchanges
    (the co-located pairing join of the 100 TB design), and (b) a rerun
    overwrites the tables wholesale — the idempotent-resume unit."""
    from bert_namedentityrecognition_spark.plans.pipeline import (
        write_outputs_bucketed,
    )

    corpus = fixtures.generate_pages(60, seed=33)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    out = run_kg_pipeline(pages, dim, fixtures.pipeline_term_types(), persist=False)

    write_outputs_bucketed(out, "kg_b", url_buckets=8, id_buckets=8)
    mentions = spark.table("kg_b_mentions")
    n1 = mentions.count()
    assert n1 == out["mentions"].count()

    # co-located join: bucketed x bucketed on the bucket key -> no shuffle
    # (disable broadcast so the planner can't sidestep the question)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = mentions.alias("a").join(spark.table("kg_b_mentions").alias("b"), "url")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        # control: the same join on unbucketed parquet shuffles both sides
        out["mentions"].write.mode("overwrite").parquet(str(tmp_path / "plain"))
        p = spark.read.parquet(str(tmp_path / "plain"))
        j2 = p.alias("a").join(p.alias("b"), "url")
        j2.count()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange hashpartitioning") >= 2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    # kill/rerun: a second write replaces the tables, same contents
    write_outputs_bucketed(out, "kg_b", url_buckets=8, id_buckets=8)
    assert spark.table("kg_b_mentions").count() == n1
    t1 = {(r.subj, r.obj): r["count"] for r in out["triples"].collect()}
    t2 = {(r.subj, r.obj): r["count"] for r in spark.table("kg_b_triples").collect()}
    assert t1 == t2
    for t in ("kg_b_mentions", "kg_b_triples", "kg_b_nodes", "kg_b_edges"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_kg_bucketed_join_gate_query_no_join_exchange(spark):
    """The kg_bucketed_join DRIVER query (not just the sink helper) must
    plan its url merge-join exchange-free on both inputs: the only
    hashpartitioning exchange allowed is the final (subj, obj) aggregation."""
    import __spark_entry__ as E

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = E.queries()["kg_bucketed_join"](spark, "/root/testdata/sf0.001")
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # one exchange total (the aggregation), zero feeding the join: the
        # agg exchange partitions by (subj, obj), never by url
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Exchange hashpartitioning(url" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_alias_collapse_unifies_node_ids(spark):
    """A mention normalized to entity D2 and alias-collapsed onto D1's
    surface must land in D1's node row — one node per collapsed entity,
    not a (D2_id, D1_surface) split (the id remap in apply_alias_map)."""
    rows = [
        {"entity_id": "D1", "surface": "ロキソニン", "canonical": "ロキソニン",
         "code": "A1", "kind": "drug", "human_check": None},
        {"entity_id": "D2", "surface": "ロキソプロフェン",
         "canonical": "ロキソプロフェン", "code": "A2", "kind": "drug",
         "human_check": None},
        {"entity_id": "S1", "surface": "頭痛", "canonical": "頭痛",
         "code": "I1", "kind": "symptom", "human_check": None},
    ]
    dim = fixtures.entity_dim_to_spark(spark, rows)
    tt = {"ロキソニン": "drug", "ロキソプロフェン": "drug", "頭痛": "symptom"}
    pages = spark.createDataFrame(
        [("https://a", None, None, "ロキソニンを服用後、頭痛が出現した。", "ja"),
         ("https://b", None, None, "ロキソプロフェンを服用後、頭痛が出現した。", "ja")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    alias = spark.createDataFrame(
        [("ロキソプロフェン", "ロキソニン")], ["src", "dst"]
    )
    out = run_kg_pipeline(pages, dim, tt, alias_edges=alias, persist=False)
    drug_nodes = [
        r for r in out["nodes"].collect()
        if r.kind == "drug" and r.canonical == "ロキソニン"
    ]
    assert len(drug_nodes) == 1, drug_nodes
    assert drug_nodes[0].entity_id == "D1"
    assert drug_nodes[0].mention_count == 2
    # no leftover node under the collapsed entity's old surface or id
    assert not [
        r for r in out["nodes"].collect()
        if r.entity_id == "D2" or r.canonical == "ロキソプロフェン"
    ]
