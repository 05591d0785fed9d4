"""RDFS subclass-closure type inference — kernel vs distributed operator
vs recursive-CTE twin, loud-cycle failure — plus hand-fixture invariants
of the shape, BGP, fusion, provenance and ANN-recall queries."""

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bert_namedentityrecognition_spark.operators.graph import (
    transitive_closure_doubling,
)
from bert_namedentityrecognition_spark.oracle.graph import (
    closure_pairs,
    closure_sql,
)

EDGE = StructType(
    [StructField("src", LongType()), StructField("dst", LongType())]
)


def _spark_closure(spark, edges):
    df = spark.createDataFrame(edges, EDGE)
    return {
        (r["node"], r["anc"])
        for r in transitive_closure_doubling(df).collect()
    }


def test_closure_matches_kernel_on_tree(spark):
    # 3-ary tree over 40 classes — the gate fixture's shape
    edges = [(c, (c - 1) // 3) for c in range(1, 40)]
    assert _spark_closure(spark, edges) == closure_pairs(edges)


def test_closure_matches_kernel_on_dag(spark):
    # diamond DAG: multiple paths to the same ancestor must dedup
    edges = [(3, 1), (3, 2), (1, 0), (2, 0), (5, 3), (4, 3)]
    got = _spark_closure(spark, edges)
    assert got == closure_pairs(edges)
    assert (5, 0) in got and (5, 5) in got  # transitive + reflexive


def test_closure_cycle_fails_loudly(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], EDGE)
    with pytest.raises(RuntimeError, match="CYCLE|converge"):
        transitive_closure_doubling(df, max_doublings=4)
    with pytest.raises(RuntimeError, match="cycle"):
        closure_pairs([(0, 1), (1, 2), (2, 0)])


def test_closure_sql_twin_matches_kernel():
    edges = [(c, (c - 1) // 2) for c in range(1, 25)] + [(24, 0), (23, 1)]
    sql = closure_sql(
        "cedges AS MATERIALIZED (SELECT a, b FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in edges)
        + ") t(a, b))"
    )
    got = {(r[0], r[1]) for r in duckdb.sql(sql).fetchall()}
    assert got == closure_pairs(edges)


def test_rdfs_gate_invariants(spark, sf_dir):
    import __spark_entry__ as E

    rows = {
        r["class_id"]: r
        for r in E.queries()["kg_rdfs_closure"](spark, sf_dir).collect()
    }
    n = sum(r["n_direct"] for r in rows.values())
    # root entails every entity; its depth is 0
    assert rows[0]["n_entailed"] == n
    assert rows[0]["depth"] == 0
    # entailed >= direct everywhere; a leaf's entailed == its direct
    assert all(r["n_entailed"] >= r["n_direct"] for r in rows.values())
    leaf = max(rows)  # highest id is a leaf of the 3-ary tree
    assert rows[leaf]["n_entailed"] == rows[leaf]["n_direct"]
    # parent's entailed covers each child's
    assert rows[(leaf - 1) // 3]["n_entailed"] >= rows[leaf]["n_entailed"]


def test_shape_violations_hand_fixture(spark):
    from pyspark.sql.types import StringType

    from bert_namedentityrecognition_spark.operators.triples import (
        shape_violations,
    )

    schema = StructType(
        [
            StructField("subj", StringType()),
            StructField("pred", StringType()),
            StructField("obj", StringType()),
            StructField("count", LongType()),
        ]
    )
    rows = [
        # subj 'a' fans out to 3 distinct objs under P (> max_fanout=2)
        ("a", "P", "x1", 5), ("a", "P", "x2", 5), ("a", "P", "x3", 5),
        # unknown predicate -> closed_shape warning
        ("b", "UNKNOWN", "x1", 5),
        # weak evidence -> min_support
        ("c", "P", "x1", 1),
        # short object -> obj_min_length (twice, deduped)
        ("d", "P", "z", 5), ("d", "P", "z", 5),
    ]
    out = shape_violations(
        spark.createDataFrame(rows, schema),
        allowed_preds=["P"],
        max_fanout=2,
        min_support=2,
        obj_min_len=2,
    ).collect()
    got = {(r["constraint_id"], r["subj"], r["obj"], r["measured"]) for r in out}
    assert ("max_fanout", "a", None, 3) in got
    assert ("closed_shape", "b", None, 1) in got
    assert ("min_support", "c", "x1", 1) in got
    assert ("obj_min_length", "d", "z", 1) in got
    # exactly one violation per fixture row-group: no spurious extras
    assert len(out) == 4


def test_shacl_gate_branches_live(spark, sf_dir):
    import __spark_entry__ as E

    out = E.queries()["kg_shacl_validation"](spark, sf_dir).collect()
    kinds = {r["constraint_id"] for r in out}
    assert kinds == {"max_fanout", "closed_shape", "min_support", "obj_min_length"}
    sev = {r["constraint_id"]: r["severity"] for r in out}
    assert sev["max_fanout"] == "error" and sev["min_support"] == "warning"


def test_textrank_matches_kernel_on_hand_corpus(spark, tmp_path):
    """TextRank gate query == pure-Python PageRank over the same token
    co-occurrence graph built by hand from the corpus text."""
    import __spark_entry__ as E
    from bert_namedentityrecognition_spark.oracle.graph import pagerank_int

    docs = [
        (0, "spark joins spark streams", "en", "s", 1),
        (1, "streams window spark", "en", "s", 1),
        (2, "solo", "en", "s", 1),  # single-token doc: no edges
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        r["token"]: r["rank_scaled"]
        for r in E.queries()["textrank_keywords"](spark, sf).collect()
    }
    # hand-build: consecutive kept tokens, a != b, distinct, symmetric
    pairs = set()
    for _, text, *_ in docs:
        t = [x for x in text.strip().split() if x]
        for a, b in zip(t, t[1:]):
            if a != b:
                pairs.add((a, b))
                pairs.add((b, a))
    vocab = {t: i + 1 for i, t in enumerate(sorted({x for _, tx, *_ in docs for x in tx.split()}))}
    ids = {(vocab[a], vocab[b]) for a, b in pairs}
    want_ids = pagerank_int(sorted(ids), iterations=6)
    want = {t: want_ids[i] for t, i in vocab.items() if i in want_ids}
    assert got == want
    assert "solo" not in got  # edgeless tokens are absent, both engines
    # hub token outranks the leaf: 'spark' touches everything
    assert got["spark"] > got["window"]


def test_bgp_match_hand_check(spark, sf_dir):
    """BGP join result == manual recomputation from the patterned triples."""
    import __spark_entry__ as E

    t = E._kg_triples_patterned(spark, sf_dir).collect()
    d = [(r["subj"], r["obj"], r["count"]) for r in t if r["pred"] == "DEGRADES"]
    s = [(r["subj"], r["obj"], r["count"]) for r in t if r["pred"] == "SPEEDS_UP"]
    want = {}
    for ds, do, dc in d:
        for ss, so, sc in s:
            if do == so and ds != ss:
                k = (ds, ss)
                objs, ev = want.get(k, (set(), 0))
                objs.add(do)
                want[k] = (objs, ev + dc + sc)
    got = {
        (r["a"], r["b"]): (r["n_shared_objs"], r["evidence"])
        for r in E.queries()["kg_bgp_match"](spark, sf_dir).collect()
    }
    assert got == {k: (len(o), e) for k, (o, e) in want.items()}
    assert got  # pattern live at the smallest sf


def test_community_profile_invariants(spark, sf_dir):
    """Leader belongs to its community and holds its max rank; member
    counts conserve the node total."""
    import __spark_entry__ as E
    from bert_namedentityrecognition_spark.operators.graph import (
        label_propagation,
        pagerank_integer,
    )

    sym = E._alias_graph(spark, sf_dir).localCheckpoint(eager=True)
    com = {r["node"]: r["community"] for r in label_propagation(sym, rounds=4).collect()}
    pr = {r["node"]: r["rank_scaled"] for r in pagerank_integer(sym, iterations=4).collect()}
    prof = E.queries()["kg_community_profile"](spark, sf_dir).collect()
    assert sum(r["n_members"] for r in prof) == len(com)
    for r in prof:
        assert com[r["leader"]] == r["community"]
        assert pr[r["leader"]] == r["max_rank"]


def test_fuse_records_hand_fixture(spark):
    from pyspark.sql.types import StringType

    from bert_namedentityrecognition_spark.operators.canonicalize import (
        fuse_records,
    )

    assign = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (9, 200)], ["doc_id", "cluster_id"]
    )
    rec_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    records = spark.createDataFrame(
        [
            (1, "web", "en", 10),
            (2, "web", "ja", 30),   # majority source=web
            (3, "feed", "en", 20),  # majority lang=en
            (9, "pdf", "de", 5),
        ],
        rec_schema,
    )
    out = {r["cluster_id"]: r for r in fuse_records(assign, records).collect()}
    r = out[100]
    assert (r["canonical_id"], r["n_merged"], r["max_n_chars"]) == (1, 3, 30)
    assert r["fused_source"] == "web" and r["fused_lang"] == "en"
    s = out[200]
    assert (s["canonical_id"], s["n_merged"], s["fused_source"]) == (9, 1, "pdf")


def test_fuse_records_tie_breaks_smallest(spark):
    from pyspark.sql.types import StringType

    from bert_namedentityrecognition_spark.operators.canonicalize import (
        fuse_records,
    )

    assign = spark.createDataFrame([(1, 7), (2, 7)], ["doc_id", "cluster_id"])
    rec_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    records = spark.createDataFrame(
        [(1, "zeta", "ja", 1), (2, "alpha", "en", 1)], rec_schema
    )
    r = fuse_records(assign, records).collect()[0]
    # 1-1 tie in both majority columns -> lexicographically smallest value
    assert r["fused_source"] == "alpha" and r["fused_lang"] == "en"


def test_record_fusion_gate_conservation(spark, sf_dir):
    import __spark_entry__ as E

    out = E.queries()["record_fusion"](spark, sf_dir).collect()
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    assert sum(r["n_merged"] for r in out) == n  # every doc fused exactly once
    assert any(r["n_merged"] > 1 for r in out)  # real merges live


def test_quotient_graph_conserves_edges(spark, sf_dir):
    """Quotient edge mass == undirected edge count; intra rows exist (a
    community's internal cohesion) and the quotient is far smaller than
    the graph."""
    import __spark_entry__ as E

    sym = E._alias_graph(spark, sf_dir)
    n_und = sym.filter(F.col("src") < F.col("dst")).count()
    rows = E.queries()["kg_quotient_graph"](spark, sf_dir).collect()
    assert sum(r["n_edges"] for r in rows) == n_und
    assert any(r["comm_a"] == r["comm_b"] for r in rows)
    assert len(rows) < n_und


def test_provenance_consistent_with_codoc_counts(spark, sf_dir):
    """n_docs equals the codoc count for each non-No-Symptoms triple, and
    first/last doc bracket correctly."""
    import __spark_entry__ as E

    prov = {
        (r["subj"], r["obj"]): r
        for r in E.queries()["kg_provenance_rollup"](spark, sf_dir).collect()
    }
    codoc = {
        (r["subj"], r["obj"]): r["count"]
        for r in E.queries()["kg_triples_codoc"](spark, sf_dir).collect()
        if r["obj"] != "No Symptoms"
    }
    assert set(prov) == set(codoc)
    for k, r in prov.items():
        assert r["n_docs"] == codoc[k]
        assert r["first_doc"] <= r["last_doc"]


def test_edge_confidence_sums_to_about_1e6(spark, sf_dir):
    """Per-subject conf_ppm sums land within the floor-division slack of
    10^6, and each edge's ppm is the exact integer formula."""
    import __spark_entry__ as E

    rows = E.queries()["kg_edge_confidence"](spark, sf_dir).collect()
    per = {}
    for r in rows:
        tot, s = per.get(r["subj"], (0, 0))
        per[r["subj"]] = (tot + r["count"], s + r["conf_ppm"])
    for subj, (tot, ppm_sum) in per.items():
        n_edges = sum(1 for r in rows if r["subj"] == subj)
        assert 1000000 - n_edges < ppm_sum <= 1000000
    for r in rows:
        assert r["conf_ppm"] == (1000000 * r["count"]) // per[r["subj"]][0]


def test_ann_recall_eval_composes_gated_queries(spark, sf_dir):
    """recall_ppm is the exact integer formula over the overlap of the two
    individually-gated ANN results, recomputed here from those queries."""
    import __spark_entry__ as E

    truth = {}
    for r in E.queries()["ann_cosine_topk"](spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in E.queries()["ann_ivf_topk"](spark, sf_dir).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {
        r["query_id"]: (r["n_overlap"], r["recall_ppm"])
        for r in E.queries()["ann_recall_eval"](spark, sf_dir).collect()
    }
    assert set(got) == set(truth)
    for q, (n, ppm) in got.items():
        assert n == len(truth[q] & approx.get(q, set()))
        assert ppm == (1000000 * n) // 5


def test_descendants_stats_tree_invariants(spark, sf_dir):
    import __spark_entry__ as E

    rows = {r["class_id"]: r for r in E.queries()["kg_descendants_stats"](spark, sf_dir).collect()}
    c = len(rows)
    root = rows[0]
    assert root["n_descendants"] == c - 1  # root subsumes every other class
    leaves = [cid for cid in rows if 3 * cid + 1 >= c]
    assert root["n_leaf_descendants"] == len(leaves)
    for cid in leaves:
        assert rows[cid]["n_descendants"] == 0
        assert rows[cid]["n_leaf_descendants"] == 0
    # each child's descendant set nests inside the parent's
    for cid in rows:
        if cid > 0:
            assert rows[(cid - 1) // 3]["n_descendants"] > rows[cid]["n_descendants"]


def test_disjointness_check_matches_python_replay(spark, sf_dir):
    """Violation count == a plain-Python replay of the double-typed
    entailment against the closure kernel."""
    import __spark_entry__ as E
    import duckdb

    from bert_namedentityrecognition_spark.oracle.graph import closure_pairs

    n = duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    c = max(13, n // 10)
    clo = closure_pairs([(k, (k - 1) // 3) for k in range(1, c)])
    anc = {}
    for node, a in clo:
        anc.setdefault(node, set()).add(a)
    viol = []
    for i in range(n):
        ancs = anc.get(i % c, {i % c}) | anc.get((i * 7 + 3) % c, {(i * 7 + 3) % c})
        if 1 in ancs and 2 in ancs:
            viol.append(i)
    r = E.queries()["kg_disjointness_check"](spark, sf_dir).collect()[0]
    assert r["n_violations"] == len(viol)
    assert r["first_violator"] == min(viol)
    assert r["n_entities"] == n and 0 < len(viol) < n
