"""oici_fuzzy_chain — the distributed OICI exact→fuzzy→recurse normalizer
vs the pure-Python kernel and the driver-gate SQL twin."""

import duckdb
import pytest


def test_oici_gate_matches_oracle(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    df = entrymod.queries()["oici_fuzzy_chain"](spark, sf)
    spark_rows = {tuple(r) for r in df.collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    duck_rows = set(
        map(tuple, con.sql(entrymod.oracle_sql()["oici_fuzzy_chain"]).fetchall())
    )
    assert spark_rows == duck_rows
    assert df.columns == ["term", "normalized", "score", "method", "n"]


def test_distributed_oici_equals_kernel_per_term(spark):
    """Every term's distributed result must equal
    ExactThenFuzzyNormalizer.normalize — including the [AMB]-after-fuzzy
    case returning the matched KEY and the min-key tie-break."""
    import __spark_entry__ as entrymod
    from bert_namedentityrecognition_spark.operators.normalize import (
        oici_normalize_surfaces,
    )
    from bert_namedentityrecognition_spark.oracle.normalize import (
        ExactThenFuzzyNormalizer,
    )

    mp = dict(entrymod._OICI_MAP)
    kernel = ExactThenFuzzyNormalizer(mp, threshold=60)
    mapping = spark.createDataFrame(
        list(entrymod._OICI_MAP), "key string, checked string"
    )
    terms = spark.createDataFrame(
        [(t,) for t in entrymod._OICI_TERMS], "term string"
    )
    got = {
        r.term: r.normalized
        for r in oici_normalize_surfaces(terms, mapping).collect()
    }
    for t in entrymod._OICI_TERMS:
        assert got[t] == kernel.normalize(t), t
    assert got["動悸症状"] == "動悸症"  # [AMB] chain returns the KEY
    assert got["痛症"] == "腹痛"  # equal-score tie → min key


def test_oici_open_dictionary_fails_loudly(spark):
    """Keys not closed under han_to_zen must raise the named error (the
    reference recurses forever here), mirroring the kernel's guard."""
    from bert_namedentityrecognition_spark.operators.normalize import (
        oici_normalize_surfaces,
    )

    mapping = spark.createDataFrame(
        [("ﾛｷｿﾆﾝ", "ロキソニン")], "key string, checked string"
    )
    terms = spark.createDataFrame([("ロキソ",)], "term string")
    with pytest.raises(ValueError, match="han_to_zen"):
        oici_normalize_surfaces(terms, mapping)


def test_oici_plan_runs_one_python_node(spark, sf_dir):
    """han_to_zen runs only in the closure check, an action of its own: the
    fuzzy stage reads the checked keys as they are, so the scorer is the
    query's one Python node."""
    import __spark_entry__ as entrymod
    from tests.test_warc_text import _python_nodes

    df = entrymod.queries()["oici_fuzzy_chain"](spark, sf_dir)
    assert _python_nodes(df) == [("ArrowEvalPythonExec", ["indel_ratio_udf"])]
