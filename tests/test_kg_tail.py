"""The KG tail after the mention stage: normalize → triples → graph → sink.

- edge endpoint ids are value-deterministic when a dictionary key maps to
  several entity ids;
- degenerate inputs (no pages, nothing resolves, one vs four partitions, one
  url split across input partitions) give defined outputs whose triples
  equal the oracle kernels over the written mentions;
- ``normalize_mentions`` on its driver and distributed placements, then
  ``build_triples``, equal the oracle kernels on degenerate mentions
  (empty, all-null word, one vs four partitions, one url split across
  partitions, non-ASCII urls);
- the plans do each piece of work once: driver-built side tables are
  ``LocalTableScan``s, edges read the persisted triples, and the mentions
  sink has no shuffle.
- a warm pass generates no code: every class of the pass is still in the
  session's generated-code cache.
"""

import os
import re
import sys
import time

import pyarrow.parquet as pq
import pytest

from bert_namedentityrecognition_spark.operators.normalize import _RESOLVED_SCHEMA
from bert_namedentityrecognition_spark.oracle.ade import ade_pairs_from_lists
from bert_namedentityrecognition_spark.oracle.normalize import DictNormalizer
from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen
from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline, write_outputs
from bert_namedentityrecognition_spark.sources import fixtures

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TERM_TYPES = {"ロキソニン": "drug", "アスピリン": "drug", "頭痛": "symptom", "発熱": "symptom"}


def _dim_row(eid, surface, kind, canonical=None):
    return {"entity_id": eid, "surface": surface, "canonical": canonical or surface,
            "code": None, "kind": kind, "human_check": None}


DIM = [
    _dim_row("D1", "ロキソニン", "drug"),
    _dim_row("D2", "アスピリン", "drug"),
    _dim_row("S1", "頭痛", "symptom"),
    _dim_row("S2", "発熱", "symptom"),
]


def _pages(spark, rows):
    return spark.createDataFrame([(u, None, None, t, "ja") for u, t in rows], PAGE_SCHEMA)


def _written_mentions(mentions_dir):
    t = pq.read_table(mentions_dir, columns=["url", "type", "word"]).to_pydict()
    return list(zip(t["url"], t["type"], t["word"]))


def _oracle_resolve(dim_rows, kind, threshold=70.0):
    """word → (canonical, entity_id) by a per-kind top-1 fuzzy normalizer;
    the dimension row of a surface is its min entity id (``build_dim_index``)."""
    rows = sorted((r for r in dim_rows if r["kind"] == kind), key=lambda r: r["entity_id"])
    normalizer = DictNormalizer({r["surface"] for r in rows}, threshold=threshold)
    by_surface = {}
    for r in rows:
        by_surface.setdefault(han_to_zen(r["surface"]), (r["canonical"], r["entity_id"]))

    def resolve(word):
        surface, _ = normalizer.normalize(word)
        return by_surface[surface] if surface else ("", None)

    return resolve


def _oracle_triples(mentions, dim_rows, threshold=70.0):
    """Triples from (url, type, word) mentions with the pure-Python kernels:
    per-url (drug words, symptom words) lists, symptoms through the top-1
    fuzzy normalizer, pairing and counting by ``oracle/ade.py``. A null
    word is no mention."""
    docs = {}
    for url, typ, word in mentions:
        d = docs.setdefault(url, ([], []))
        if word is not None:
            (d[0] if typ == "drug" else d[1]).append(word)
    resolve = _oracle_resolve(dim_rows, "symptom", threshold)
    counts = ade_pairs_from_lists(
        [d for d, _ in docs.values()], [s for _, s in docs.values()],
        remove_duplicates=True, normalize=lambda word: resolve(word)[0],
    )
    return sorted((s, o, n) for (s, o), n in counts.items())


def _run_and_write(spark, pages, dim_rows, base):
    dim = fixtures.entity_dim_to_spark(spark, dim_rows)
    out = run_kg_pipeline(pages, dim, TERM_TYPES)
    write_outputs(out, base)
    read = {k: spark.read.parquet(f"{base}/{k}") for k in ("mentions", "triples", "nodes", "edges")}
    triples = sorted((r.subj, r.obj, r["count"]) for r in read["triples"].collect())
    assert triples == _oracle_triples(_written_mentions(f"{base}/mentions"), dim_rows)
    # every edge is a triple with ids attached
    edges = sorted((r.subj, r.obj, r["count"]) for r in read["edges"].collect())
    assert edges == triples
    out["mentions"].unpersist()
    return out, read, triples


@pytest.mark.parametrize("first,second", [(("D9", "S9"), ("D1", "S1")), (("D1", "S1"), ("D9", "S9"))])
@pytest.mark.parametrize("partitions", [1, 4])
def test_edge_endpoint_ids_take_min_entity_id(spark, partitions, first, second):
    """A surface (drug) and a canonical (symptom) listed under two entity
    ids resolve to the smaller id, whatever the dictionary's row order and
    partitioning — the value-deterministic rule of ``build_dim_index``."""
    rows = [
        _dim_row(first[0], "ロキソニン", "drug"),
        _dim_row(second[0], "ロキソニン", "drug"),
        _dim_row(first[1], "頭痛", "symptom"),
        _dim_row(second[1], "ずつう", "symptom", canonical="頭痛"),
    ]
    dim = fixtures.entity_dim_to_spark(spark, rows)
    dim = dim.coalesce(1) if partitions == 1 else dim.repartition(partitions)
    pages = _pages(spark, [("https://a", "ロキソニンを服用後、頭痛が出現した。")])
    out = run_kg_pipeline(pages, dim, TERM_TYPES, persist=False)
    edges = [(e.src_id, e.dst_id, e.subj, e.obj) for e in out["edges"].collect()]
    assert edges == [("D1", "S1", "ロキソニン", "頭痛")]


def test_empty_page_frame(spark, tmp_path):
    base = str(tmp_path / "kg")
    out, read, triples = _run_and_write(spark, _pages(spark, []), DIM, base)
    assert triples == []
    assert all(read[k].count() == 0 for k in read)
    # the empty resolved map keeps its schema: the normalized columns and
    # their types are the driver path's _RESOLVED_SCHEMA
    resolved = spark.createDataFrame([], _RESOLVED_SCHEMA).schema
    normalized = {f.name: f.dataType for f in out["normalized"].schema}
    for f in resolved:
        assert normalized[f.name] == f.dataType, f.name
    assert read["edges"].columns == ["src_id", "pred", "dst_id", "subj", "obj", "count"]


def test_no_surface_resolves(spark, tmp_path):
    """Every mention fails to resolve: symptoms drop out of the pairs, a
    drug-only page still pairs with No Symptoms, and no node exists."""
    dim = [_dim_row("X1", "zzzzz", "drug"), _dim_row("X2", "qqqqq", "symptom")]
    pages = _pages(spark, [
        ("https://a", "ロキソニンを服用後、頭痛が出現した。"),
        ("https://b", "アスピリンを飲んだ。"),
    ])
    out, read, triples = _run_and_write(spark, pages, dim, str(tmp_path / "kg"))
    assert triples == [("アスピリン", "No Symptoms", 1)]
    assert read["nodes"].count() == 0
    assert {r.method for r in out["normalized"].collect()} == {"fuzzy"}
    assert [(r.src_id, r.dst_id) for r in read["edges"].collect()] == [
        ("SURF:アスピリン", "SURF:No Symptoms")
    ]


def test_one_partition_equals_four(spark, tmp_path):
    rows = fixtures.generate_pages(40, seed=5)
    got = []
    for n in (1, 4):
        pages = fixtures.pages_to_spark(spark, rows).repartition(n)
        dim = fixtures.entity_dim_to_spark(spark)
        out = run_kg_pipeline(pages, dim, fixtures.pipeline_term_types())
        base = str(tmp_path / f"kg{n}")
        write_outputs(out, base)
        got.append({
            k: sorted(map(tuple, spark.read.parquet(f"{base}/{k}").collect()))
            for k in ("mentions", "triples", "nodes", "edges")
        })
        out["mentions"].unpersist()
    assert got[0] == got[1]
    assert got[0]["triples"] and got[0]["edges"]


def test_duplicate_url_split_across_partitions(spark, tmp_path):
    """One url's pages sit in two input partitions, so its mentions come
    from two tasks and land in two files; the pairing still treats them as
    one document, like the oracle over all its written mentions."""
    rows = [
        ("https://dup", "ロキソニンを服用後、頭痛が出現した。"),
        ("https://c", "アスピリンで発熱が治まった。"),
        ("https://dup", "アスピリンを飲んだら発熱した。"),
        ("https://d", "ロキソニンを飲んだ。"),
    ]
    rdd = spark.sparkContext.parallelize([(u, None, None, t, "ja") for u, t in rows], 2)
    pages = spark.createDataFrame(rdd, PAGE_SCHEMA)
    assert pages.rdd.glom().map(lambda p: [r.url for r in p]).collect() == [
        ["https://dup", "https://c"], ["https://dup", "https://d"]
    ]
    base = str(tmp_path / "kg")
    _, read, triples = _run_and_write(spark, pages, DIM, base)
    files = {
        f for f in os.listdir(f"{base}/mentions") if f.endswith(".parquet")
        if "https://dup" in pq.read_table(f"{base}/mentions/{f}").column("url").to_pylist()
    }
    assert len(files) == 2
    assert ("ロキソニン", "発熱", 1) in triples and ("アスピリン", "頭痛", 1) in triples


# --- the page stage against the layer path -------------------------------------

MATRIX_TERMS = {
    **TERM_TYPES,
    "ロキソプロフェン": "drug",
    "薬": "drug",  # one character: below the drug length floor
    "めまい": "symptom",  # no dimension row resolves it
}
MATRIX_DIM = DIM + [_dim_row("D3", "ロキソプロフェン", "drug")]
MATRIX_PAGES = [
    ("https://dup", "ロキソニンを服用後、頭痛が出現した。"),
    ("https://drug-only", "アスピリンを飲んだ。"),
    ("https://symptom-only", "頭痛がする。"),
    ("https://unresolved", "ロキソニンでめまいがした。"),
    ("https://one-char", "薬を飲んで発熱した。"),
    ("https://dup", "アスピリンを飲んだら発熱した。"),
    ("https://repeated", "ロキソニンで頭痛。ロキソニンでまた頭痛がして、発熱した。"),
    ("https://alias", "ロキソプロフェンで発熱した。"),
    ("https://empty", ""),
    ("https://null", None),
]
MATRIX_CASES = {
    "four_partitions": {},
    "one_partition": {"partitions": 1},
    "alias_edges": {"alias": True},
    "sentence_scope": {"scope": "sentence"},
    "salted": {"salt_buckets": 8},
    "no_persist": {"persist": False},
    "model": {"model": True},
}


@pytest.mark.parametrize("case", sorted(MATRIX_CASES))
def test_page_stage_equals_layer_path(spark, tmp_path, case):
    """``run_kg_pipeline`` + ``write_outputs`` write the rows of the layer
    path (``normalize_mentions`` → ``apply_alias_map`` → ``build_triples`` →
    ``build_graph`` over the mention stage): a url split across two input
    partitions, drug-only and symptom-only pages, an unresolved symptom, a
    one-character drug, repeated mentions, empty and null text."""
    from bert_namedentityrecognition_spark.operators.canonicalize import (
        apply_alias_map,
        canonical_alias_map,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        DictionaryStubModel,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.operators.normalize import normalize_mentions
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions
    from bert_namedentityrecognition_spark.operators.triples import build_graph, build_triples

    cfg = MATRIX_CASES[case]
    n = cfg.get("partitions", 4)
    rows = [(u, None, None, t, "ja") for u, t in MATRIX_PAGES]
    pages = spark.createDataFrame(spark.sparkContext.parallelize(rows, n), PAGE_SCHEMA)
    if n == 4:
        assert sum("https://dup" in {r.url for r in p} for p in pages.rdd.glom().collect()) == 2
    dim = fixtures.entity_dim_to_spark(spark, MATRIX_DIM)
    alias = (
        spark.createDataFrame([("ロキソプロフェン", "ロキソニン")], ["src", "dst"])
        if cfg.get("alias") else None
    )
    model = vocab = None
    if cfg.get("model"):
        vocab = label_vocab_for_types(["drug", "symptom"])
        model = DictionaryStubModel(MATRIX_TERMS, vocab)
    scope, salt = cfg.get("scope", "document"), cfg.get("salt_buckets", 0)

    out = run_kg_pipeline(
        pages, dim, MATRIX_TERMS, alias_edges=alias, scope=scope, salt_buckets=salt,
        persist=cfg.get("persist", True), model=model, label_vocab=vocab,
    )
    got_normalized = out["normalized"].collect()
    base = str(tmp_path / "kg")
    write_outputs(out, base)
    got = {k: spark.read.parquet(f"{base}/{k}").collect() for k in ("mentions", "triples", "nodes", "edges")}

    mentions = (
        ner_pages(pages, model, vocab) if model else extract_mentions(pages, MATRIX_TERMS)
    )
    normalized = normalize_mentions(mentions, dim)
    if alias is not None:
        normalized = apply_alias_map(normalized, canonical_alias_map(alias, dim), dim=dim)
    triples = build_triples(normalized, scope=scope, salt_buckets=salt)
    graph = build_graph(normalized, dim, triples)
    want = {"mentions": mentions, "triples": triples, **graph}

    def by_name(rows):
        return sorted((tuple(sorted(r.asDict().items())) for r in rows), key=repr)

    assert by_name(got_normalized) == by_name(normalized.collect())
    for k, df in want.items():
        assert by_name(got[k]) == by_name(df.collect()), k
    assert got["triples"] and got["nodes"]
    pairs = {(r.subj, r.obj) for r in got["triples"]}
    assert ("アスピリン", "No Symptoms") in pairs
    assert not [p for p in pairs if "薬" in p or "めまい" in p or "" in p]
    if alias is not None:
        assert ("ロキソニン", "発熱") in pairs


def test_pairing_strips_python_whitespace_after_raw_dedup(spark, tmp_path):
    """``ロキソニン`` and ``ロキソニン　`` (U+3000, what ``han_to_zen`` makes
    of an ASCII space, which Spark's one-argument ``trim`` keeps) are two
    raw surfaces of one document: deduplicated raw, then stripped, they
    count twice, as in the reference. ``build_triples``, the pipeline and
    ``ade_pairs_from_lists(remove_duplicates=True)`` agree."""
    from bert_namedentityrecognition_spark.operators.triples import _WHITESPACE, build_triples

    assert set(_WHITESPACE) == {chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()}
    tt = {"ロキソニン": "drug", "ロキソニン ": "drug", "頭痛": "symptom"}
    text = "ロキソニン を飲んで頭痛がした。ロキソニンを再開した。"
    out = run_kg_pipeline(_pages(spark, [("https://ws", text)]), fixtures.entity_dim_to_spark(spark, DIM), tt)
    words = sorted(r.word for r in out["mentions"].collect() if r.type == "drug")
    assert words == ["ロキソニン", "ロキソニン\u3000"]
    pipeline = {(r.subj, r.obj): r["count"] for r in out["triples"].collect()}
    write_outputs(out, str(tmp_path / "kg"))

    mentions = spark.createDataFrame(
        [("u", 0, "drug", w, None) for w in ["ロキソニン", "ロキソニン\u3000", "\tロキソニン "]]
        + [("u", 0, "symptom", "頭痛", "頭痛"), ("u", 1, "drug", "ロキソニン", None)],
        "url string, sent_id int, type string, word string, canonical string",
    )
    layer = {(r.subj, r.obj): r["count"] for r in build_triples(mentions).collect()}
    oracle = ade_pairs_from_lists([words], [["頭痛"]], remove_duplicates=True)
    assert pipeline == oracle == {("ロキソニン", "頭痛"): 2}
    assert layer == ade_pairs_from_lists(
        [["ロキソニン", "ロキソニン\u3000", "\tロキソニン ", "ロキソニン"]], [["頭痛"]],
        remove_duplicates=True,
    ) == {("ロキソニン", "頭痛"): 3}


# --- normalize_mentions and build_triples on degenerate mentions --------------

MENTION_SCHEMA = "url string, sent_id int, type string, word string"
MENTIONS = [
    ("https://a", 0, "drug", "ロキソニン"),
    ("https://a", 0, "symptom", "頭痛"),
    ("https://a", 1, "symptom", "頭痛い"),  # fuzzy hit
    ("https://b", 0, "drug", "ﾛｷｿﾆﾝ"),  # half-width: exact after han_to_zen
    ("https://b", 0, "symptom", "ｚｚ"),  # resolves to nothing
    ("https://c", 0, "drug", "アスピリン"),  # no symptoms
    ("https://d", 0, "symptom", "発熱"),  # no drug
]
MENTION_CASES = {
    "empty": ([], 1),
    "all_null_word": ([(u, i, t, None) for u, i, t, _ in MENTIONS], 1),
    "one_partition": (MENTIONS, 1),
    "four_partitions": (MENTIONS, 4),
    # https://a's mentions open both of the two input partitions
    "duplicate_url_split": ([MENTIONS[i] for i in (0, 3, 4, 1, 2, 5, 6)], 2),
    "non_ascii_url": (
        [("https://例え.テスト/頭痛?q=ﾛｷｿﾆﾝ" + u[-1], i, t, w) for u, i, t, w in MENTIONS],
        4,
    ),
}


@pytest.mark.parametrize("case", sorted(MENTION_CASES))
@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_normalize_and_triples_on_degenerate_mentions(spark, monkeypatch, path, case):
    """``normalize_mentions`` on both placements, then ``build_triples``,
    equal the oracle kernels: a per-kind ``DictNormalizer`` for each
    mention and ``ade_pairs_from_lists`` for the triples."""
    from bert_namedentityrecognition_spark.operators import normalize
    from bert_namedentityrecognition_spark.operators.triples import build_triples

    if path == "distributed":
        monkeypatch.setattr(normalize, "MAX_DRIVER_SURFACES", -1)
    rows, partitions = MENTION_CASES[case]
    mentions = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions), MENTION_SCHEMA
    )
    if case == "duplicate_url_split":
        assert [
            sorted({r.url for r in p})
            for p in mentions.rdd.glom().collect()
        ] == [["https://a", "https://b"], ["https://a", "https://c", "https://d"]]
    dim = fixtures.entity_dim_to_spark(spark, DIM)

    normalized = normalize.normalize_mentions(mentions, dim)
    resolvers = {kind: _oracle_resolve(DIM, kind) for kind in ("drug", "symptom")}
    want = sorted(
        ((u, i, t, w, *(resolvers[t](w) if w is not None else (None, None)))
         for u, i, t, w in rows),
        key=repr,
    )
    got = sorted(
        ((r.url, r.sent_id, r.type, r.word, r.canonical, r.entity_id)
         for r in normalized.collect()),
        key=repr,
    )
    assert got == want
    if any(w is not None for *_, w in rows):  # AQE drops a side that turns out empty
        stages = [n for n, _ in _plan_nodes(_executed(normalized)) if n == "MapInPandasExec"]
        assert len(stages) == (path == "distributed")

    triples = sorted((r.subj, r.obj, r["count"]) for r in build_triples(normalized).collect())
    assert triples == _oracle_triples([(u, t, w) for u, _, t, w in rows], DIM)
    if case in ("one_partition", "four_partitions", "duplicate_url_split"):
        assert triples == [
            # 頭痛 and 頭痛い are two raw symptoms of one url: counted twice
            ("アスピリン", "No Symptoms", 1), ("ロキソニン", "頭痛", 2)
        ]


# --- plan shape ---------------------------------------------------------------


def _plan_nodes(plan):
    """Physical plan nodes of an executed plan, through adaptive wrappers
    and query stages, but not into the plans cached relations were built
    from (an ``InMemoryTableScan`` is a leaf here)."""
    name = plan.getClass().getSimpleName()
    yield name, plan
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _scans(nodes, node_class):
    """Sorted output column names of each node of ``node_class``."""
    return [sorted(a.name() for a in _seq(p.output())) for n, p in nodes if n == node_class]


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _executed(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan()


_PYTHON_NODES = ("MapInArrowExec", "MapInPandasExec", "ArrowEvalPythonExec", "BatchEvalPythonExec")


def _cached_plans(nodes):
    """The plans the cached relations scanned by ``nodes`` were built from."""
    return [p.relation().cachedPlan() for n, p in nodes if n == "InMemoryTableScanExec"]


def test_tail_plans_do_each_piece_of_work_once(spark, tmp_path):
    """One Python node per pass, the page stage, computed once under the
    cache; every table reads that cache with no Python node of its own; no
    side table is a Python-RDD scan; no pass job collects distinct
    surfaces; the mentions sink has no shuffle; the edge endpoint maps are
    local tables; and the sink releases every cache the pass made."""
    spark.catalog.clearCache()
    src = str(tmp_path / "pages")
    fixtures.pages_to_spark(spark, fixtures.generate_pages(60, seed=3)).write.parquet(src)
    pages = spark.read.parquet(src)
    out = run_kg_pipeline(pages, fixtures.entity_dim_to_spark(spark), fixtures.pipeline_term_types())

    plans = {k: _executed(out[k]) for k in ("mentions", "triples", "nodes", "edges")}
    page_plans = []
    for name, plan in plans.items():
        # also the plans the cached relations were built from
        assert "Scan ExistingRDD" not in plan.toString(), name
        nodes = list(_plan_nodes(plan))
        assert not [n for n, _ in nodes if n in _PYTHON_NODES], name
        cached = _cached_plans(nodes)
        assert cached, name
        page_plans += [c for c in cached if "InMemoryTableScan" not in c.toString()]
    # the page stage is the one Python node; triples and edges reach it
    # only through the cached page frame
    for plan in page_plans:
        assert [n for n, _ in _plan_nodes(plan) if n in _PYTHON_NODES] == ["MapInArrowExec"]
    assert len({p.toString() for p in page_plans}) == 1

    # edges read the persisted triples, and the endpoint maps are local
    # tables built on the driver: no aggregation of the dimension
    edge_nodes = list(_plan_nodes(plans["edges"]))
    assert _scans(edge_nodes, "InMemoryTableScanExec") == [["count", "obj", "pred", "subj"]]
    assert sorted(_scans(edge_nodes, "LocalTableScanExec")) == [["_dst", "_k"], ["_k", "_src"]]
    assert not [n for n, _ in edge_nodes if "Aggregate" in n]

    # the pass's own executions, from the SQL status store (filled
    # asynchronously by the listener bus)
    store = spark._jsparkSession.sharedState().statusStore()
    seen = {e.executionId() for e in _seq(store.executionsList())}
    base = str(tmp_path / "kg")
    write_outputs(out, base)
    deadline = time.monotonic() + 10
    while True:
        executions = [
            e.physicalPlanDescription() for e in _seq(store.executionsList())
            if e.executionId() not in seen
        ]
        writes = [p for p in executions if f"{base}/" in p]
        if len(writes) == 4 or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    assert len(writes) == 4, writes
    assert not [p for p in executions if re.search(r"keys=\[word#\d+, type#\d+\]", p)]
    mention_writes = [p for p in writes if f"{base}/mentions," in p]
    assert len(mention_writes) == 1, mention_writes
    assert "InMemoryTableScan" in mention_writes[0]
    assert "Exchange" not in mention_writes[0], mention_writes[0]
    # the sink released every cache the pass made
    assert not out["page_kg"].is_cached and not out["triples"].is_cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# a second identical pass of run_kg_pipeline + write_outputs over
# generate_pages(60, seed=3): one job for the parquet read's footer scan,
# one for the mentions write, four for the triples write (url merge, count,
# cache), three each for the nodes and edges writes
WARM_PASS_JOBS = 12


def test_warm_pass_job_count(spark, tmp_path):
    """The job count of a warm pass is pinned: bringing back the
    distinct-surface collect or a shuffle of the mention stream adds jobs."""
    src = str(tmp_path / "pages")
    fixtures.pages_to_spark(spark, fixtures.generate_pages(60, seed=3)).write.parquet(src)
    dim = fixtures.entity_dim_to_spark(spark)
    sc = spark.sparkContext

    def pass_jobs(group):
        sc.setJobGroup(group, group)
        try:
            out = run_kg_pipeline(spark.read.parquet(src), dim, fixtures.pipeline_term_types())
            write_outputs(out, str(tmp_path / group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pass_jobs("kg-job-count-1")
    assert pass_jobs("kg-job-count-2") == WARM_PASS_JOBS


def _codegen_compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_no_code(spark, tmp_path):
    """A second identical pass finds every generated class in the cache.
    Spark's default cache (100 classes in 4 LRU segments) is about one
    pass, so a warm pass recompiled some of its classes in some processes."""
    src = str(tmp_path / "pages")
    fixtures.pages_to_spark(spark, fixtures.generate_pages(60, seed=5)).write.parquet(src)
    dim = fixtures.entity_dim_to_spark(spark)

    def one_pass(base):
        out = run_kg_pipeline(spark.read.parquet(src), dim, fixtures.pipeline_term_types())
        write_outputs(out, base)
        out["mentions"].unpersist()

    one_pass(str(tmp_path / "kg1"))
    before = _codegen_compiles(spark)
    one_pass(str(tmp_path / "kg2"))
    assert _codegen_compiles(spark) == before
