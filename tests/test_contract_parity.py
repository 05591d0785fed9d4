"""Driver-contract hygiene: the zero-rows-only claim is structural, not
anecdotal — every queries() entry must carry an oracle_sql() twin, and
vice versa, so a new query can never silently ship ungated."""

import ast
import inspect

import __spark_entry__ as entrymod


def test_every_query_has_an_exact_oracle_and_no_orphans():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))


def test_oracle_sql_strings_are_select_statements():
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_queries_are_callables():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name


# one query per operator family, all inside the first 50 registry rows (a
# gate that checks only a prefix must still reach the hard operators)
SENTINELS = (
    "ner_model_mentions",
    "streaming_windowed_triples",
    "kg_entity_pagerank",
    "kg_kcore",
    "kg_graph_coloring",
    "ann_ivf_topk",
    "ann_recall_eval",
    "bpe_merge_table",
    "corpus_curation_e2e",
    "raw_corpus_scans",
    "oici_fuzzy_chain",
    "relaxed_metrics",
    "kg_e2e_triples",
    "warc_ingest_mentions",
    "meddra_two_hop_normalize",
    "q1_pricing_summary",
)


def test_sentinel_prefix_covers_every_family():
    prefix = list(entrymod.queries())[:50]
    assert [n for n in SENTINELS if n not in prefix] == []


def test_bench_queries_are_registered():
    import bench

    q = entrymod.queries()
    assert [n for n in [*bench.HEADLINE, "corpus_curation_e2e"] if n not in q] == []


def _module_reads(node):
    """Module-level names a top-level statement reads: loads, minus a
    function's parameters and locals, plus its ``global`` names."""
    loads = {
        n.id for n in ast.walk(node)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    if not isinstance(node, ast.FunctionDef):
        return loads
    local = {
        n.id for n in ast.walk(node)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    }
    local |= {a.arg for a in ast.walk(node) if isinstance(a, ast.arg)}
    glob = {g for n in ast.walk(node) if isinstance(n, ast.Global) for g in n.names}
    return (loads - local) | glob


def test_every_module_helper_is_reachable_from_the_registry_or_entry():
    tree = ast.parse(inspect.getsource(entrymod))
    defs = {}
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
            defs[st.name] = st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        defs[n.id] = st
    seen, todo = set(), ["_REGISTRY", "entry"]
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        todo.extend(_module_reads(defs[name]))
    orphans = sorted(set(defs) - seen - {"queries", "oracle_sql"})
    assert orphans == []
