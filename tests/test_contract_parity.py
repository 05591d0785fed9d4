"""Driver-contract hygiene: the zero-rows-only claim is structural, not
anecdotal — every queries() entry must carry an oracle_sql() twin, and
vice versa, so a new query can never silently ship ungated."""

import ast
import inspect
import re
from pathlib import Path

import __spark_entry__ as entrymod

REPO = Path(entrymod.__file__).resolve().parent
PKG = "bert_namedentityrecognition_spark"


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


def _entry_defs():
    """{module-level name: the statement binding it} of the entry module."""
    defs = {}
    for st in ast.parse(inspect.getsource(entrymod)).body:
        if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
            defs[st.name] = st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        defs[n.id] = st
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            for a in st.names:
                defs[(a.asname or a.name).split(".")[0]] = st
    return defs


def _registry_reach(defs):
    """Names the registry rows and ``entry`` read, transitively."""
    seen, todo = set(), ["_REGISTRY", "entry"]
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        todo.extend(_module_reads(defs[name]))
    return seen


def test_every_module_helper_is_reachable_from_the_registry_or_entry():
    defs = _entry_defs()
    imports = {n for n, st in defs.items() if isinstance(st, (ast.Import, ast.ImportFrom))}
    orphans = sorted(set(defs) - _registry_reach(defs) - {"queries", "oracle_sql"} - imports)
    assert orphans == []


# --- every package module serves the engine -------------------------------------


def _package_modules():
    """{dotted name: path} of every module of the package."""
    out = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return out


def _imports(node, current, modules):
    """Package modules the import statements under ``node`` load: each
    target, its parent packages, and the submodules a from-import names.
    ``current`` is the dotted name of the module being read ('' outside
    the package), for relative imports."""
    out = set()

    def add(name):
        parts = name.split(".")
        out.update(q for q in (".".join(parts[:i]) for i in range(1, len(parts) + 1)) if q in modules)

    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                add(a.name)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                pkg = current.split(".")
                if modules[current].name != "__init__.py":
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - n.level + 1]
                base = ".".join(pkg + ([n.module] if n.module else []))
            add(base)
            for a in n.names:
                add(f"{base}.{a.name}")
    return out


def _closure(start, graph):
    seen, todo = set(), list(start)
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(graph[m])
    return seen


def test_every_package_module_is_reached():
    """The operator-surface rule: a package module ships only if the
    scripts, ``bench.py`` or ``perfbench/`` reach it, or a gated query does
    (its registry row, through the entry module's helpers). Reference
    oracle kernels (``oracle/``, ``plans/oracle_pipeline.py``) may instead
    be reached by a test alone."""
    modules = _package_modules()
    graph = {m: _imports(ast.parse(p.read_text()), m, modules) for m, p in modules.items()}

    def file_imports(paths):
        return set().union(*(_imports(ast.parse(p.read_text()), "", modules) for p in paths))

    tools = [*(REPO / "scripts").glob("*.py"), REPO / "bench.py", *(REPO / "perfbench").glob("*.py")]
    defs = _entry_defs()
    registry = set().union(*(_imports(defs[n], "", modules) for n in _registry_reach(defs)))
    tested = {
        m for m in file_imports((REPO / "tests").glob("*.py"))
        if m.startswith(f"{PKG}.oracle") or m == f"{PKG}.plans.oracle_pipeline"
    }
    reached = _closure(file_imports(tools) | registry | tested, graph)
    assert sorted(set(modules) - reached) == []


def test_docs_state_the_registry_size():
    """README.md and CLAUDE.md rule 14 quote the number of gated queries."""
    n = len(entrymod.queries())
    readme = (REPO / "README.md").read_text()
    claude = (REPO / "CLAUDE.md").read_text()
    assert re.findall(r"all (\d+) driver queries", readme) == [str(n)]
    assert re.findall(r"registry's \*\*(\d+) queries\*\*", readme) == [str(n)]
    assert re.findall(r"Driver contract: (\d+) queries", claude) == [str(n)]
