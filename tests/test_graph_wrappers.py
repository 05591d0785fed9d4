"""The 14 iterative graph operators that share a loop kernel in
``operators/graph.py`` (seeded BFS, changed-frontier relaxation, integer
PageRank, seed-pair Brandes join) against plain-Python references — direct
checks for the operators otherwise covered only through a registry query,
plus one degenerate-input matrix run across all 14."""

import itertools
import random
from collections import defaultdict

import pytest

from bert_namedentityrecognition_spark.operators import graph as G
from bert_namedentityrecognition_spark.oracle import graph as O


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def _random_und(n, m, seed):
    rng = random.Random(seed)
    seen = set()
    while len(seen) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return sorted(seen)


def _widest_brute(wedges, seeds, rounds, source_cap):
    """Max over every walk of <= ``rounds`` edges from a seed of the walk's
    minimum edge weight, by explicit walk enumeration."""
    out = defaultdict(list)
    for a, b, w in wedges:
        out[a].append((b, w))
    best = {}

    def walk(v, cap, hops):
        if cap > best.get(v, -1):
            best[v] = cap
        if hops == rounds:
            return
        for b, w in out.get(v, ()):
            walk(b, min(cap, w), hops + 1)

    for s in set(seeds):
        walk(s, source_cap, 0)
    return best


def _frame(spark, rows, schema, parts=None):
    df = spark.createDataFrame(rows, schema)
    return df.repartition(parts) if parts else df


def _seeds(spark, seeds):
    return spark.createDataFrame([(s,) for s in seeds], "node long")


@pytest.mark.parametrize("seed", [3, 17])
def test_widest_path_matches_brute_force(spark, seed):
    rng = random.Random(seed)
    edges = sorted(
        {(rng.randrange(14), rng.randrange(14)) for _ in range(30)}
    )
    wedges = [(a, b, rng.randrange(1, 40)) for a, b in edges]
    seeds = [0, 5]
    cap = 1_000
    df = spark.createDataFrame(wedges, ["src", "dst", "weight"])
    got = {
        r["node"]: r["cap"]
        for r in G.widest_path_bounded(
            df, _seeds(spark, seeds), rounds=4, source_cap=cap
        ).collect()
    }
    assert got == _widest_brute(wedges, seeds, 4, cap)
    assert any(v < cap for v in got.values())  # a bottleneck actually bit


def test_betweenness_and_eccentricity_match_kernels(spark):
    directed = _sym(_random_und(30, 55, seed=23))
    seeds = [0, 4, 11, 19]
    df = spark.createDataFrame(directed, ["src", "dst"])
    sdf = _seeds(spark, seeds)
    got = {
        r["node"]: (r["betweenness_ppm"], r["n_pairs"])
        for r in G.betweenness_ppm_df(df, sdf, max_hops=5).collect()
    }
    assert got == O.betweenness_ppm(directed, seeds, max_hops=5)
    assert got  # some pair is mediated
    ecc = {
        r["seed"]: (r["ecc"], r["n_reached"], r["sum_sigma"])
        for r in G.eccentricity_bounded_df(df, sdf, max_hops=5).collect()
    }
    assert ecc == O.eccentricity_bounded(directed, seeds, max_hops=5)


def test_seeded_sigma_matches_per_seed_path_counts(spark):
    directed = _sym(_random_und(25, 45, seed=29))
    seeds = [1, 8, 20]
    got = defaultdict(dict)
    for r in G.seeded_sigma_df(
        spark.createDataFrame(directed, ["src", "dst"]),
        _seeds(spark, seeds),
        max_hops=4,
    ).collect():
        got[r["seed"]][r["node"]] = (r["dist"], r["sigma"])
    for s in seeds:
        assert got[s] == O.bfs_path_counts(directed, [s], 4)


# ---------------------------------------------------------------------------
# Degenerate-input matrix: every operator on every case vs its reference.

_BASE = _sym(_random_und(10, 14, seed=5))
_SEEDS = [0, 6, 8]
_HOPS = 3


def _w(a, b):
    return (a * 7 + b * 3) % 5 + 1


def _t(a, b):
    return (a + 2 * b) % 6


def _case(name):
    """``(edges, seeds, hops, parts)`` for one degenerate case."""
    edges, seeds, hops, parts = list(_BASE), list(_SEEDS), _HOPS, None
    if name == "empty_seeds":
        seeds = []
    elif name == "absent_seed":
        seeds = [0, 999]
    elif name == "self_loop":
        edges += [(3, 3)]
    elif name == "duplicate_edges":
        edges += _BASE[:4] + _BASE[len(_BASE) // 2:][:4]
    elif name == "zero_hops":
        hops = 0
    elif name == "one_partition":
        parts = 1
    elif name == "four_partitions":
        parts = 4
    return edges, seeds, hops, parts


def _pr_pred_seeds(seeds):
    """PPR seeds as a ``seed_pred`` template plus the equivalent seed list:
    no seeds ⇒ a predicate true for no node."""
    if not seeds:
        return "{node} < 0", []
    return "{node} IN (" + ", ".join(map(str, seeds)) + ")", seeds


def _table(df, key, *vals):
    """Rows of ``df`` as ``{key: value}``; a tuple key or value when several
    columns are named."""
    def pick(r, cols):
        return r[cols] if isinstance(cols, str) else tuple(r[c] for c in cols)

    return {pick(r, key): pick(r, vals[0] if len(vals) == 1 else vals)
            for r in df.collect()}


def _run(spark, op, edges, seeds, hops, parts):
    """Spark result of ``op`` as a plain dict, and the reference dict."""
    e2 = _frame(spark, edges, ["src", "dst"], parts)
    sd = _seeds(spark, seeds)
    we = [(a, b, _w(a, b)) for a, b in edges]
    w3 = _frame(spark, we, ["src", "dst", "weight"], parts)
    if op == "pagerank_integer":
        got = G.pagerank_integer(e2, iterations=hops)
        return _table(got, "node", "rank_scaled"), O.pagerank_int(edges, hops)
    if op == "weighted_pagerank_integer":
        got = G.weighted_pagerank_integer(w3, iterations=hops, weight="weight")
        return _table(got, "node", "rank_scaled"), O.wpagerank_int(we, hops)
    if op == "personalized_pagerank_integer":
        pred, ss = _pr_pred_seeds(seeds)
        got = G.personalized_pagerank_integer(e2, pred, iterations=hops)
        return _table(got, "node", "rank_scaled"), O.ppr_int(edges, ss, hops)
    if op == "bfs_levels_df":
        got = G.bfs_levels_df(e2, sd, hops)
        return _table(got, "node", "dist"), O.bfs_levels(edges, seeds, hops)
    if op == "bfs_path_counts_df":
        got = _table(G.bfs_path_counts_df(e2, sd, hops), "node", "dist", "sigma")
        return got, O.bfs_path_counts(edges, seeds, hops)
    if op == "nearest_seed_df":
        got = _table(G.nearest_seed_df(e2, sd, hops), "node", "dist", "seed")
        return got, O.bfs_nearest_seed(edges, seeds, hops)
    if op == "seeded_sigma_df":
        got = G.seeded_sigma_df(e2, sd, hops)
        want = {
            (s, v): dv
            for s in set(seeds)
            for v, dv in O.bfs_path_counts(edges, [s], hops).items()
        }
        return _table(got, ("seed", "node"), "dist", "sigma"), want
    if op == "harmonic_centrality_df":
        got = _table(G.harmonic_centrality_df(e2, sd, hops), "seed", "h_scaled")
        return got, O.harmonic_centrality(edges, seeds, hops)
    if op == "closeness_profile_df":
        got = G.closeness_profile_df(e2, sd, hops)
        want = {
            s: (n, d, 1_000_000 * n // d if d else 0)
            for s, (n, d) in O.closeness_profile(edges, seeds, hops).items()
        }
        return _table(got, "seed", "n_reached", "sum_dist", "closeness_ppm"), want
    if op == "sssp_bellman_ford":
        got = _table(G.sssp_bellman_ford(w3, sd, hops), "node", "dist")
        return got, O.sssp_weighted(we, seeds, hops)
    if op == "temporal_reachability_df":
        te = [(a, b, _t(a, b)) for a, b in edges]
        got = G.temporal_reachability_df(
            _frame(spark, te, ["src", "dst", "t"], parts), sd, hops
        )
        return _table(got, "node", "arrival"), O.temporal_reachability(te, seeds, hops)
    if op == "widest_path_bounded":
        got = G.widest_path_bounded(w3, sd, hops, source_cap=100)
        return _table(got, "node", "cap"), _widest_brute(we, seeds, hops, 100)
    if op == "stress_centrality_df":
        got = G.stress_centrality_df(e2, sd, hops)
        want = O.stress_centrality(edges, seeds, hops)
        return _table(got, "node", "stress", "n_pairs"), want
    if op == "betweenness_ppm_df":
        got = G.betweenness_ppm_df(e2, sd, hops)
        want = O.betweenness_ppm(edges, seeds, hops)
        return _table(got, "node", "betweenness_ppm", "n_pairs"), want
    raise AssertionError(op)


_OPS = [
    "pagerank_integer",
    "weighted_pagerank_integer",
    "personalized_pagerank_integer",
    "bfs_levels_df",
    "bfs_path_counts_df",
    "nearest_seed_df",
    "seeded_sigma_df",
    "harmonic_centrality_df",
    "closeness_profile_df",
    "sssp_bellman_ford",
    "temporal_reachability_df",
    "widest_path_bounded",
    "stress_centrality_df",
    "betweenness_ppm_df",
]
_CASES = [
    "empty_seeds",
    "absent_seed",
    "self_loop",
    "duplicate_edges",
    "zero_hops",
    "one_partition",
    "four_partitions",
]


@pytest.mark.parametrize("case", _CASES)
def test_degenerate_inputs_match_references(spark, case):
    edges, seeds, hops, parts = _case(case)
    for op in _OPS:
        got, want = _run(spark, op, edges, seeds, hops, parts)
        assert got == want, (case, op)


def test_degenerate_cases_are_not_vacuous():
    # the base graph reaches past the seeds and a seed pair is mediated, so
    # every case above compares non-trivial tables
    edges, seeds, hops, _ = _case("")
    assert len(O.bfs_levels(edges, seeds, hops)) > len(seeds)
    assert O.stress_centrality(edges, seeds, hops)
    assert len(set(itertools.chain.from_iterable(edges))) == 10
