"""Session-8 operator invariants: grid betweenness and the Boruvka MST
kernel, each re-derived independently in plain Python at gate parameters
(sf0.001 fixture sizes are plain-Python tractable)."""

import duckdb

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _n_events():
    con = duckdb.connect()
    return con.execute(
        f"SELECT count(*) FROM '{SF}/events.parquet'"
    ).fetchone()[0]


# ---------------------------------------------------------------- graph ops


def _grid_edges(n):
    ng = (n // 32) * 32
    e = [(i, i + 1) for i in range(ng) if i % 32 != 31 and i + 1 < ng]
    e += [(i, i + 32) for i in range(ng) if i + 32 < ng]
    return e + [(b, a) for a, b in e], ng  # kernels expect symmetric edges


def test_betweenness_ppm_matches_kernel(spark):
    from bert_namedentityrecognition_spark.oracle.graph import (
        betweenness_ppm,
        bfs_path_counts,
    )

    n = _n_events()
    edges, ng = _grid_edges(n)
    seeds = [
        i for i in range(ng) if (i // 32) % 4 == 0 and (i % 32) % 4 == 0
    ]
    want = betweenness_ppm(edges, seeds, max_hops=8)
    got = {
        r["node"]: (r["betweenness_ppm"], r["n_pairs"])
        for r in E.queries()["kg_betweenness_ppm"](spark, SF).collect()
    }
    assert got == want and len(got) > 0
    # the sigma-ratio division path is live: some pair has sigma_st > 1,
    # so some per-pair term is NOT a multiple of 1e6 (truncation engaged)
    assert any(b % 1000000 != 0 for b, _ in got.values())
    # diagonal seed pairs at 8 hops have sigma_st = C(8,4) = 70
    s, t = seeds[0], seeds[0] + 4 * 32 + 4
    assert bfs_path_counts(edges, [s], 8)[t] == (8, 70)


def _msf_edges(n):
    e = []
    for i in range(n):
        if (i // 8) * 8 + 7 >= n:
            continue
        wb = (i * 2654435761) % 2147483648
        if i % 8 != 7:
            e.append((i, i + 1, wb * 2))
        if i % 8 in (0, 2, 4):
            e.append((i, i + 2, wb * 2 + 1))
    return e


def _kruskal_forest(edges):
    # independent MSF: with distinct weights the forest is unique, so a
    # textbook Kruskal must agree with the Boruvka replay edge-for-edge
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = {}
    for u, v, w in sorted(edges, key=lambda t: t[2]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest[(min(u, v), max(u, v))] = w
    return forest


def test_boruvka_kernel_equals_kruskal():
    from bert_namedentityrecognition_spark.oracle.graph import (
        boruvka_msf_kernel,
    )

    edges = _msf_edges(_n_events())
    forest, comp = boruvka_msf_kernel(edges, max_rounds=4, doublings=3)
    assert forest == _kruskal_forest(edges)
    # each full 8-node block contributes a 7-edge spanning tree
    n_blocks = len({u // 8 for u, v in forest})
    assert len(forest) == 7 * n_blocks > 0
    # one component label per block, shared by all 8 members
    for u in list(comp)[:64]:
        assert comp[u] // 8 == u // 8


def test_boruvka_rounds_bound_holds():
    # components halve per round, so ceil(log2(8)) = 3 rounds suffice for
    # 8-node blocks at ANY n (multi-way merges often finish in 2) — this
    # is what makes the static 4-round SQL unroll exact at every scale
    # factor; and the loud-failure path is live (1 round cannot span a
    # block)
    from bert_namedentityrecognition_spark.oracle.graph import (
        boruvka_msf_kernel,
    )

    for n in (64, 200, 1000, 4096):
        edges = _msf_edges(n)
        f3, _ = boruvka_msf_kernel(edges, max_rounds=3)
        f4, _ = boruvka_msf_kernel(edges, max_rounds=4)
        assert f3 == f4
    try:
        boruvka_msf_kernel(_msf_edges(200), max_rounds=1)
    except RuntimeError:
        pass
    else:
        raise AssertionError("expected loud non-convergence at 1 round")


def test_boruvka_spark_matches_kernel(spark):
    from bert_namedentityrecognition_spark.oracle.graph import (
        boruvka_msf_kernel,
    )

    edges = _msf_edges(_n_events())
    forest, comp = boruvka_msf_kernel(edges, max_rounds=4, doublings=3)
    got = E.queries()["kg_min_spanning_forest"](spark, SF).collect()
    assert {(r["u"], r["v"]): r["w"] for r in got} == forest
    assert {(r["u"], r["v"]): r["component"] for r in got} == {
        (u, v): comp[u] for u, v in forest
    }


def test_boruvka_kernel_rejects_tied_weights():
    from bert_namedentityrecognition_spark.oracle.graph import (
        boruvka_msf_kernel,
    )

    try:
        boruvka_msf_kernel([(0, 1, 5), (1, 2, 5)])
    except ValueError:
        pass
    else:
        raise AssertionError("tied weights must be rejected loudly")
