"""Session-10 operators: maximal matching (line-graph MIS), Jones-Plassmann
coloring and the registry queries added alongside them."""

import duckdb
import pytest

from bert_namedentityrecognition_spark.operators.graph import maximal_matching


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "edge_id long, src long, dst long")


def test_matching_is_a_maximal_matching(spark):
    # path a-b-c-d-e plus a triangle f-g-h and an ISOLATED edge x-y
    rows = [
        (1, 0, 1), (2, 1, 2), (3, 2, 3), (4, 3, 4),
        (10, 20, 21), (11, 21, 22), (12, 20, 22),
        (99, 50, 51),
    ]
    out = {r["edge_id"]: r for r in maximal_matching(_edges_df(spark, rows)).collect()}
    assert set(out) == {1, 2, 3, 4, 10, 11, 12, 99}
    matched = {e for e, r in out.items() if r["matched"] == 1}
    ends = {1: (0, 1), 2: (1, 2), 3: (2, 3), 4: (3, 4),
            10: (20, 21), 11: (21, 22), 12: (20, 22), 99: (50, 51)}
    # matching: no two matched edges share an endpoint
    used = [v for e in matched for v in ends[e]]
    assert len(used) == len(set(used))
    # maximality: every unmatched edge touches a matched one
    for e in set(out) - matched:
        assert any(set(ends[e]) & set(ends[m]) for m in matched), e
    # the isolated edge is trivially matched, at round 0
    assert out[99]["matched"] == 1 and out[99]["mis_round"] == 0
    # non-isolated matched edges carry their picking round (>= 1)
    assert all(out[e]["mis_round"] >= 1 for e in matched - {99})


def test_matching_round_overrun_raises(spark):
    # max_rounds=0 cannot decide any line-graph node -> loud failure
    rows = [(1, 0, 1), (2, 1, 2)]
    with pytest.raises(RuntimeError):
        maximal_matching(_edges_df(spark, rows), max_rounds=0).collect()


def test_matching_sql_twin_on_fixture():
    """matching_sql over a tiny inline edge fixture == the Spark kernel's
    pure-Python equivalent (mis_luby on the line graph), incl. the
    isolated-edge rule."""
    from bert_namedentityrecognition_spark.oracle.graph import (
        matching_sql,
        mis_luby,
    )

    edges = {1: (0, 1), 2: (1, 2), 3: (2, 3), 99: (50, 51)}
    vals = ", ".join(f"({e}, {u}, {v})" for e, (u, v) in edges.items())
    sql = matching_sql(
        f"edges_base AS MATERIALIZED (SELECT * FROM (VALUES {vals}) t(eid, u, v))",
        rounds=4,
    )
    got = {
        r[0]: (r[3], r[4])
        for r in duckdb.sql(sql).fetchall()
    }
    lg = []
    for a, (ua, va) in edges.items():
        for b, (ub, vb) in edges.items():
            if a < b and ({ua, va} & {ub, vb}):
                lg.append((a, b))
    mis = mis_luby(lg, max_rounds=4)
    iso = {e for e in edges if not any(e in p for p in lg)}
    want = {
        e: ((1, mis[e]) if e in mis else (1, 0) if e in iso else (0, 0))
        for e in edges
    }
    assert got == want


def test_matching_drops_self_loops_in_both_twins(spark):
    """A self-loop is no matching edge: both the Spark operator and the SQL
    twin drop it, whether it is isolated or touches a matched edge."""
    from bert_namedentityrecognition_spark.oracle.graph import matching_sql

    edges = {1: (0, 1), 2: (1, 2), 7: (30, 30), 8: (1, 1)}
    rows = [(e, u, v) for e, (u, v) in edges.items()]
    spark_out = {
        r["edge_id"]: (r["matched"], r["mis_round"])
        for r in maximal_matching(_edges_df(spark, rows)).collect()
    }
    vals = ", ".join(f"({e}, {u}, {v})" for e, (u, v) in edges.items())
    sql = matching_sql(
        f"edges_base AS MATERIALIZED (SELECT * FROM (VALUES {vals}) t(eid, u, v))",
        rounds=4,
    )
    sql_out = {r[0]: (r[3], r[4]) for r in duckdb.sql(sql).fetchall()}
    assert set(spark_out) == set(sql_out) == {1, 2}
    assert spark_out == sql_out
    assert sorted(m for m, _ in spark_out.values()) == [0, 1]


@pytest.mark.parametrize("bad", [-1, 1_000_000_007])
def test_priority_scramble_rejects_ids_out_of_range(spark, bad):
    """(v·MIS_MUL) % MIS_MOD is injective only on [0, MIS_MOD): ids 0 and
    MIS_MOD would share priority 0 and stall the rounds."""
    from bert_namedentityrecognition_spark.operators.graph import (
        jones_plassmann_coloring,
        maximal_independent_set,
    )

    df = spark.createDataFrame([(0, bad), (bad, 5)], "src long, dst long")
    with pytest.raises(ValueError, match="densify"):
        maximal_independent_set(df)
    with pytest.raises(ValueError, match="densify"):
        jones_plassmann_coloring(df)
    with pytest.raises(ValueError, match="densify"):
        maximal_matching(
            _edges_df(spark, [(bad, 0, 1), (0, 1, 2)])
        )


def test_jp_coloring_proper_and_equals_kernel(spark):
    """Spark JP coloring == the pure-Python kernel on a random graph,
    and the result is a proper coloring."""
    import random

    from bert_namedentityrecognition_spark.operators.graph import (
        jones_plassmann_coloring,
    )
    from bert_namedentityrecognition_spark.oracle.graph import jp_coloring

    rng = random.Random(7)
    edges = set()
    while len(edges) < 60:
        a, b = rng.randrange(40), rng.randrange(40)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["color"], r["jp_round"])
        for r in jones_plassmann_coloring(df, max_rounds=16).collect()
    }
    want = jp_coloring(edges, max_rounds=16)
    assert got == want
    for a, b in edges:
        assert got[a][0] != got[b][0]


def test_jp_coloring_round_overrun_raises(spark):
    import pytest as _pytest

    from bert_namedentityrecognition_spark.operators.graph import (
        jones_plassmann_coloring,
    )

    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with _pytest.raises(RuntimeError):
        jones_plassmann_coloring(df, max_rounds=0).collect()


def test_ledger_audit_twin_replay_nonzero():
    """The ledger-audit oracle generator's per-page replay finds mentions
    and the VALUES cover the full MAX corpus (prefix-stability contract)."""
    import re

    import __spark_entry__ as entry
    from bert_namedentityrecognition_spark.oracle.bert_sql import N_PAGES_MAX

    sql = entry._pipeline_ledger_audit_sql()
    pairs = re.findall(r"\((\d+), (\d+)\)", sql.split("pm(i, n_m)")[1])
    assert len(pairs) == N_PAGES_MAX
    assert sum(int(b) for _, b in pairs) > 0
    # some pages legitimately yield zero mentions (en/zh, null, >512)
    assert any(int(b) == 0 for _, b in pairs)


def test_bgp_optional_branch_totals(spark):
    """bound + unbound == n_degraded per subject, both branches live."""
    import __spark_entry__ as entry

    rows = entry._kg_bgp_optional(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(
        r["n_contradicted"] + r["n_unbound"] == r["n_degraded"] for r in rows
    )
    assert any(r["n_contradicted"] > 0 for r in rows)
    assert any(r["n_unbound"] > 0 for r in rows)


def test_skipgram_pairs_symmetric_and_windowed(spark):
    """Every (center, context, d) has its mirrored (context, center, d)
    with the same count (the self-join emits both directions)."""
    import __spark_entry__ as entry

    rows = entry._kg_skipgram_pairs(spark, "/root/testdata/sf0.001").collect()
    cnt = {(r["center"], r["context"], r["dist"]): r["n_pairs"] for r in rows}
    assert cnt
    for (c, x, d), n in cnt.items():
        assert cnt[(x, c, d)] == n
        assert d in (1, 2)


def test_modularity_bounds_and_identity(spark):
    """q_num/q_den is a valid modularity: |Q| <= 1, and the shifted ppm
    is consistent with the raw pair."""
    import __spark_entry__ as entry

    (r,) = entry._kg_modularity_score(spark, "/root/testdata/sf0.001").collect()
    assert abs(r["q_num"]) <= r["q_den"]
    assert r["q_den"] == 4 * r["m"] * r["m"]
    assert r["q_shift_ppm"] == (1000000 * (r["q_num"] + r["q_den"])) // (2 * r["q_den"])
    # communities partition all nodes and a chain+heads LPA finds > 1
    assert r["n_communities"] > 1


def test_edgecut_range_beats_hash(spark):
    """On the chain+skip graph, range partitioning cuts only boundary
    edges while hash cuts nearly (1 - 1/k) of all edges — the measured
    gap that justifies locality-aware layouts."""
    import __spark_entry__ as entry

    rows = {
        r["scheme"]: r
        for r in entry._kg_partition_edgecut(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["range"]["n_cut"] < rows["hash"]["n_cut"] // 10
    # range cut ~ 3 boundary edges per seam (chain crosses once, skips twice)
    assert rows["range"]["n_cut"] <= 3 * 16
    assert rows["hash"]["cut_ppm"] > 800000  # ~ 1 - 1/16 = 937500


def test_view_selection_prefix_property(spark):
    """Selected views form a contiguous rank prefix within budget, and
    the first unselected view would overflow it."""
    import __spark_entry__ as entry

    rows = sorted(
        entry._kg_view_selection_greedy(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["pick_rank"],
    )
    sel = [r["selected"] for r in rows]
    # prefix: once deselected, never selected again
    assert sel == sorted(sel, reverse=True)
    assert sel[0] == 1
    k = sum(sel)
    assert rows[k - 1]["cum_cost"] <= rows[0]["budget"]
    if k < len(rows):
        assert rows[k]["cum_cost"] > rows[0]["budget"]


# --- property-based differential tests for the new kernels ---------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _rand_edges(draw_pairs):
    return sorted({(min(a, b), max(a, b)) for a, b in draw_pairs if a != b})


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=60))
def test_jp_coloring_equals_sequential_greedy(pairs):
    """Round-based JP == an INDEPENDENT sequential greedy in increasing
    priority order, and always a proper coloring (the equivalence the SQL
    unroll relies on, fuzzed)."""
    from bert_namedentityrecognition_spark.oracle.graph import (
        jp_coloring,
        mis_priority,
    )

    edges = _rand_edges(pairs)
    if not edges:
        return
    got = jp_coloring(edges, max_rounds=64)
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    seq = {}
    for v in sorted(nbrs, key=mis_priority):
        used = {seq[u] for u in nbrs[v] if u in seq}
        c = 0
        while c in used:
            c += 1
        seq[v] = c
    assert {v: c for v, (c, _r) in got.items()} == seq
    for a, b in edges:
        assert got[a][0] != got[b][0]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=60))
def test_line_graph_mis_is_maximal_matching(pairs):
    """MIS of the line graph is always a valid MAXIMAL matching of the
    base graph (the reduction kg_maximal_matching rests on, fuzzed)."""
    from bert_namedentityrecognition_spark.oracle.graph import mis_luby

    edges = _rand_edges(pairs)
    if not edges:
        return
    eid = {e: k for k, e in enumerate(edges)}
    lg = []
    for e in edges:
        for f in edges:
            if e < f and (set(e) & set(f)):
                lg.append((eid[e], eid[f]))
    iso = {eid[e] for e in edges if not any(eid[e] in p for p in lg)}
    mis = set(mis_luby(lg, max_rounds=64)) | iso
    matched = [e for e in edges if eid[e] in mis]
    used = [v for e in matched for v in e]
    assert len(used) == len(set(used))  # matching
    for e in edges:  # maximal
        if eid[e] not in mis:
            assert any(set(e) & set(m) for m in matched), e


def test_orbit_identities(spark):
    """Orbit identities hold row-by-row: orbit2 == C(deg,2) - t, sum of
    wedge-centers == total wedges - 3*triangles... and every orbit is
    non-negative (the closed-form derivation is only valid if these
    hold on the fixture)."""
    import __spark_entry__ as entry

    rows = entry._kg_orbit_counts(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        d = r["orbit0_deg"]
        assert r["orbit2_wedge_center"] == d * (d - 1) // 2 - r["orbit3_triangle"]
        assert r["orbit1_wedge_end"] >= 0
        assert r["orbit2_wedge_center"] >= 0


def test_minhash_calibration_bounds(spark):
    import __spark_entry__ as entry

    rows = entry._minhash_estimator_calibration(
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["est_matches"] <= 16
        assert 0 <= r["true_ppm"] <= 1000000
        assert r["abs_err_ppm"] == abs(r["est_ppm"] - r["true_ppm"])


def test_motif_enrichment_strongly_positive(spark):
    """The chain+skip graph is locally clustered: triangle enrichment vs
    the configuration model is orders of magnitude above 1x."""
    import __spark_entry__ as entry

    (r,) = entry._kg_motif_significance(spark, "/root/testdata/sf0.001").collect()
    assert r["t_actual"] > 0
    assert r["enrichment_ppm"] > 10 * 1000000  # > 10x the null model


def test_savings_report_invariants(spark):
    import __spark_entry__ as entry

    rows = entry._dedup_savings_report(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["cluster_size"] >= 2
        assert r["n_dropped"] == r["cluster_size"] - 1
        assert r["chars_dropped"] >= 0
        assert r["policy_disagrees"] in (0, 1)


def test_triad_balance_partition(spark):
    """Signed census partitions all triangles; balanced == even negatives."""
    import __spark_entry__ as entry

    rows = entry._kg_triad_balance(spark, "/root/testdata/sf0.001").collect()
    assert {r["n_neg"] for r in rows} <= {0, 1, 2, 3}
    for r in rows:
        assert r["balanced"] == (1 if r["n_neg"] % 2 == 0 else 0)
    assert sum(r["n_triangles"] for r in rows) > 0


def test_widest_path_semiring_invariants(spark):
    """Seeds carry the source cap; every other reached node's capacity is
    a real edge weight (1..98) bounded by the max incident weight."""
    import __spark_entry__ as entry

    rows = entry._kg_widest_path(spark, "/root/testdata/sf0.001").collect()
    caps = {r["node"]: r["cap"] for r in rows}
    assert caps[0] == 1_000_000_000  # seed
    non_seed = [c for n, c in caps.items() if n % 251 != 0]
    assert non_seed and all(1 <= c <= 98 for c in non_seed)


def test_boilerplate_mass_vs_vocab(spark):
    import __spark_entry__ as entry

    rows = entry._corpus_boilerplate_ratio(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_boilerplate"] <= r["n_shingles"]
        assert r["strip_flag"] == (1 if 20 * r["n_boilerplate"] > r["n_shingles"] else 0)
    # calibrated thresholds: detection AND the strip flag both fire
    assert any(r["n_boilerplate"] > 0 for r in rows)
    assert any(r["strip_flag"] == 1 for r in rows)


def test_bootstrap_replicates_spread_around_mean(spark):
    import __spark_entry__ as entry
    import duckdb as _dd

    rows = entry._orders_bootstrap_spread(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 16
    (true_mean,) = _dd.sql(
        "SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4))*100 AS BIGINT)) // count(*) AS BIGINT)"
        " FROM '/root/testdata/sf0.001/orders.parquet'"
    ).fetchone()
    means = [r["wmean_cents"] for r in rows]
    assert len(set(means)) > 1  # replicates genuinely differ
    # every replicate mean within 10% of the point estimate
    for m in means:
        assert abs(m - true_mean) < true_mean // 10


def test_sssp_certificate_pending_and_converged(spark):
    """Bounded budget leaves pending relaxations on the sparse-seed
    fixture; a CONVERGED graph (diameter < rounds) certifies clean."""
    from pyspark.sql import functions as SF

    import __spark_entry__ as entry
    from bert_namedentityrecognition_spark.operators.graph import (
        sssp_bellman_ford,
    )

    (r,) = entry._kg_sssp_certificate(spark, "/root/testdata/sf0.001").collect()
    assert r["pending_relaxations"] > 0  # budget < seed spacing, by design
    assert r["tight_edges"] > 0 and r["edges_checked"] > 0

    e = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 3), (0, 2, 10), (2, 3, 1)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    d = sssp_bellman_ford(e, seeds, rounds=6)
    du = d.select(SF.col("node").alias("src"), SF.col("dist").alias("d_u"))
    dv = d.select(SF.col("node").alias("dst"), SF.col("dist").alias("d_v"))
    j = e.join(du, "src").join(dv, "dst")
    assert (
        j.filter(SF.col("d_v") > SF.col("d_u") + SF.col("weight")).count() == 0
    )


def test_pagerank_topk_stability_bounds(spark):
    import __spark_entry__ as entry

    rows = {r["k"]: r for r in entry._kg_pagerank_topk_stability(
        spark, "/root/testdata/sf0.001").collect()}
    for k, r in rows.items():
        assert 0 <= r["n_overlap"] <= k
    # head stability: the top-5 at 3 iters largely survives to 6 iters
    assert rows[5]["n_overlap"] >= 3


def test_recency_degree_bounds(spark):
    import __spark_entry__ as entry

    rows = entry._kg_recency_weighted_degree(
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # each edge contributes between 1 (age 8) and 256 (age 0)
        assert r["degree"] <= r["decayed_x256"] <= 256 * r["degree"]
        assert 0 <= r["freshest_age"] <= 8
