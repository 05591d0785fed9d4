"""Entity-graph analytics over alias/co-mention edges as pure DataFrame
jobs (GraphFrames-free).

Semantics live in ``oracle/graph.py`` (integer-exact kernels and their
DuckDB twins); this module is the distributed execution. The reference has
no graph stage (alias resolution is one-hop, ``OICI_database.py:34-39``) —
ranking canonical entities and measuring alias-cluster cohesion are this
repo's KG-scale extensions (SURVEY §2.12).

Iteration kernels
-----------------
Three loop shapes and one join serve 14 public operators; each is written
once below and the operators are thin wrappers. The loops materialize their
edge list ONCE (``_edge_list``: BIGINT ``(a, b[, w|t])``, hash-partitioned
on ``a``, ``localCheckpoint``-ed) and checkpoint their state every level,
so plan size stays O(1) in the level count (rule 23: exchange reuse does
not dedup near-identical subtrees; without the checkpoint each level
re-derives the edge list). State is all-integer, so every level is
bit-exact on any partitioning and in the SQL twins.

* ``_seeded_bfs`` — bounded-hop BFS from a seed set, keyed on ``node`` or,
  per seed, on the ``(seed, node)`` pair (state |seeds| × |hop cone|; at
  100 TB the seed set is a serving shortlist, never the node set). Per
  level ONE join of the frontier (only nodes first reached at the previous
  level) against the edge list. With nothing carried the level merges by
  one ``union`` + ``min(dist)``; with a carried value (σ sum, min seed) it
  aggregates the value on the target and keeps first reach with one
  anti-join. Serves ``bfs_levels_df``, ``bfs_path_counts_df``,
  ``nearest_seed_df``, ``seeded_sigma_df``, ``harmonic_centrality_df`` and
  ``closeness_profile_df``; for unbounded closure use
  ``connected_components_star`` (O(log²) rounds).
* ``_relax_rounds`` — bounded-round semiring relaxation from a seed set.
  Per round ONE join of the CHANGED frontier (nodes whose value improved
  last round — delta-stepping-lite) against the edge list, one min- or
  max-agg that also flags improvement. The twins relax ALL nodes per round
  and reach the same values. Serves ``sssp_bellman_ford`` (min, +),
  ``temporal_reachability_df`` (min, with the usability predicate
  ``t >= arrival`` on the join) and ``widest_path_bounded`` (max, min).
* ``_int_pagerank`` — integer PageRank power iteration over ``(a, b, w)``
  with out-weight sums pre-joined: per iteration 1 shuffle to co-locate
  ranks with the edge list's ``a`` side + 1 for the partial-aggregated
  ``groupBy(b)`` sum. Unweighted PageRank is ``w = 1`` (``rank·1 DIV Σ1``
  is ``rank DIV deg``); personalized PageRank restricts the teleport mass
  to a seed predicate. At 10**12 nodes the integer scale ``init`` must
  shrink (or move to decimal(38)) to keep ``d_num * sum`` under 2**63 — the
  oracle ``pagerank_int`` docstring carries the bound.

``_seed_pair_paths`` is the seed-pair Brandes join shared by
``stress_centrality_df`` and ``betweenness_ppm_df``: one per-seed σ-BFS,
then the broadcast seed-pair distance table drives two joins re-keyed on
the interior node; only the final map-side-combinable aggregate differs.

``triangle_counts_df``: degree-based orientation (direct every edge from
the lower ``(degree, id)`` endpoint to the higher) bounds every node's
out-degree by O(sqrt(m)), so the wedge join ``e1.b == e2.a`` materializes
O(m^1.5) candidate wedges worst-case instead of sum(deg^2) — the standard
scalable triangle enumeration. Counts are orientation-invariant, so the
DuckDB twin may orient by plain id order and still match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..oracle.graph import D_DEN, D_NUM, HARMONIC_SCALE, INIT, MIS_MOD, MIS_MUL


def _edge_list(edges: DataFrame, src: str, dst: str, **extra: str) -> DataFrame:
    """BIGINT ``(a, b, *extra)`` (``extra`` maps output name → input
    column), hash-partitioned on ``a`` and materialized once."""
    return (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
            *[F.col(c).cast("long").alias(k) for k, c in extra.items()],
        )
        .repartition("a")
        .localCheckpoint(eager=True)
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Each undirected edge once as BIGINT ``(u, v)`` with ``u < v``:
    orientation, duplicates and self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``_undirected`` in both directions as ``(a, b)``, materialized."""
    und = _undirected(edges, src, dst)
    return (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .union(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)
    )


def _nodes(e: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Distinct endpoints of ``e`` as ``(node)``."""
    return (
        e.select(F.col(a).alias("node"))
        .union(e.select(F.col(b).alias("node")))
        .distinct()
    )


def _int_pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    w: Column,
    iterations: int,
    init: int,
    d_num: int,
    d_den: int,
    is_seed: Column | None = None,
) -> DataFrame:
    """``(node, rank_scaled)`` after ``iterations`` integer power
    iterations over DIRECTED ``edges`` weighted by ``w``: contributions
    ``(rank·w) DIV Σw_out``; the teleport term ``base`` lands on every
    node, or only where ``is_seed`` (a predicate over ``node``) holds.
    Caller owns the ``init·w_max`` int64 bound (``oracle.graph.
    wpagerank_int`` docstring)."""
    e = edges.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
        w.cast("long").alias("w"),
    )
    sw = e.groupBy("a").agg(F.sum("w").alias("sw"))
    # (a, b, w, sw) materialized once; every iteration reuses this partitioning.
    e = e.join(sw, "a").repartition("a").localCheckpoint(eager=True)
    nodes = _nodes(e).localCheckpoint(eager=True)
    base = ((d_den - d_num) * init) // d_den

    def teleport(mass: int) -> Column:
        if is_seed is None:
            return F.lit(mass).cast("long")
        return F.when(is_seed, F.lit(mass)).otherwise(F.lit(0)).cast("long")

    ranks = nodes.select("node", teleport(init).alias("rank_scaled"))
    for _ in range(iterations):
        inc = (
            e.join(ranks, e.a == ranks.node)
            .select(F.col("b"), F.expr("(rank_scaled * w) DIV sw").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            nodes.join(inc, nodes.node == inc.b, "left")
            .select(
                "node",
                (
                    teleport(base)
                    + F.expr(f"({d_num} * coalesce(inc, 0L)) DIV {d_den}")
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


# carried values of ``_seeded_bfs``: (column, SQL value at the seed, merge)
_SIGMA = ("sig", "1", F.sum)  # shortest-path count σ
_MIN_SEED = ("seed", "node", F.min)  # nearest seed, ties → min id


def _seeded_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str,
    dst: str,
    node: str,
    per_seed: bool = False,
    carry: tuple | None = None,
) -> DataFrame:
    """``([seed,] node, dist[, carry])``: bounded-hop BFS from ``seeds``
    over DIRECTED ``edges`` — one multi-source BFS, or one per seed on the
    ``(seed, node)`` key when ``per_seed``. ``carry`` is ``_SIGMA``,
    ``_MIN_SEED`` or None. Nodes unreached within ``max_hops`` are
    absent."""
    e = _edge_list(edges, src, dst)
    lead = ["seed"] if per_seed else []
    key = lead + ["node"]
    root = key[0]
    cols = lead + [F.col(root).alias("node"), F.lit(0).cast("long").alias("dist")]
    keep = list(key)
    if carry is not None:
        name, at_seed, merge = carry
        cols.append(F.expr(at_seed).cast("long").alias(name))
        keep.append(name)
    dist = (
        seeds.select(F.col(node).cast("long").alias(root))
        .distinct()
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    frontier = dist.select(*keep)
    for k in range(1, max_hops + 1):
        hop = frontier.join(e, frontier.node == e.a)
        level = F.lit(k).cast("long").alias("dist")
        if carry is None:
            dist = (
                dist.unionByName(hop.select(*lead, F.col("b").alias("node"), level))
                .groupBy(*key)
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
        else:
            pushed = hop.groupBy(*lead, F.col("b").alias("node")).agg(
                merge(name).alias(name)
            )
            fresh = pushed.join(dist, key, "left_anti").select(
                *key, level, F.col(name).cast("long").alias(name)
            )
            dist = dist.unionByName(fresh).localCheckpoint(eager=True)
        frontier = dist.filter(F.col("dist") == k).select(*keep)
    return dist


def _relax_rounds(
    e: DataFrame,
    seeds: DataFrame,
    rounds: int,
    node: str,
    val: str,
    source: int,
    step: Column,
    maximize: bool = False,
    usable: Column | None = None,
) -> DataFrame:
    """``(node, val)`` after ``rounds`` simultaneous relaxations from
    ``seeds`` (value ``source``) over the ``_edge_list`` ``e``: an edge
    from a changed node offers ``step`` (over the frontier's ``val`` and
    the edge's columns) wherever ``usable`` holds, and each node keeps the
    min (max when ``maximize``) of its value and its offers. Nodes never
    offered a value are absent."""
    best = F.max if maximize else F.min

    def better(x: Column, y: Column) -> Column:
        return x > y if maximize else x < y

    vals = (
        seeds.select(F.col(node).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(source).cast("long").alias(val))
        .localCheckpoint(eager=True)
    )
    frontier = vals
    for _ in range(rounds):
        on = frontier.node == e.a
        if usable is not None:
            on = on & usable
        relaxed = frontier.join(e, on).select(
            F.col("b").alias("node"), step.alias(val)
        )
        nxt = (
            vals.withColumn("__old", F.lit(1))
            .unionByName(relaxed.withColumn("__old", F.lit(0)))
            .groupBy("node")
            .agg(
                best(val).alias(val),
                # improved iff the winner beats every carried old value
                better(
                    best(val), best(F.when(F.col("__old") == 1, F.col(val)))
                ).alias("__improved_vs_old"),
                F.max("__old").alias("__had_old"),
            )
            .withColumn(
                "__changed",
                (F.col("__had_old") == 0)
                | F.coalesce(F.col("__improved_vs_old"), F.lit(False)),
            )
            .localCheckpoint(eager=True)
        )
        frontier = nxt.filter(F.col("__changed")).select("node", val)
        vals = nxt.select("node", val).localCheckpoint(eager=True)
    return vals


def _seed_pair_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str,
    dst: str,
    node: str,
) -> DataFrame:
    """One row per seed pair ``s < t`` (``d_st``, ``sig_st``) and interior
    node ``v ∉ {s, t}`` on a shortest s-t route (``d_sv + d_tv = d_st``),
    with both σ factors ``sig_sv``, ``sig_tv`` — Brandes' pair-combination
    identity over SYMMETRIC ``edges`` (see ``oracle.graph.
    stress_centrality`` for the completeness argument)."""
    # the kernel returns its checkpointed state, read 3× below (rule 23)
    sig = _seeded_bfs(
        edges, seeds, max_hops, src, dst, node, per_seed=True, carry=_SIGMA
    )
    targets = seeds.select(F.col(node).cast("long").alias("t_node")).distinct()
    dd = (
        sig.join(F.broadcast(targets), sig.node == F.col("t_node"))
        .filter((F.col("seed") < F.col("t_node")) & (F.col("dist") > 0))
        .select(
            F.col("seed").alias("s"),
            F.col("t_node").alias("t"),
            F.col("dist").alias("d_st"),
            F.col("sig").alias("sig_st"),
        )
    )

    def end(seed: str, d: str, sg: str) -> DataFrame:
        return sig.select(
            F.col("seed").alias(seed),
            F.col("node").alias("v"),
            F.col("dist").alias(d),
            F.col("sig").alias(sg),
        )

    return (
        F.broadcast(dd)
        .join(end("s", "d_sv", "sig_sv"), "s")
        .join(end("t", "d_tv", "sig_tv"), ["t", "v"])
        .filter(
            (F.col("d_sv") + F.col("d_tv") == F.col("d_st"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
        )
    )


def _check_priority_ids(sym: DataFrame, op: str) -> None:
    """Precondition of the ``(v·MIS_MUL) % MIS_MOD`` priority scramble:
    node ids in ``[0, MIS_MOD)``.  Only there is it injective (and free of
    BIGINT overflow, and equal to the pure-Python ``mis_priority``);
    colliding priorities make neither neighbor a strict local minimum and
    stall the rounds.  ``sym`` is the symmetrized ``(a, b)`` edge frame."""
    lo, hi = sym.agg(F.min("a"), F.max("a")).first()
    if lo is not None and (lo < 0 or hi >= MIS_MOD):
        raise ValueError(
            f"{op}: node ids must lie in [0, {MIS_MOD}) for the priority "
            f"scramble, got [{lo}, {hi}]; densify the ids first"
        )


def _priority(col: str) -> Column:
    """``oracle.graph.mis_priority`` as a column expression."""
    return (F.col(col) * F.lit(MIS_MUL)) % F.lit(MIS_MOD)


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` → ``(node, rank_scaled)`` — the exact
    integer PageRank of ``oracle.graph.pagerank_int`` (pass both directions
    for undirected graphs; dangling nodes keep the base rank)."""
    return _int_pagerank(
        edges, src, dst, F.lit(1), iterations, init, d_num, d_den
    )


def weighted_pagerank_integer(
    wedges: DataFrame,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """EDGE-WEIGHTED ``wedges(src, dst, w)`` → ``(node, rank_scaled)`` —
    the exact integer weighted PageRank of ``oracle.graph.wpagerank_int``
    (contributions split ∝ weight: the centrality that consumes
    ``kg_edge_confidence``-style edge weights instead of flattening them).
    Caller owns the ``init·w_max`` int64 bound (``wpagerank_int``
    docstring)."""
    return _int_pagerank(
        wedges, src, dst, F.col(weight), iterations, init, d_num, d_den
    )


def triangle_counts_df(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """UNDIRECTED ``edges`` (any orientation, dups/self-loops dropped) →
    ``(node, triangles)`` per-node participation counts, exact.

    Degree-based orientation: every undirected edge is directed from its
    lower ``(degree, node)`` endpoint to the higher, then triangles are the
    wedges ``x→y, y→z`` closed by ``x→z``. Every triangle is enumerated
    exactly once (the orientation is acyclic), and each enumeration credits
    all three corners."""
    # und feeds degree (twice), both orientation joins, and all three
    # wedge-join legs — materialize once (rule 23: exchange reuse does
    # NOT dedup near-identical subtrees; unmaterialized this plan
    # re-derived the edge list 6× = 64 exchanges at the gate).
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # Orient low-(degree, id) → high-(degree, id): out-degree ≤ O(sqrt(m)).
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
            )
            .otherwise(F.struct(F.col("v").alias("x"), F.col("u").alias("y")))
            .alias("e")
        )
        .select("e.x", "e.y")
        .localCheckpoint(eager=True)  # reused by all three wedge-join legs
    )
    e1 = oriented.select(F.col("x").alias("a"), F.col("y").alias("b"))
    e2 = oriented.select(F.col("x").alias("b"), F.col("y").alias("c"))
    e3 = oriented.select(F.col("x").alias("a3"), F.col("y").alias("c3"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 16,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """UNDIRECTED ``edges`` → the k-core: ``(node, core_degree)`` for every
    node surviving iterative removal of degree-< k nodes (fixpoint is
    peel-order independent — ``oracle.graph.kcore_nodes`` is the kernel).

    Per round: one map-side-combined degree aggregation + two anti-joins
    against the (typically tiny, AQE-broadcast) removal set, then
    ``localCheckpoint`` so plan size stays O(1) in the round count (rule
    23). Raises LOUDLY if the fixpoint is not reached within
    ``max_rounds`` — the unrolled SQL twin covers a fixed round budget,
    so running past it must fail, not silently diverge."""
    sym = _symmetric(edges, src, dst)
    for _ in range(max_rounds):
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        bad = deg.filter(F.col("d") < k).select(F.col("a").alias("bn"))
        bad = bad.localCheckpoint(eager=True)
        if bad.limit(1).count() == 0:
            return deg.select(
                F.col("a").alias("node"),
                F.col("d").cast("long").alias("core_degree"),
            )
        sym = (
            sym.join(bad, sym.a == bad.bn, "left_anti")
            .join(bad, F.col("b") == bad.bn, "left_anti")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"kcore(k={k}) did not reach its fixpoint in {max_rounds} "
        "simultaneous-peel rounds — raise max_rounds AND the SQL twin's "
        "unroll budget together (they must cover the same round count)."
    )


def bfs_levels_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` + ``seeds(node)`` → ``(node, dist)``:
    the bounded-hop BFS of ``oracle.graph.bfs_levels`` (pass both edge
    directions for undirected graphs). Nodes unreached within ``max_hops``
    are absent — the k-hop-neighborhood contract a KG serving layer uses
    for "entities within k joins of these seeds". ``_seeded_bfs`` with
    nothing carried."""
    return _seeded_bfs(edges, seeds, max_hops, src, dst, node)


def bfs_path_counts_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` + ``seeds(node)`` → ``(node, dist,
    sigma)``: bounded-hop BFS carrying SHORTEST-PATH COUNTS — the exact σ
    table of ``oracle.graph.bfs_path_counts`` (Brandes' betweenness
    building block; sigma = how many distinct shortest routes tie the
    node to the seed set). The caller owns the ``out_deg_max^max_hops``
    int64 bound (see the oracle function's docstring)."""
    dist = _seeded_bfs(edges, seeds, max_hops, src, dst, node, carry=_SIGMA)
    return dist.select("node", "dist", F.col("sig").alias("sigma"))


def nearest_seed_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` + ``seeds(node)`` → ``(node, dist,
    seed)``: the graph-Voronoi assignment of ``oracle.graph.
    bfs_nearest_seed`` — each node routed to its nearest seed (ties at
    first reach → min seed id), the hub/shard assignment a served KG
    partitions by."""
    return _seeded_bfs(edges, seeds, max_hops, src, dst, node, carry=_MIN_SEED)


def harmonic_centrality_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(seed, h_scaled)``: the exact bounded-hop harmonic centrality of
    ``oracle.graph.harmonic_centrality`` — per-seed BFS (per-seed
    distances, not the multi-source minimum), contributions
    ``840 DIV dist`` exact for hops ≤ 8."""
    if max_hops > 8:
        raise ValueError("HARMONIC_SCALE is exact only for max_hops <= 8")
    dist = _seeded_bfs(edges, seeds, max_hops, src, dst, node, per_seed=True)
    return dist.groupBy("seed").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("dist") > 0,
                    F.expr(f"{HARMONIC_SCALE} DIV dist"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("h_scaled")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` → ``(node, community)``: the exact
    round-``rounds`` state of ``oracle.graph.label_prop`` — deterministic
    synchronous label propagation (most-voted in-neighbor label + one
    self-vote, ties → smallest label; pass both directions for undirected
    graphs).

    Scale shape: per round ONE shuffle to co-locate labels with the edge
    list's ``a`` side, one partially-aggregated ``groupBy(node, lab)``
    vote count, and one struct-min argmin per node — all integer, no
    window sort over the full vote table. The edge list is
    ``localCheckpoint``-materialized once and reused every round; labels
    are checkpointed per round so plan size stays O(1) in ``rounds``
    (rule 23). State carried is one (node, label) long pair per node —
    the same cardinality as PageRank's rank table, so the 10**12-node
    bound is identical."""
    e = _edge_list(edges, src, dst)
    nodes = _nodes(e).localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(rounds):
        votes = (
            e.join(labels, e.a == labels.node)
            .select(F.col("b").alias("node"), F.col("lab"))
            .unionByName(labels.select("node", "lab"))
        )
        counts = votes.groupBy("node", "lab").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lab").alias("l")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return labels.select(
        "node", F.col("lab").cast("long").alias("community")
    )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    n_walks: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(start, walk, step, node): ``n_walks`` deterministic walks of
    ``length`` steps from every node of the DIRECTED edge list (pass both
    directions for undirected graphs) — the corpus-generation pass a
    DeepWalk/node2vec embedding trains on. No RNG state: step ``t`` of
    walk ``w`` from ``s`` standing at ``cur`` moves to the neighbor whose
    rank (1-based, neighbors ordered by id) is
    ``scramble(poly_hash(s|w|t|cur)) % degree(cur) + 1`` — a pure
    function of row values, so walks are identical at any cluster size /
    partitioning and replayable in SQL.

    Scale shape: the ranked adjacency (node, rank, dst) + degree table is
    built ONCE and checkpoint-materialized; each step is one equi-join of
    the frontier against it on the current node (shuffle on node id —
    adjacency is graph-sized, not broadcastable at 10^12 edges), state
    carried is (start, walk, cur) — O(nodes·n_walks) rows per step.

    Ref: the reference has no graph stage; embedding-corpus generation is
    the SURVEY §2.12 KG-scale extension (pairs with
    ``triples.negative_samples``)."""
    from ..functions.textstats import poly_hash

    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).distinct()
    w_rank = Window.partitionBy("a").orderBy("b")
    adj = (
        e.select("a", "b", F.row_number().over(w_rank).alias("rank"))
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("a").agg(F.max("rank").cast("long").alias("deg"))
    adj = adj.join(deg, "a").localCheckpoint(eager=True)
    starts = adj.select(F.col("a").alias("start")).distinct()
    state = starts.select(
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk"),
    ).select(
        "start",
        F.col("walk").cast("long").alias("walk"),
        F.col("start").alias("node"),
    )
    out = state.select(
        "start", "walk", F.lit(0).cast("long").alias("step"), "node"
    ).localCheckpoint(eager=True)
    cur = state
    for t in range(1, length + 1):
        h = (
            poly_hash(
                F.concat_ws(
                    "|",
                    F.col("start").cast("string"),
                    F.col("walk").cast("string"),
                    F.lit(str(t)),
                    F.col("node").cast("string"),
                )
            )
            * 2654435761
        ) % 1000000007
        stepped = (
            cur.join(adj, cur.node == adj.a)
            .filter((h % F.col("deg") + 1) == F.col("rank"))
            .select("start", "walk", F.col("b").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            stepped.select(
                "start", "walk", F.lit(t).cast("long").alias("step"), "node"
            )
        )
        cur = stepped
    return out


def link_prediction_cn(
    edges: DataFrame,
    min_cn: int = 1,
    top_k: int = 2,
    jaccard_scale: int = 1_000_000,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for every
    NON-adjacent pair (u, v) with at least ``min_cn`` shared neighbors,
    score the candidate edge by integer-scaled Jaccard similarity of the
    two neighborhoods and keep each node's ``top_k`` candidates.

    This is the "suggest missing alias/relation edges" pass a KG quality
    loop runs after canonicalization (the reference resolves aliases
    one-hop, ``OICI_database.py:34-39``; proposing NEW edges is this
    repo's KG-scale extension, SURVEY §2.12).

    Columns out: ``u, v (u < v as BIGINTs), cn, deg_u, deg_v,
    jaccard_scaled = (jaccard_scale * cn) DIV (deg_u + deg_v - cn)``, and
    ``rank`` (1-based per u, ordered by jaccard desc, cn desc, v asc).
    All arithmetic is integer ⇒ bit-exact on any partitioning and in any
    SQL engine replaying the same recipe (rule 11).

    100 TB notes: the wedge join enumerates sum(deg(w)^2) candidate pairs
    — the same budget as triangle counting WITHOUT orientation (scores
    need FULL neighborhoods, so orientation would undercount cn; the
    skew dial is capping hub degree upstream, the standard LP practice).
    Adjacent pairs are removed by a broadcast-unfriendly but
    partitionable anti-join on the normalized edge set; degrees join in
    map-side-combined.  Top-k is a bounded window (WindowGroupLimit).
    """
    # normalize to undirected unique edges both as adjacency and as the
    # "already linked" filter set
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("m")).union(
        und.select(F.col("b").alias("n"), F.col("a").alias("m"))
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("deg"))

    # wedges through middle m: unordered candidate pair (u < v)
    left = adj.select(F.col("m").alias("w"), F.col("n").alias("u"))
    right = adj.select(F.col("m").alias("w"), F.col("n").alias("v"))
    pairs = (
        left.join(right, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= int(min_cn))
    )
    cand = pairs.join(
        und, (pairs.u == und.a) & (pairs.v == und.b), "left_anti"
    )
    cand = (
        cand.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "deg_u"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "deg_v"), "v")
        .withColumn(
            "jaccard_scaled",
            F.expr(
                f"CAST({jaccard_scale} AS BIGINT) * cn DIV "
                "(deg_u + deg_v - cn)"
            ),
        )
    )
    w = Window.partitionBy("u").orderBy(
        F.col("jaccard_scaled").desc(), F.col("cn").desc(), F.col("v").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(
            F.col("u").cast("long"),
            F.col("v").cast("long"),
            F.col("cn").cast("long"),
            F.col("deg_u").cast("long"),
            F.col("deg_v").cast("long"),
            F.col("jaccard_scaled").cast("long"),
            F.col("rank").cast("long"),
        )
    )


def sssp_bellman_ford(
    wedges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node: str = "node",
) -> DataFrame:
    """Bounded-round distributed Bellman-Ford: ``(node, dist)`` = min cost
    over paths of <= ``rounds`` hops from any seed, over DIRECTED
    integer-weighted ``wedges`` (pass both directions for undirected).
    Nodes unreached within the budget are absent — the weighted
    counterpart of ``bfs_levels_df`` (edge weights = relation confidence
    / traversal cost in a served KG). ``_relax_rounds`` over (min, +); the
    DuckDB twin is ``oracle/graph.py:sssp_sql``."""
    e = _edge_list(wedges, src, dst, w=weight)
    return _relax_rounds(
        e, seeds, rounds, node, "dist", 0, F.col("dist") + F.col("w")
    )


def temporal_reachability_df(
    tedges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    time: str = "t",
    node: str = "node",
) -> DataFrame:
    """TIME-RESPECTING earliest-arrival reachability: ``(node, arrival)``
    = the exact round-``rounds`` state of ``oracle.graph.
    temporal_reachability`` over DIRECTED timestamped edges — paths must
    have non-decreasing edge times (a static BFS overcounts by traveling
    backwards in time; this is the influence-cone query of a versioned /
    event KG). ``_relax_rounds`` with the usability predicate
    ``t >= arrival`` on the join: arrival shrinking only ever WIDENS edge
    usability, so the changed-only frontier converges to the same minima
    the twin's relax-all computes (``oracle.graph.temporal_reachability``
    carries the argument)."""
    e = _edge_list(tedges, src, dst, t=time)
    return _relax_rounds(
        e,
        seeds,
        rounds,
        node,
        "arrival",
        0,
        F.col("t"),
        usable=F.col("t") >= F.col("arrival"),
    )


def incremental_components(
    prev_assign: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Incremental connected components: fold ``delta_edges`` into a
    previous min-id component assignment WITHOUT re-running CC over the
    full graph — the maintenance pass a 10^12-node KG runs per ingest
    batch (full recompute is the thing you cannot afford; the driver gate
    proves equality against exactly that full recompute).

    Correctness: each previous component is CONTRACTED to its (min-id)
    label; delta edges are remapped to labels (endpoints unseen before
    keep their own id); CC runs on that contracted graph — |delta|-sized,
    NOT corpus-sized — and the resulting label→label merges broadcast-join
    back onto the assignment.  Min-of-mins = global min, so labels stay
    the same min-id labels a full recompute produces.

    Scale shape: the corpus-sized assignment is touched exactly twice —
    ONE label lookup of the (distinct, delta-sized) endpoint set against
    it (in a bucketed deployment this is a bucket-pruned join; the big
    side is never shuffled for it when stored partitioned by node), and
    ONE broadcast join applying the merge map (≤ 2·|delta| rows).
    Everything in between — endpoint remap, star-CC — runs on delta-sized
    frames, the remaps via broadcast."""
    dn = (
        delta_edges.select(F.col(src).cast("long").alias("node"))
        .union(delta_edges.select(F.col(dst).cast("long").alias("node")))
        .distinct()
    )
    # the single big-side lookup: label-or-NULL per delta endpoint
    looked = (
        dn.join(
            prev_assign.select(
                F.col("node").cast("long").alias("node"),
                F.col("component").cast("long").alias("__prev_comp"),
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce(F.col("__prev_comp"), F.col("node")).alias("__lab"),
            F.col("__prev_comp").isNull().alias("__is_new"),
        )
        .localCheckpoint(eager=True)  # feeds 2 remaps + the new-node arm
    )
    contracted = (
        delta_edges.select(
            F.col(src).cast("long").alias("su"), F.col(dst).cast("long").alias("sv")
        )
        .join(
            F.broadcast(looked.select(F.col("node").alias("su"),
                                      F.col("__lab").alias("lu"))),
            "su",
        )
        .join(
            F.broadcast(looked.select(F.col("node").alias("sv"),
                                      F.col("__lab").alias("lv"))),
            "sv",
        )
        .select(F.col("lu").alias("src"), F.col("lv").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    from .canonicalize import connected_components_star

    merges = connected_components_star(contracted).select(
        F.col("node").alias("__old_comp"), F.col("component").alias("__new_comp")
    )
    base = prev_assign.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    ).unionByName(
        looked.filter(F.col("__is_new")).select(
            "node", F.col("node").alias("component")
        )
    )
    out = base.join(
        F.broadcast(merges), base.component == merges.__old_comp, "left"
    )
    return out.select(
        "node",
        F.coalesce(F.col("__new_comp"), F.col("component")).alias("component"),
    )


def clustering_coefficients(
    edges: DataFrame,
    scale: int = 1_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient over an UNDIRECTED graph,
    integer-scaled: ``cc_scaled = (2·scale·triangles) DIV (deg·(deg−1))``
    for every node with degree ≥ 2 (the coefficient is undefined below
    that).  Nodes in no triangle report 0 — the cohesion score a KG
    quality pass ships per entity next to ``kg_kcore``'s membership.

    Scale shape: triangle counts come from the degree-based-orientation
    enumeration (``triangle_counts_df`` — O(m^1.5) worst case); degrees
    are one map-side-combined aggregate; the stitch is a left join on
    node.  All-integer (rule 11) — bit-exact in any engine."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    tris = triangle_counts_df(und, src="u", dst="v")
    return (
        deg.join(tris, "node", "left")
        .select(
            F.col("node").cast("long"),
            F.col("deg").cast("long"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                f"CAST(2 * {int(scale)} * coalesce(triangles, 0) AS BIGINT)"
                " DIV (deg * (deg - 1))"
            ).alias("cc_scaled"),
        )
    )


def hits_integer(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` (dups dropped) → ``(node, hub_scaled,
    auth_scaled)`` — the exact unnormalized integer HITS of
    ``oracle.graph.hits_int``.  Per iteration: one join+agg to push hub
    mass forward onto authorities, one to pull authority mass back onto
    hubs — 4 shuffles/iteration, same shape as ``pagerank_integer``.  The
    distinct edge list is ``localCheckpoint``-materialized once and reused
    by every half-step (rule 23), and each score table is checkpointed per
    level so plan size stays O(1) in ``iterations``.

    Caller bound (int64 overflow): scores grow at most
    ``(in_deg_max * out_deg_max)**iterations`` — at web-graph degrees
    (10^5) keep iterations <= 3 or pre-scale to decimal(38,0); the gate
    fixture's degree cap of 2 keeps everything below 2**6."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("ea"),
            F.col(dst).cast("long").alias("eb"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = _nodes(e, "ea", "eb").localCheckpoint(eager=True)
    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    auth = nodes.select("node", F.lit(0).cast("long").alias("auth"))
    for _ in range(iterations):
        fwd = (
            e.join(hub, e.ea == hub.node)
            .groupBy("eb")
            .agg(F.sum("hub").alias("v"))
        )
        auth = (
            nodes.join(fwd, nodes.node == fwd.eb, "left")
            .select(
                "node", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("auth")
            )
            .localCheckpoint(eager=True)
        )
        bwd = (
            e.join(auth, e.eb == auth.node)
            .groupBy("ea")
            .agg(F.sum("auth").alias("v"))
        )
        hub = (
            nodes.join(bwd, nodes.node == bwd.ea, "left")
            .select(
                "node", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("hub")
            )
            .localCheckpoint(eager=True)
        )
    return hub.join(auth, "node").select(
        "node",
        F.col("hub").alias("hub_scaled"),
        F.col("auth").alias("auth_scaled"),
    )


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """UNDIRECTED ``edges`` → ``(node, mis_round)``: the deterministic
    Luby maximal independent set of ``oracle.graph.mis_luby`` — the
    conflict-free scheduling primitive a KG merge pipeline uses to pick a
    maximal set of entity merges no two of which share a node (merge the
    MIS in one parallel wave, repeat).

    Per round: one join+MIN-agg for each undecided node's minimum
    undecided-neighbor priority (priorities are the injective integer
    scramble ``mis_priority`` — a codegen'd expression, no RNG state, so
    the result is partition- and engine-independent), a filter for strict
    local minima, and two anti-joins shrinking the undecided set; every
    frame is ``localCheckpoint``-ed per round (rule 23).  Scrambled
    priorities give the O(log n) expected round count (id-ordered would
    serialize a chain); overrunning ``max_rounds`` raises LOUDLY — the
    unrolled SQL twin covers the same fixed budget (kcore's contract).
    Node ids must lie in ``[0, MIS_MOD)``, where the scramble is
    injective; ids outside raise ``ValueError``."""
    sym = _symmetric(edges, src, dst)
    _check_priority_ids(sym, "maximal_independent_set")
    undecided = (
        sym.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=True)
    )
    # empty-schema accumulator so an edgeless input returns 0 rows, not None
    mis = undecided.select(
        "node", F.lit(0).cast("long").alias("mis_round")
    ).limit(0)
    for r in range(1, max_rounds + 1):
        if undecided.limit(1).count() == 0:
            break
        ua = undecided.select(F.col("node").alias("a"))
        ub = undecided.select(F.col("node").alias("b"))
        minnbr = (
            sym.join(ua, "a")
            .join(ub, "b")
            .groupBy("a")
            .agg(F.min(_priority("b")).alias("minp"))
        )
        winners = (
            undecided.join(minnbr, undecided.node == minnbr.a, "left")
            .filter(F.col("a").isNull() | (_priority("node") < F.col("minp")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        mis = mis.unionByName(
            winners.select("node", F.lit(r).cast("long").alias("mis_round"))
        )
        nbrs_of_winners = sym.join(
            winners.select(F.col("node").alias("a")), "a"
        ).select(F.col("b").alias("node"))
        undecided = (
            undecided.join(winners, "node", "left_anti")
            .join(nbrs_of_winners, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
    if undecided.limit(1).count() > 0:
        raise RuntimeError(
            f"maximal_independent_set did not decide every node in "
            f"{max_rounds} rounds — raise max_rounds AND the SQL twin's "
            "unroll budget together (they must cover the same count)."
        )
    return mis.select(
        F.col("node").cast("long"), F.col("mis_round").cast("long")
    )


def transitive_closure_doubling(
    edges: DataFrame,
    max_doublings: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DIRECTED ACYCLIC ``edges(src, dst)`` → ``(node, anc)``: the
    reflexive-transitive closure (every node paired with itself and every
    ancestor reachable along edges) — the RDFS ``subClassOf*`` /
    ``subPropertyOf*`` materialization a KG runs before type inference.

    Path DOUBLING, not one-hop semi-naive: after round k the closure
    covers paths of length ≤ 2^k, so a depth-d hierarchy converges in
    ⌈log2 d⌉ rounds (8 doublings cover depth 256 — any real ontology).
    Each round is one self-join of the current closure + distinct, then
    ``localCheckpoint`` so plan size stays O(1) in rounds (rule 23);
    convergence is detected by row count.  Cycles fail LOUDLY: the closure
    of a cyclic graph still converges (it is finite), so after convergence
    the operator probes for MUTUAL reachability (a≠b with both (a,b) and
    (b,a) present — true iff a directed cycle exists) and raises — a
    cyclic "subclass" graph is a data bug, and depth/entailment semantics
    over it are meaningless.  Overrunning ``max_doublings`` (depth >
    2^max_doublings) also raises rather than silently truncating.

    Scale shape: ontologies are dimension-sized (10^2–10^6 classes) next
    to the 100 TB assertion table — the closure is computed here in
    O(log d) dim-sized shuffles and then BROADCAST to the assertion scan
    (see ``kg_rdfs_closure``); the big table is never shuffled for
    inference."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = _nodes(e)
    reach = (
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
        .union(e)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = reach.count()
    for _ in range(max_doublings):
        x = reach.select(F.col("a").alias("xa"), F.col("b").alias("m"))
        y = reach.select(F.col("a").alias("m"), F.col("b").alias("yb"))
        doubled = x.join(y, "m").select(
            F.col("xa").alias("a"), F.col("yb").alias("b")
        )
        reach = reach.union(doubled).distinct().localCheckpoint(eager=True)
        n_now = reach.count()
        if n_now == n_prev:
            fwd = reach.filter(F.col("a") != F.col("b"))
            mutual = fwd.join(
                fwd.select(F.col("b").alias("a"), F.col("a").alias("b")),
                ["a", "b"],
            )
            if mutual.limit(1).count() > 0:
                raise RuntimeError(
                    "transitive_closure_doubling: the edge list contains a "
                    "directed CYCLE (mutually-reachable node pair found) — "
                    "subclass hierarchies must be acyclic; refusing to emit "
                    "entailment over a cyclic ontology."
                )
            return reach.select(
                F.col("a").alias("node"), F.col("b").alias("anc")
            )
        n_prev = n_now
    raise RuntimeError(
        f"transitive_closure_doubling did not converge in {max_doublings} "
        "doublings — either the hierarchy is deeper than "
        f"2**{max_doublings} or it contains a CYCLE (subclass graphs must "
        "be acyclic); refusing to return a truncated entailment."
    )


def personalized_pagerank_integer(
    edges: DataFrame,
    seed_pred: str,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DIRECTED ``edges(src, dst)`` → ``(node, rank_scaled)`` — the exact
    integer PERSONALIZED PageRank of ``oracle.graph.ppr_int``: teleport
    mass restricted to the seed set.  ``seed_pred`` is a SQL boolean
    template over the ``{node}`` placeholder (e.g. ``"{node} % 97 = 0"``)
    — the SAME string ``oracle.graph.ppr_sql`` embeds in the DuckDB twin,
    so both engines evaluate one predicate source (rule 6 by
    construction); the seed test is a codegen'd CASE, not a join.
    Nodes unreachable from every seed hold rank exactly 0 at any scale —
    the locality property that makes PPR the 'related entities' query."""
    return _int_pagerank(
        edges,
        src,
        dst,
        F.lit(1),
        iterations,
        init,
        d_num,
        d_den,
        is_seed=F.expr(seed_pred.format(node="node")),
    )


def seeded_sigma_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(seed, node, dist, sigma)``: per-seed bounded-hop BFS carrying
    shortest-path counts on the (seed, node) PAIR key — the per-source σ
    table Brandes-style combinations need (:func:`bfs_path_counts_df`
    merges the seed set; this keeps seeds separate).  All-integer — the
    caller owns the ``out_deg_max^max_hops`` int64 σ bound."""
    dist = _seeded_bfs(
        edges, seeds, max_hops, src, dst, node, per_seed=True, carry=_SIGMA
    )
    return dist.select("seed", "node", "dist", F.col("sig").alias("sigma"))


def stress_centrality_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(node, stress, n_pairs)``: bounded-hop STRESS CENTRALITY
    restricted to seed pairs — the exact twin of
    ``oracle.graph.stress_centrality`` (see its docstring for the
    Brandes pair-combination identity and the completeness argument;
    requires SYMMETRIC ``edges``).  No all-pairs state, no float σ
    ratios."""
    j = _seed_pair_paths(edges, seeds, max_hops, src, dst, node)
    return j.groupBy(F.col("v").alias("node")).agg(
        F.sum(F.col("sig_sv") * F.col("sig_tv")).cast("long").alias("stress"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


def scc_bounded_df(
    edges: DataFrame,
    doublings: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """``(node, comp)``: bounded-diameter STRONGLY CONNECTED COMPONENTS —
    the exact twin of ``oracle.graph.scc_bounded`` with ``max_hops =
    2**doublings`` (see its docstring for the bounded-semantics
    contract).  Unlike :func:`transitive_closure_doubling` this TOLERATES
    cycles — finding them is the point — by running a FIXED number of
    doubling rounds instead of converging + refusing.

    Scale shape: the reflexive pair set after round k holds paths ≤ 2^k
    hops — O(n · max_hops · avg_deg-cone) pairs, never the full O(n²)
    closure; each round is ONE self-join + distinct, localCheckpoint-ed
    (rule 23).  The mutual-reach filter is a self-join on the swapped
    pair; component labels are a min-agg.  At 100 TB the hop budget IS
    the state bound — SCCs wider than the budget split, loudly
    documented, never silently OOM."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .distinct()
    )
    nodes = _nodes(e)
    reach = (
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
        .union(e.filter(F.col("a") != F.col("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(doublings):
        x = reach.select(F.col("a").alias("xa"), F.col("b").alias("m"))
        y = reach.select(F.col("a").alias("m"), F.col("b").alias("yb"))
        reach = (
            x.join(y, "m")
            .select(F.col("xa").alias("a"), F.col("yb").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    mutual = reach.join(
        reach.select(F.col("b").alias("a"), F.col("a").alias("b")), ["a", "b"]
    )
    return mutual.groupBy(F.col("b").alias("node")).agg(
        F.min("a").cast("long").alias("comp")
    )


def eccentricity_bounded_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(seed, ecc, n_reached, sum_sigma)``: bounded-hop eccentricity
    profile — one map-side-combined agg over :func:`seeded_sigma_df`'s
    per-seed σ table (exact twin of ``oracle.graph.
    eccentricity_bounded``; see its docstring for the bounded-semantics
    contract)."""
    sig = seeded_sigma_df(edges, seeds, max_hops, src=src, dst=dst, node=node)
    return sig.groupBy("seed").agg(
        F.max("dist").cast("long").alias("ecc"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("sigma").cast("long").alias("sum_sigma"),
    )


def betweenness_ppm_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(node, betweenness_ppm, n_pairs)``: bounded-hop BETWEENNESS
    restricted to seed pairs — the σ-RATIO sibling of
    :func:`stress_centrality_df`, with Brandes' fraction
    ``σ_sv·σ_vt / σ_st`` made integer-exact (rule 11) as the per-pair
    term ``(1e6·σ_sv·σ_vt) DIV σ_st`` (the seed-pair distance table
    carries σ_st, so the division never leaves integer space and both
    twins evaluate the identical truncation).  Exact twin:
    ``oracle.graph.betweenness_sql`` / ``betweenness_ppm``."""
    j = _seed_pair_paths(edges, seeds, max_hops, src, dst, node)
    return j.groupBy(F.col("v").alias("node")).agg(
        F.sum(
            F.expr("CAST(1000000 AS BIGINT) * sig_sv * sig_tv DIV sig_st")
        )
        .cast("long")
        .alias("betweenness_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


def boruvka_msf(
    edges: DataFrame,
    max_rounds: int = 4,
    doublings: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Minimum spanning FOREST via distributed Borůvka — the classic
    O(log n)-round MSF algorithm (every component picks its cheapest
    outgoing edge each round, components merge along the picks), the
    backbone-extraction pass a weighted KG runs to thin redundant alias /
    similarity edges before serving.  REQUIRES DISTINCT edge weights
    (distinctness makes the MSF unique and every round deterministic —
    the caller fixtures hash weights injectively; with ties the picks
    would be order-dependent).

    Per round, all at edge/component grain (never all-pairs):
    1. label both edge endpoints with their component (two joins keyed on
       node — at 10^12 nodes these ride the same hash partitioning as the
       assignment table), drop intra-component edges;
    2. per-component argmin pick: one struct-min agg
       ``min((w, lu, lv, partner))`` — map-side combinable;
    3. the picks' partner pointers form a functional graph whose every
       merge group contains exactly ONE 2-cycle (the group's globally
       cheapest edge is picked from both sides — distinct weights);
       break it toward the smaller component id, then POINTER-DOUBLE
       ``doublings`` times so every component reaches its merge root
       (covers merge trees up to depth 2^doublings);
    4. relabel the assignment through the (component-grain) root map.

    Each level is ``localCheckpoint``-ed (rule 23).  Fails LOUDLY if
    cross-component edges remain after ``max_rounds`` — a silent early
    exit would return a partial forest that still looks plausible.
    Exact twins: ``oracle.graph.boruvka_msf_kernel`` (plain Python) and
    ``oracle.graph.boruvka_sql`` (unrolled DuckDB rounds).

    Returns forest edges ``(u, v, w, component)`` with u < v and
    ``component`` the final merge-root label of the containing tree."""
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    comp = (
        _nodes(e, "u", "v")
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    picked = []
    for _ in range(max_rounds):
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        cand = (
            e.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .select(
                "cu",
                "cv",
                "w",
                F.least("u", "v").alias("lu"),
                F.greatest("u", "v").alias("lv"),
            )
            .localCheckpoint(eager=True)
        )
        if cand.isEmpty():
            break
        oriented = cand.unionByName(
            cand.select(
                F.col("cv").alias("cu"),
                F.col("cu").alias("cv"),
                "w",
                "lu",
                "lv",
            )
        )
        ch = (
            oriented.groupBy("cu")
            .agg(
                F.min(
                    F.struct(
                        F.col("w"), F.col("lu"), F.col("lv"), F.col("cv")
                    )
                ).alias("m")
            )
            .select(
                F.col("cu").alias("c"),
                F.col("m.w").alias("w"),
                F.col("m.lu").alias("lu"),
                F.col("m.lv").alias("lv"),
                F.col("m.cv").alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        picked.append(ch.select("w", "lu", "lv").distinct())
        p0 = ch.select("c", "p")
        pp = p0.alias("x").join(
            p0.alias("y"), F.col("x.p") == F.col("y.c")
        ).select(
            F.col("x.c").alias("c"),
            F.when(
                (F.col("y.p") == F.col("x.c")) & (F.col("x.c") < F.col("x.p")),
                F.col("x.c"),
            )
            .otherwise(F.col("x.p"))
            .alias("p"),
        )
        pd = pp.localCheckpoint(eager=True)
        for _k in range(doublings):
            pd = (
                pd.alias("x")
                .join(pd.alias("y"), F.col("x.p") == F.col("y.c"), "left")
                .select(
                    F.col("x.c").alias("c"),
                    F.coalesce(F.col("y.p"), F.col("x.p")).alias("p"),
                )
                .localCheckpoint(eager=True)
            )
        comp = (
            comp.join(pd, comp.comp == pd.c, "left")
            .select(
                "node", F.coalesce(F.col("p"), F.col("comp")).alias("comp")
            )
            .localCheckpoint(eager=True)
        )
    else:
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        leftover = (
            e.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        )
        if not leftover.isEmpty():
            raise RuntimeError(
                f"boruvka_msf: cross-component edges remain after "
                f"{max_rounds} rounds — raise max_rounds (components "
                f"halve per round, so log2(max component size) rounds "
                f"suffice)"
            )
    if not picked:  # edgeless input: an empty forest, not a crash
        return e.select(
            F.col("u"), F.col("v"), F.col("w"), F.col("u").alias("component")
        ).limit(0)
    forest = picked[0]
    for d in picked[1:]:
        forest = forest.unionByName(d)
    return forest.join(
        comp.select(F.col("node").alias("lu"), F.col("comp").alias("component")),
        "lu",
    ).select(
        F.col("lu").alias("u"),
        F.col("lv").alias("v"),
        "w",
        "component",
    )


def closeness_profile_df(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(seed, n_reached, sum_dist, closeness_ppm)``: the bounded-hop
    CLOSENESS profile of ``oracle.graph.closeness_profile`` — the same
    per-seed BFS as :func:`harmonic_centrality_df`, aggregated to the
    exact integer numerator/denominator of closeness centrality plus the
    ppm ratio (``10^6 · n_reached DIV sum_dist`` — rule 11, no float
    boundary; isolated seeds → (0, 0, 0))."""
    dist = _seeded_bfs(edges, seeds, max_hops, src, dst, node, per_seed=True)
    agg = dist.groupBy("seed").agg(
        F.count(F.when(F.col("dist") > 0, 1)).cast("long").alias("n_reached"),
        F.coalesce(
            F.sum(F.when(F.col("dist") > 0, F.col("dist"))), F.lit(0)
        )
        .cast("long")
        .alias("sum_dist"),
    )
    return agg.select(
        F.col("seed").cast("long").alias("seed"),
        "n_reached",
        "sum_dist",
        F.when(
            F.col("sum_dist") > 0,
            F.expr("CAST(1000000 AS BIGINT) * n_reached DIV sum_dist"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("closeness_ppm"),
    )


def katz_centrality_df(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 8,
    base: int = 2,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """``(node, katz_scaled)``: exact-integer bounded KATZ centrality of
    ``oracle.graph.katz_int`` over DIRECTED edges — attenuation
    ``alpha = 1/base`` scaled by ``base**rounds`` so every term is a
    BIGINT (rule 11): walk-count vector ``w_k = A^T w_{k-1}`` (one join +
    one map-side-combined sum per round, localCheckpoint per level — rule
    23), score = ``Σ_{k=1..rounds} w_k · base**(rounds-k)``.  Nodes never
    reached by any walk score 0 (left join from the node universe).
    Scale shape: per round ONE shuffle on dst; state is one BIGINT per
    node — the same footprint as :func:`pagerank_integer`."""
    e = _edge_list(edges, src, dst)
    universe = nodes.select(F.col(node).cast("long").alias("node")).distinct()
    w = universe.select("node", F.lit(1).cast("long").alias("w"))
    contribs = None
    for k in range(1, rounds + 1):
        w = (
            w.join(e, w.node == e.a)
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum("w").cast("long").alias("w"))
            .localCheckpoint(eager=True)
        )
        lvl = w.select(
            "node", (F.col("w") * F.lit(base ** (rounds - k))).alias("c")
        )
        contribs = lvl if contribs is None else contribs.unionByName(lvl)
    scores = contribs.groupBy("node").agg(
        F.sum("c").cast("long").alias("katz_scaled")
    )
    return universe.join(scores, "node", "left").select(
        "node",
        F.coalesce(F.col("katz_scaled"), F.lit(0)).cast("long").alias(
            "katz_scaled"
        ),
    )


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 6,
    edge_id: str = "edge_id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic MAXIMAL MATCHING over undirected ``edges(edge_id,
    src, dst)`` — the edge-scheduling primitive behind conflict-free
    pairwise entity merges and the classic 2-approximate VERTEX COVER
    (cover = endpoints of the matching).  Re-expressed as the
    deterministic Luby MIS (:func:`maximal_independent_set`) on the LINE
    GRAPH: line-nodes are edge ids, line-edges connect edges sharing an
    endpoint, so an MIS of the line graph IS a maximal matching — one
    kernel, two operators (CLAUDE.md rule 6 at the operator level).

    Returns ``(edge_id, u, v, matched, mis_round)`` for every input edge
    that is not a self-loop (``matched`` BIGINT 0/1; ``mis_round`` = the
    MIS round that picked it, 0 when unmatched or isolated).  Self-loops
    (``src == dst``) are dropped: no matching can contain one.  Edge ids
    must lie in ``[0, MIS_MOD)`` — they are the line graph's node ids, see
    :func:`maximal_independent_set`.  ISOLATED edges (sharing no
    endpoint with any other edge) never enter the line graph; they are
    trivially in every maximal matching, so they come back ``matched=1,
    mis_round=0``.

    Scale shape: the line graph is built by ONE self-equi-join of the
    exploded endpoint table on ``node`` — Σ deg(v)² pairs, the same
    bound as a wedge enumeration; at bounded degree (alias graphs,
    chain+skip fixtures) that is O(m).  The MIS rounds then inherit the
    kernel's per-round join + MIN-agg + two anti-joins with
    ``localCheckpoint`` per round (rule 23).  The reference has no graph
    stage (``OICI_database.py:34-39``) — SURVEY §2.12 KG-scale extension.
    """
    base = (
        edges.select(
            F.col(edge_id).cast("long").alias("eid"),
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    ep = base.select("eid", F.col("u").alias("node")).union(
        base.select("eid", F.col("v").alias("node"))
    )
    e2 = ep.select(F.col("eid").alias("eid2"), "node")
    lg = (
        ep.join(e2, "node")
        .filter(F.col("eid") != F.col("eid2"))
        .select(F.col("eid").alias("a"), F.col("eid2").alias("b"))
        .distinct()
    )
    mis = maximal_independent_set(lg, max_rounds=max_rounds, src="a", dst="b")
    lg_nodes = lg.select(F.col("a").alias("eid")).distinct()
    return (
        base.join(
            mis.select(F.col("node").alias("eid"), "mis_round"), "eid", "left"
        )
        .join(
            lg_nodes.select("eid", F.lit(1).alias("_in_lg")), "eid", "left"
        )
        .select(
            F.col("eid").alias("edge_id"),
            "u",
            "v",
            F.when(
                F.col("mis_round").isNotNull() | F.col("_in_lg").isNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("matched"),
            F.coalesce(F.col("mis_round"), F.lit(0)).cast("long").alias(
                "mis_round"
            ),
        )
    )


def jones_plassmann_coloring(
    edges: DataFrame,
    max_rounds: int = 8,
    max_colors: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic Jones-Plassmann GREEDY COLORING over undirected
    ``edges`` → ``(node, color, jp_round)`` — the conflict-class
    assignment a KG maintenance pipeline uses to schedule entity updates
    touching shared neighbors into interference-free waves (all nodes of
    one color update in parallel).  Per simultaneous round every
    uncolored node that is a strict local MINIMUM of the scrambled
    priority among uncolored neighbors takes the mex of its colored
    neighbors' colors; for any edge the lower-priority endpoint colors
    strictly first, so the result EQUALS sequential greedy coloring in
    priority order — the equivalence the unrolled DuckDB twin
    (``oracle/graph.py:coloring_sql``) relies on.

    Scale shape: per round one join+MIN agg (ready detection — the MIS
    shape), one neighbor-color join, one broadcast candidate-color
    anti-join + MIN agg (mex — bounded by ``max_colors``, a constant),
    and two anti-joins shrinking the sets, every frame
    ``localCheckpoint``-ed (rule 23).  Priorities are the injective
    scramble (rule 11) so no tie-break is needed; overrunning
    ``max_rounds`` or exhausting ``max_colors`` raises LOUDLY.  Node ids
    must lie in ``[0, MIS_MOD)`` (see :func:`maximal_independent_set`)."""
    sym = _symmetric(edges, src, dst)
    _check_priority_ids(sym, "jones_plassmann_coloring")
    spark = edges.sparkSession
    cand = F.broadcast(
        spark.range(max_colors).select(F.col("id").cast("long").alias("color"))
    )
    uncolored = (
        sym.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=True)
    )
    colored = uncolored.select(
        "node",
        F.lit(0).cast("long").alias("color"),
        F.lit(0).cast("long").alias("jp_round"),
    ).limit(0)
    for r in range(1, max_rounds + 1):
        if uncolored.limit(1).count() == 0:
            break
        ua = uncolored.select(F.col("node").alias("a"))
        ub = uncolored.select(F.col("node").alias("b"))
        minnbr = (
            sym.join(ua, "a")
            .join(ub, "b")
            .groupBy("a")
            .agg(F.min(_priority("b")).alias("minp"))
        )
        ready = (
            uncolored.join(minnbr, uncolored.node == minnbr.a, "left")
            .filter(F.col("a").isNull() | (_priority("node") < F.col("minp")))
            .select("node")
            .localCheckpoint(eager=True)
        )
        nbr_colors = (
            sym.join(ready.select(F.col("node").alias("a")), "a")
            .join(
                colored.select(F.col("node").alias("b"), "color"), "b"
            )
            .select(F.col("a").alias("node"), "color")
        )
        mex = (
            ready.crossJoin(cand)
            .join(nbr_colors, ["node", "color"], "left_anti")
            .groupBy("node")
            .agg(F.min("color").alias("color"))
        )
        if mex.count() != ready.count():
            raise RuntimeError(
                "jones_plassmann_coloring exhausted max_colors — raise it "
                "together with the SQL twin's candidate budget."
            )
        colored = colored.unionByName(
            mex.select(
                "node", "color", F.lit(r).cast("long").alias("jp_round")
            )
        ).localCheckpoint(eager=True)
        uncolored = uncolored.join(ready, "node", "left_anti").localCheckpoint(
            eager=True
        )
    if uncolored.limit(1).count() > 0:
        raise RuntimeError(
            f"jones_plassmann_coloring did not color every node in "
            f"{max_rounds} rounds — raise max_rounds AND the SQL twin's "
            "unroll budget together."
        )
    return colored.select(
        F.col("node").cast("long"),
        F.col("color").cast("long"),
        F.col("jp_round").cast("long"),
    )


def widest_path_bounded(
    wedges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node: str = "node",
    source_cap: int = 1_000_000_000,
) -> DataFrame:
    """Bounded-round WIDEST PATH (max-min semiring): ``(node, cap)`` =
    the maximum over ≤``rounds``-hop paths from any seed of the MINIMUM
    edge weight along the path — the bottleneck-capacity / reliability
    routing query: :func:`sssp_bellman_ford`'s ``_relax_rounds`` with
    (max, min) in place of (min, +).  Seeds start at ``source_cap`` (an
    "infinite" source).  Unreached nodes are absent.  The unrolled SQL
    twin relaxes ALL nodes per round — identical maxima (the sssp_sql
    argument, flipped)."""
    e = _edge_list(wedges, src, dst, w=weight)
    return _relax_rounds(
        e,
        seeds,
        rounds,
        node,
        "cap",
        source_cap,
        F.least(F.col("cap"), F.col("w")),
        maximize=True,
    )
