"""Entity-graph analytics kernels — integer-exact PageRank and triangle
counting (pure Python, no Spark imports; rule 6: semantics live here and the
Spark operators + SQL twins both follow).

Why integer arithmetic: floating-point PageRank is NOT replayable across
engines (Spark partial aggregation and DuckDB both sum in data-dependent
order; doubles are non-associative). Scaling the rank to a BIGINT
(``init = 10**9``) and expressing the damping as integer ratios makes every
step exact integer math — sums are order-independent, ``//`` (truncating
integer division; all operands here are non-negative so truncation == floor)
matches Spark's ``DIV`` and DuckDB's ``//`` bit-for-bit, and the driver's
value-hash comparison holds at any corpus size.

Overflow bound: with ``init = 10**9`` the total rank mass is ``n * 10**9``;
the per-node incoming sum is bounded by the total, so the widest intermediate
``d_num * inc ≤ 85 * n * 10**9`` stays under 2**63 for ``n`` up to ~10**8
nodes per *gate fixture* (the production operator at 10**12 nodes would use a
smaller ``init`` or decimal(38) — see the operator docstring).

Ref: the reference has no graph stage — alias resolution is one-hop
(``OICI_database.py:34-39``). Ranking canonical entities by alias-graph
centrality and measuring clustering (triangles) are this repo's KG-scale
extensions (SURVEY §2.12), the "graph materialize" half of the north rule.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, Iterable, List, Tuple

INIT = 10**9
D_NUM = 85
D_DEN = 100


def pagerank_int(
    edges: Iterable[Tuple[int, int]],
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> Dict[int, int]:
    """Integer PageRank over DIRECTED ``edges`` (pass both directions for an
    undirected graph). Returns ``{node: rank_scaled}``.

    Update rule (all integer)::

        base     = ((d_den - d_num) * init) // d_den
        contrib  = rank(u) // out_degree(u)          # to each out-neighbor
        rank'(v) = base + (d_num * sum(contrib)) // d_den

    Nodes with no out-edges (dangling) keep contributing nothing — the
    standard simplification; the gate fixture symmetrizes its edges so no
    node dangles and both twins agree without a redistribution term.
    """
    out: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in edges:
        nodes.add(a)
        nodes.add(b)
        out[a].append(b)
    base = ((d_den - d_num) * init) // d_den
    rank = {v: init for v in nodes}
    for _ in range(iterations):
        inc: Dict[int, int] = defaultdict(int)
        for u, nbrs in out.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                inc[v] += c
        rank = {v: base + (d_num * inc.get(v, 0)) // d_den for v in nodes}
    return rank


def triangle_counts(edges: Iterable[Tuple[int, int]]) -> Dict[int, int]:
    """Per-node triangle participation counts over an UNDIRECTED graph
    (edges may arrive in either orientation; duplicates and self-loops are
    dropped). Each triangle {a,b,c} adds 1 to each of a, b, c."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: Dict[int, set] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    counts: Dict[int, int] = defaultdict(int)
    for a, b in und:
        for c in nbrs[a] & nbrs[b]:
            if c > b:  # enumerate each triangle once (a < b < c)
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
    return dict(counts)


def pagerank_sql(
    graph_ctes: str,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> str:
    """Unrolled-iteration DuckDB twin of :func:`pagerank_int`.

    ``graph_ctes`` must define a CTE ``sym(a, b)`` — the directed edge list
    (already symmetrized for undirected graphs). ``deg``/``nodes``/``sym``
    are referenced once per unrolled level, so they are declared
    ``MATERIALIZED`` (rule 30: DuckDB inlines non-materialized CTEs per
    reference — K references would re-plan the graph K times). Each ``r{k}``
    level is referenced exactly once by ``r{k+1}`` so levels need no
    materialization and the plan grows linearly in ``iterations``.
    """
    base = ((d_den - d_num) * init) // d_den
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),",
        f"r0 AS (SELECT node, CAST({init} AS BIGINT) AS r FROM nodes),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"inc{k} AS (SELECT s.b AS node, SUM(r.r // deg.d) AS inc "
            f"FROM r{k - 1} r JOIN sym s ON s.a = r.node "
            f"JOIN deg ON deg.a = r.node GROUP BY s.b),"
        )
        parts.append(
            f"r{k} AS (SELECT n.node, CAST({base} AS BIGINT) + "
            f"({d_num} * COALESCE(i.inc, 0)) // {d_den} AS r "
            f"FROM nodes n LEFT JOIN inc{k} i ON i.node = n.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST(r AS BIGINT) AS rank_scaled FROM r{iterations}"
    )
    return "\n".join(parts)


def wpagerank_int(
    wedges: Iterable[Tuple[int, int, int]],
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> Dict[int, int]:
    """EDGE-WEIGHTED integer PageRank over DIRECTED ``wedges(a, b, w)``
    (positive integer weights — e.g. the ppm confidences
    ``kg_edge_confidence`` materializes): contributions split
    proportionally to weight instead of uniformly::

        contrib(u→v) = (rank(u) * w(u→v)) // sum_w(u)
        rank'(v)     = base + (d_num * sum(contrib)) // d_den

    Every contribution is a pure integer function of (rank, w, sum_w) —
    order-independent sums, engine-exact (rule 11).  Overflow bound:
    ``rank * w ≤ n·init·w_max`` must stay under 2**63 — with init 10^9
    and w ≤ 10^6 that caps the gate fixture at ~9k effective mass units;
    the entry query uses w ≤ 5 so any sf is safe."""
    out: Dict[int, List[Tuple[int, int]]] = defaultdict(list)
    sw: Dict[int, int] = defaultdict(int)
    nodes = set()
    for a, b, w in wedges:
        nodes.add(a)
        nodes.add(b)
        out[a].append((b, w))
        sw[a] += w
    base = ((d_den - d_num) * init) // d_den
    rank = {v: init for v in nodes}
    for _ in range(iterations):
        inc: Dict[int, int] = defaultdict(int)
        for u, nbrs in out.items():
            ru, su = rank[u], sw[u]
            for v, w in nbrs:
                inc[v] += (ru * w) // su
        rank = {v: base + (d_num * inc.get(v, 0)) // d_den for v in nodes}
    return rank


def wpagerank_sql(
    graph_ctes: str,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> str:
    """Unrolled-iteration DuckDB twin of :func:`wpagerank_int`.
    ``graph_ctes`` must define ``wsym(a, b, w)`` — the weighted directed
    edge list.  Same MATERIALIZED discipline as :func:`pagerank_sql`."""
    base = ((d_den - d_num) * init) // d_den
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "swt AS MATERIALIZED (SELECT a, SUM(w) AS sw FROM wsym GROUP BY a),",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM wsym),",
        f"r0 AS (SELECT node, CAST({init} AS BIGINT) AS r FROM nodes),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"inc{k} AS (SELECT s.b AS node, SUM((r.r * s.w) // swt.sw) AS inc "
            f"FROM r{k - 1} r JOIN wsym s ON s.a = r.node "
            f"JOIN swt ON swt.a = r.node GROUP BY s.b),"
        )
        parts.append(
            f"r{k} AS (SELECT n.node, CAST({base} AS BIGINT) + "
            f"({d_num} * COALESCE(i.inc, 0)) // {d_den} AS r "
            f"FROM nodes n LEFT JOIN inc{k} i ON i.node = n.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST(r AS BIGINT) AS rank_scaled FROM r{iterations}"
    )
    return "\n".join(parts)


def kcore_nodes(
    edges: Iterable[Tuple[int, int]], k: int
) -> Dict[int, int]:
    """k-core of an UNDIRECTED graph: iteratively peel nodes with degree
    < k until fixpoint; returns ``{node: degree_within_core}`` for the
    survivors. Deterministic — the fixpoint is independent of peel order."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: Dict[int, set] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    alive = set(nbrs)
    while True:
        bad = {v for v in alive if sum(1 for u in nbrs[v] if u in alive) < k}
        if not bad:
            break
        alive -= bad
    return {
        v: sum(1 for u in nbrs[v] if u in alive) for v in alive
    }


def kcore_peel_rounds(edges: Iterable[Tuple[int, int]], k: int) -> int:
    """Number of simultaneous-peel rounds to reach the k-core fixpoint
    (the quantity the unrolled SQL twin must cover)."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: Dict[int, set] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    alive = set(nbrs)
    rounds = 0
    while True:
        bad = {v for v in alive if sum(1 for u in nbrs[v] if u in alive) < k}
        if not bad:
            return rounds
        alive -= bad
        rounds += 1


def kcore_sql(graph_ctes: str, k: int, rounds: int) -> str:
    """Unrolled simultaneous-peel DuckDB twin of :func:`kcore_nodes`.

    ``graph_ctes`` must define ``sym(a, b)`` — the symmetrized edge list.
    ``rounds`` must be ≥ the fixpoint peel-round count (extra rounds are
    no-ops on the stable core; the Spark operator fails LOUDLY if the
    graph needs more rounds than the twin unrolls, so divergence is
    impossible to miss). Every survivor set ``a{r}`` and surviving edge
    list ``s{r}`` is referenced twice downstream → MATERIALIZED (rule 30).
    """
    parts = ["WITH", graph_ctes.rstrip().rstrip(","), ","]
    prev = "sym"
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS (SELECT a, COUNT(*) AS c FROM {prev} GROUP BY a),"
        )
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT a AS node FROM d{r} WHERE c >= {k}),"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT s.a, s.b FROM {prev} s "
            f"JOIN a{r} x ON x.node = s.a JOIN a{r} y ON y.node = s.b),"
        )
        prev = f"s{r}"
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(a AS BIGINT) AS node, "
        f"CAST(COUNT(*) AS BIGINT) AS core_degree FROM {prev} GROUP BY a"
    )
    return "\n".join(parts)


def bfs_levels(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, int]:
    """Bounded-hop BFS over DIRECTED ``edges(a, b)`` (pass both directions
    for undirected graphs): ``{node: min hops from any seed}`` for every
    node reachable within ``max_hops``; unreachable nodes are ABSENT — the
    k-hop-neighborhood contract. Seeds always appear at dist 0, even when
    isolated. Deterministic: levels are simultaneous (a node's dist is the
    first level that reaches it, which equals the min over all paths)."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    dist = {int(s): 0 for s in seeds}
    frontier = set(dist)
    for k in range(1, max_hops + 1):
        nxt = {b for a in frontier for b in nbrs.get(a, ())} - dist.keys()
        for b in nxt:
            dist[b] = k
        frontier = nxt
        if not frontier:
            break
    return dist


def bfs_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled-level DuckDB twin of :func:`bfs_levels`.

    ``graph_ctes`` must define ``sym(a, b)`` (the directed edge list,
    symmetrized for undirected graphs) and ``seeds(node)``. Each level's
    dist table ``d{k}`` is referenced twice (next level's union + the
    frontier extraction) → MATERIALIZED (rule 30); frontiers ``f{k}`` are
    referenced once and stay inline. min() over the union of the previous
    dist table and the frontier expansion at level k equals first-reach
    BFS — the kernel's loop — because re-reached nodes keep their smaller
    earlier level."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),",
        "f0 AS (SELECT node FROM d0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT s.b AS node, CAST({k} AS BIGINT) AS dist "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node),"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM "
            f"(SELECT node, dist FROM d{k - 1} UNION ALL "
            f"SELECT node, dist FROM u{k}) GROUP BY node),"
        )
        parts.append(f"f{k} AS (SELECT node FROM d{k} WHERE dist = {k}),")
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist "
        f"FROM d{max_hops}"
    )
    return "\n".join(parts)


_WALK_MOD = 1_000_000_007
_WALK_SCRAMBLE = 2654435761


def _walk_poly(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % _WALK_MOD
    return (h * _WALK_SCRAMBLE) % _WALK_MOD


def random_walks_kernel(
    edges: Iterable[Tuple[int, int]], length: int, n_walks: int
) -> List[Tuple[int, int, int, int]]:
    """Pure-Python twin of ``operators/graph.random_walks``: (start, walk,
    step, node) rows for deterministic hash-driven walks (next hop =
    ``scramble(poly(start|walk|step|cur)) % degree``, neighbors ordered
    by id)."""
    adj: Dict[int, List[int]] = defaultdict(list)
    for a, b in sorted(set(edges)):
        adj[a].append(b)
    out: List[Tuple[int, int, int, int]] = []
    for start in sorted(adj):
        for w in range(n_walks):
            cur = start
            out.append((start, w, 0, cur))
            for t in range(1, length + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                h = _walk_poly(f"{start}|{w}|{t}|{cur}")
                cur = nbrs[h % len(nbrs)]
                out.append((start, w, t, cur))
    return out


def label_prop(
    edges: Iterable[Tuple[int, int]], rounds: int
) -> Dict[int, int]:
    """Deterministic synchronous label propagation (community detection)
    over DIRECTED ``edges(a, b)`` (pass both directions for undirected
    graphs). Returns ``{node: community_label}`` after exactly ``rounds``
    synchronous updates.

    Update rule: every node starts labeled with its own id; each round,
    node ``v`` adopts the label with the highest vote count among its
    in-neighbors' labels PLUS ONE self-vote for its current label, ties
    broken by the SMALLEST label — a pure integer argmin over
    ``(-count, label)``, so the result is independent of iteration order,
    partitioning, and engine. The self-vote damps the 2-cycle oscillation
    classic synchronous LPA exhibits on bipartite structures; with a fixed
    round budget the output is simply the round-``rounds`` state, which
    both twins replay exactly (convergence is NOT required for
    correctness).

    Ref: the reference has no graph stage (one-hop alias resolution,
    ``OICI_database.py:34-39``); community detection over the alias/
    co-mention graph is this repo's KG-scale extension (SURVEY §2.12),
    pairing with ``pagerank_int``/``kcore_nodes`` over the same edges.
    """
    in_nbrs: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in edges:
        nodes.add(a)
        nodes.add(b)
        in_nbrs[b].append(a)
    lab = {v: v for v in nodes}
    for _ in range(rounds):
        new = {}
        for v in nodes:
            cnt: Dict[int, int] = defaultdict(int)
            for u in in_nbrs.get(v, ()):
                cnt[lab[u]] += 1
            cnt[lab[v]] += 1
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    return lab


def label_prop_sql(graph_ctes: str, rounds: int) -> str:
    """Unrolled-round DuckDB twin of :func:`label_prop`.

    ``graph_ctes`` must define ``sym(a, b)`` — the directed edge list
    (symmetrized for undirected graphs). Each label table ``l{k}`` is
    referenced twice by round ``k+1`` (the neighbor-vote join and the
    self-vote union) → MATERIALIZED (rule 30). The per-round pick is
    ``row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1`` —
    the same integer ``(-count, label)`` argmin the kernel and the Spark
    struct-min compute."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT a AS node FROM sym UNION ALL SELECT b AS node FROM sym)),",
        "l0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"v{k} AS (SELECT s.b AS node, l.lab "
            f"FROM l{k - 1} l JOIN sym s ON s.a = l.node "
            f"UNION ALL SELECT node, lab FROM l{k - 1}),"
        )
        parts.append(
            f"c{k} AS (SELECT node, lab, COUNT(*) AS c FROM v{k} "
            f"GROUP BY node, lab),"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT node, lab FROM ("
            f"SELECT node, lab, row_number() OVER "
            f"(PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c{k}"
            f") WHERE rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST(lab AS BIGINT) AS community FROM l{rounds}"
    )
    return "\n".join(parts)


def random_walks_sql(graph_ctes: str, length: int, n_walks: int) -> str:
    """Unrolled-step DuckDB twin of :func:`random_walks_kernel`.

    ``graph_ctes`` must define ``sym(a, b)``. Each step is one join of
    the frontier against the ranked adjacency on the hash-selected rank;
    adjacency/degree feed every step → MATERIALIZED (rule 30)."""
    poly = (
        "(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(regexp_extract_all({expr}, '.'), "
        "x -> CAST(ascii(x) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {_WALK_MOD}) * {_WALK_SCRAMBLE}) % {_WALK_MOD}"
    )
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "adj AS MATERIALIZED (SELECT a, b, CAST(row_number() OVER "
        "(PARTITION BY a ORDER BY b) AS BIGINT) AS rank "
        "FROM (SELECT DISTINCT a, b FROM sym)),",
        "dg AS MATERIALIZED (SELECT a, CAST(max(rank) AS BIGINT) AS deg "
        "FROM adj GROUP BY a),",
        f"s0 AS MATERIALIZED (SELECT start, CAST(w.w AS BIGINT) AS walk, "
        f"start AS node FROM (SELECT DISTINCT a AS start FROM adj) st, "
        f"unnest(range(0, {n_walks})) w(w)),",
    ]
    for t in range(1, length + 1):
        expr = poly.format(
            expr=(
                "CAST(s.start AS VARCHAR) || '|' || CAST(s.walk AS VARCHAR)"
                f" || '|{t}|' || CAST(s.node AS VARCHAR)"
            )
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT s.start, s.walk, adj.b AS node "
            f"FROM s{t - 1} s JOIN dg ON dg.a = s.node "
            f"JOIN adj ON adj.a = s.node AND adj.rank = ({expr}) % dg.deg + 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    selects = " UNION ALL ".join(
        f"SELECT start, walk, CAST({t} AS BIGINT) AS step, node FROM s{t}"
        for t in range(length + 1)
    )
    parts.append(selects)
    return "\n".join(parts)


def sssp_weighted(
    wedges: Iterable[Tuple[int, int, int]],
    seeds: Iterable[int],
    rounds: int,
) -> Dict[int, int]:
    """Bounded-round Bellman-Ford over DIRECTED integer-weighted
    ``wedges(a, b, w)``: ``{node: min cost over paths of <= rounds hops
    from any seed}``; nodes unreachable within the round budget are
    ABSENT.  Like :func:`bfs_levels` the round-K state is well-defined
    whether or not the fixpoint is reached (it is exactly the <=K-hop
    shortest distance), so a gate may pin any K.  All-integer arithmetic
    — order-independent mins, bit-exact on any partitioning."""
    adj: Dict[int, List[Tuple[int, int]]] = defaultdict(list)
    for a, b, w in wedges:
        adj[a].append((b, w))
    dist = {int(s): 0 for s in seeds}
    changed = set(dist)
    for _ in range(rounds):
        upd: Dict[int, int] = {}
        for a in changed:
            da = dist[a]
            for b, w in adj.get(a, ()):
                nd = da + w
                if nd < dist.get(b, nd + 1) and nd < upd.get(b, nd + 1):
                    upd[b] = nd
        changed = set()
        for b, nd in upd.items():
            if nd < dist.get(b, nd + 1):
                dist[b] = nd
                changed.add(b)
        if not changed:
            break
    return dist


def sssp_sql(graph_ctes: str, rounds: int) -> str:
    """Unrolled-round DuckDB twin of :func:`sssp_weighted`.

    ``graph_ctes`` must define ``wedges(a, b, w)`` (directed, integer
    weights) and ``seeds(node)``.  Each round's dist table ``d{k}`` is
    referenced twice (relax + carry) → MATERIALIZED (rule 30).  Unlike
    BFS there is no frontier extraction in SQL — relaxing ALL current
    dists every round computes the same <=K-hop minima (extra
    relaxations re-derive existing minima); the Spark operator's
    changed-only frontier is a pure work optimization."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{k - 1} UNION ALL "
            f"SELECT e.b AS node, d.dist + e.w AS dist "
            f"FROM d{k - 1} d JOIN wedges e ON e.a = d.node) GROUP BY node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist "
        f"FROM d{rounds}"
    )
    return "\n".join(parts)


def bfs_path_counts(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, Tuple[int, int]]:
    """Level-synchronous BFS with SHORTEST-PATH COUNTING over DIRECTED
    ``edges(a, b)``: ``{node: (dist, sigma)}`` where ``dist`` is the min
    hop count from the seed set and ``sigma`` the number of distinct
    shortest paths from any seed (each seed roots sigma 1 at dist 0) —
    the σ table of Brandes' betweenness algorithm, and per se the
    "how redundantly is this entity connected to the seed set" signal a
    KG serves next to plain k-hop distance.  Nodes unreached within
    ``max_hops`` are ABSENT.  All-integer: sums over a fixed level
    structure are order-independent, so the value is engine-exact.

    Growth bound: sigma ≤ out_deg_max^dist — callers must keep
    ``max_hops`` small enough that the bound stays inside int64 (the gate
    fixture: degree ≤ 2, 8 hops → ≤ 2^8)."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    dist: Dict[int, int] = {int(s): 0 for s in seeds}
    sigma: Dict[int, int] = {int(s): 1 for s in seeds}
    frontier = set(dist)
    for k in range(1, max_hops + 1):
        acc: Dict[int, int] = defaultdict(int)
        for a in frontier:
            for b in nbrs.get(a, ()):
                acc[b] += sigma[a]
        nxt = set()
        for b, s in acc.items():
            if b not in dist:
                dist[b] = k
                sigma[b] = s
                nxt.add(b)
        frontier = nxt
        if not frontier:
            break
    return {v: (dist[v], sigma[v]) for v in dist}


def bfs_sigma_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled-level DuckDB twin of :func:`bfs_path_counts`.

    ``graph_ctes`` must define ``sym(a, b)`` (directed edge list) and
    ``seeds(node)``.  Per level: the frontier's sigma mass is pushed one
    hop (join + SUM group), then only NOT-YET-REACHED nodes are admitted
    (anti-join against the previous dist table) — exactly the kernel's
    first-reach rule; already-reached nodes never change, so each level's
    table ``d{k}`` is append-only.  ``d{k}`` is referenced twice (carry +
    anti-join) → MATERIALIZED (rule 30)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist, "
        "CAST(1 AS BIGINT) AS sig FROM seeds),",
        "f0 AS (SELECT node, sig FROM d0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT s.b AS node, SUM(f.sig) AS sig "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node GROUP BY s.b),"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, dist, sig FROM d{k - 1} "
            f"UNION ALL SELECT u.node, CAST({k} AS BIGINT), u.sig FROM u{k} u "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{k - 1} x WHERE x.node = u.node)),"
        )
        parts.append(f"f{k} AS (SELECT node, sig FROM d{k} WHERE dist = {k}),")
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist, "
        f"CAST(sig AS BIGINT) AS sigma FROM d{max_hops}"
    )
    return "\n".join(parts)


def bfs_nearest_seed(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, Tuple[int, int]]:
    """Graph VORONOI assignment over DIRECTED ``edges(a, b)``:
    ``{node: (dist, seed)}`` — each node labeled with its NEAREST seed
    (min hop count; ties at equal distance → the smallest seed id among
    the winners AT FIRST REACH, propagated forward).  Nodes unreached
    within ``max_hops`` are ABSENT — the hub-assignment partitioning a KG
    uses to route entities to their serving shard.  Deterministic: levels
    are simultaneous and the per-level pick is an integer min, so the
    result is partition- and engine-exact.

    Tie semantics (both twins implement exactly this): a node first
    reached at level k takes the MIN over the seeds carried by its
    level-(k-1) in-neighbors; the chosen seed is what propagates — i.e.
    the label is the min-id seed along a shortest path frontier, the
    standard deterministic multi-source BFS labeling."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    best: Dict[int, Tuple[int, int]] = {int(s): (0, int(s)) for s in seeds}
    frontier = {v: s for v, (_, s) in best.items()}
    for k in range(1, max_hops + 1):
        acc: Dict[int, int] = {}
        for a, s in frontier.items():
            for b in nbrs.get(a, ()):
                if b not in best:
                    acc[b] = min(acc.get(b, s), s)
        frontier = {}
        for b, s in acc.items():
            best[b] = (k, s)
            frontier[b] = s
        if not frontier:
            break
    return best


def nearest_seed_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled-level DuckDB twin of :func:`bfs_nearest_seed`.

    ``graph_ctes`` must define ``sym(a, b)`` and ``seeds(node)``.  Per
    level: the frontier's seed labels push one hop (join + MIN group),
    then only NOT-YET-REACHED nodes are admitted (anti-join) — first
    reach wins, min seed breaks level ties.  ``d{k}`` carries + anti-joins
    → MATERIALIZED (rule 30)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist, "
        "CAST(node AS BIGINT) AS seed FROM seeds),",
        "f0 AS (SELECT node, seed FROM d0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT s.b AS node, MIN(f.seed) AS seed "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node GROUP BY s.b),"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, dist, seed FROM d{k - 1} "
            f"UNION ALL SELECT u.node, CAST({k} AS BIGINT), u.seed FROM u{k} u "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{k - 1} x WHERE x.node = u.node)),"
        )
        parts.append(f"f{k} AS (SELECT node, seed FROM d{k} WHERE dist = {k}),")
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist, "
        f"CAST(seed AS BIGINT) AS seed FROM d{max_hops}"
    )
    return "\n".join(parts)


def closure_pairs(
    edges: Iterable[Tuple[int, int]]
) -> set:
    """Reflexive-transitive closure of a DIRECTED ACYCLIC edge list:
    ``{(node, anc)}`` for every node and every ancestor reachable along
    edges (each node is its own ancestor) — the ``subClassOf*`` kernel.
    Raises on cycles (entailment over a cyclic subclass graph is a data
    bug the distributed operator also refuses)."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.add(a)
        nodes.add(b)
        nbrs[a].append(b)
    out = set()
    for start in nodes:
        seen = {start}
        stack = [start]
        while stack:
            cur = stack.pop()
            out.add((start, cur))
            for nxt in nbrs.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
    for a, b in out:
        if a != b and (b, a) in out:
            raise RuntimeError(
                "cycle detected in subclass edges (mutually-reachable pair "
                f"{a}<->{b}) — entailment over a cyclic hierarchy refused"
            )
    return out


def closure_sql(graph_ctes: str) -> str:
    """Recursive-CTE DuckDB twin of :func:`closure_pairs`.

    ``graph_ctes`` must define ``cedges(a, b)`` — the directed (child →
    parent) edge list.  UNION (not UNION ALL) deduplicates per step, so
    the recursion terminates on any DAG; the result is the same
    reflexive-transitive pair set the doubling operator materializes.
    Returns a query whose output is ``(node, anc)``."""
    return (
        "WITH RECURSIVE\n"
        + graph_ctes.rstrip().rstrip(",")
        + """,
cnodes AS MATERIALIZED (SELECT a AS node FROM cedges UNION SELECT b FROM cedges),
anc AS (
  SELECT node, node AS anc FROM cnodes
  UNION
  SELECT x.node, e.b AS anc FROM anc x JOIN cedges e ON e.a = x.anc
)
SELECT CAST(node AS BIGINT) AS node, CAST(anc AS BIGINT) AS anc FROM anc"""
    )


MIS_MUL = 2654435761
MIS_MOD = 1_000_000_007


def mis_priority(v: int) -> int:
    """Deterministic scrambled priority for Luby-style MIS: ``(v * MUL) %
    MOD`` — injective for node ids below MOD (MUL is invertible mod the
    prime), so priorities are DISTINCT and no tie-break is needed.  Pure
    integer arithmetic, bit-identical in any engine (rule 11)."""
    return (v * MIS_MUL) % MIS_MOD


def mis_luby(
    edges: Iterable[Tuple[int, int]], max_rounds: int = 32
) -> Dict[int, int]:
    """Deterministic Luby maximal independent set over an UNDIRECTED graph
    (edges in any orientation; self-loops dropped): ``{node: round}`` for
    every MIS member, where ``round`` (1-based) is the simultaneous round
    it joined.  Per round every undecided node whose priority is a strict
    local minimum among UNDECIDED neighbors joins; it and its neighbors
    leave the undecided set.  Scrambled priorities make the expected round
    count O(log n) (id-ordered priorities would serialize a chain to O(n));
    determinism: priorities are a pure function of the id, rounds are
    simultaneous, so the result is partition- and engine-independent.
    Raises if the undecided set is non-empty after ``max_rounds`` — the
    unrolled SQL twin covers a fixed budget, so overrunning it must fail
    loudly, not silently truncate (kcore's contract)."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: Dict[int, set] = defaultdict(set)
    nodes = set()
    for a, b in und:
        nodes.add(a)
        nodes.add(b)
        nbrs[a].add(b)
        nbrs[b].add(a)
    undecided = set(nodes)
    out: Dict[int, int] = {}
    for r in range(1, max_rounds + 1):
        if not undecided:
            return out
        winners = {
            v
            for v in undecided
            if all(
                mis_priority(v) < mis_priority(u)
                for u in nbrs[v]
                if u in undecided
            )
        }
        for v in winners:
            out[v] = r
        undecided -= winners
        for v in winners:
            undecided -= nbrs[v]
    if undecided:
        raise RuntimeError(
            f"mis_luby did not decide every node in {max_rounds} rounds"
        )
    return out


def mis_sql(
    graph_ctes: str, rounds: int, final_select: str | None = None
) -> str:
    """Unrolled-round DuckDB twin of :func:`mis_luby`.

    ``graph_ctes`` must define ``sym(a, b)`` — the SYMMETRIZED edge list.
    Per round: the min undecided-neighbor priority per undecided node
    (join + MIN group), winners = strict local minima (or no undecided
    neighbor at all), then winners and their neighbors leave the
    undecided set.  Undecided sets and winner sets are referenced
    multiple times → MATERIALIZED (rule 30).  Extra rounds past the
    fixpoint are no-ops (empty undecided set), so the budget only needs
    to be ≥ the true round count — the Spark operator raises if the graph
    needs more."""
    pri = f"(({{v}}) * {MIS_MUL}) % {MIS_MOD}"
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "u0 AS MATERIALIZED (SELECT a AS node FROM sym "
        "UNION SELECT b FROM sym),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"m{r} AS (SELECT s.a AS node, "
            f"MIN({pri.format(v='s.b')}) AS minp "
            f"FROM sym s JOIN u{r - 1} ub ON ub.node = s.b "
            f"JOIN u{r - 1} ua ON ua.node = s.a GROUP BY s.a),"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT u.node FROM u{r - 1} u "
            f"LEFT JOIN m{r} m ON m.node = u.node "
            f"WHERE m.node IS NULL OR {pri.format(v='u.node')} < m.minp),"
        )
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT node FROM u{r - 1} "
            f"WHERE node NOT IN (SELECT node FROM w{r}) "
            f"AND node NOT IN (SELECT s.b FROM sym s "
            f"JOIN w{r} w ON w.node = s.a)),"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST({r} AS BIGINT) AS mis_round FROM w{r}"
        for r in range(1, rounds + 1)
    )
    if final_select is None:
        parts[-1] = parts[-1].rstrip(",")
        parts.append(selects)
    else:
        parts.append(f"mis AS MATERIALIZED ({selects})")
        parts.append(final_select)
    return "\n".join(parts)


def matching_sql(edge_ctes: str, rounds: int) -> str:
    """Unrolled DuckDB twin of ``operators.graph.maximal_matching``: the
    deterministic Luby MIS (:func:`mis_sql` — ONE shared unroll, rule 6)
    run on the LINE GRAPH of ``edge_ctes``'s ``edges_base(eid, u, v)``.
    Line-nodes are edge ids; ``sym`` pairs edges sharing an endpoint (the
    exploded-endpoint self-join, already symmetric since both orders of
    each pair appear).  Isolated edges never enter the line graph and
    come back ``matched=1, mis_round=0`` — trivially in every maximal
    matching — and self-loops (``u = v``) are dropped — exactly the
    operator's contract."""
    graph_ctes = (
        edge_ctes.rstrip().rstrip(",")
        + """,
edges_nl AS MATERIALIZED (SELECT eid, u, v FROM edges_base WHERE u <> v),
ep AS MATERIALIZED (
  SELECT eid, u AS node FROM edges_nl
  UNION ALL SELECT eid, v AS node FROM edges_nl
),
sym AS MATERIALIZED (
  SELECT DISTINCT e1.eid AS a, e2.eid AS b
  FROM ep e1 JOIN ep e2 ON e1.node = e2.node AND e1.eid <> e2.eid
)
"""
    )
    final = """
SELECT CAST(e.eid AS BIGINT) AS edge_id,
       CAST(e.u AS BIGINT) AS u,
       CAST(e.v AS BIGINT) AS v,
       CAST(CASE WHEN m.node IS NOT NULL
                 OR e.eid NOT IN (SELECT a FROM sym)
            THEN 1 ELSE 0 END AS BIGINT) AS matched,
       CAST(COALESCE(m.mis_round, 0) AS BIGINT) AS mis_round
FROM edges_nl e LEFT JOIN mis m ON m.node = e.eid
"""
    return mis_sql(graph_ctes, rounds, final_select=final)


HARMONIC_SCALE = 840  # lcm(1..8): 840 DIV d is EXACT for any hop count <= 8


def harmonic_centrality(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int = 8,
) -> Dict[int, int]:
    """Bounded-hop HARMONIC CENTRALITY of each seed over DIRECTED
    ``edges(a, b)``: ``H(s) = Σ_{v reached, v≠s} SCALE DIV d(s, v)`` with
    ``SCALE = 840 = lcm(1..8)`` so every per-node contribution is an
    EXACT integer for hop counts ≤ 8 (rule 11 — harmonic centrality's
    1/d fractions made engine-exact by choosing the scale, the same trick
    as the ppm ratios).  The bounded-hop restriction is the standard
    serving form (full harmonic needs all-pairs BFS).  Returns
    ``{seed: h_scaled}``; isolated seeds score 0."""
    if max_hops > 8:
        raise ValueError("HARMONIC_SCALE is exact only for max_hops <= 8")
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    out: Dict[int, int] = {}
    for s in seeds:
        dist = {int(s): 0}
        frontier = {int(s)}
        total = 0
        for k in range(1, max_hops + 1):
            nxt = {b for a in frontier for b in nbrs.get(a, ())} - dist.keys()
            for b in nxt:
                dist[b] = k
                total += HARMONIC_SCALE // k
            frontier = nxt
            if not frontier:
                break
        out[int(s)] = total
    return out


def harmonic_sql(graph_ctes: str, max_hops: int = 8) -> str:
    """Unrolled-level DuckDB twin of :func:`harmonic_centrality`.

    ``graph_ctes`` must define ``sym(a, b)`` and ``seeds(node)``.  The
    BFS carries the (seed, node) PAIR key — per-seed distances, not the
    merged multi-source minimum — so each level's first-reach anti-join
    and the final ``SUM(840 // dist)`` are per seed.  ``d{k}``
    MATERIALIZED per rule 30."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node AS seed, node, "
        "CAST(0 AS BIGINT) AS dist FROM seeds),",
        "f0 AS (SELECT seed, node FROM d0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT DISTINCT f.seed, s.b AS node "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node),"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT seed, node, dist FROM d{k - 1} "
            f"UNION ALL SELECT u.seed, u.node, CAST({k} AS BIGINT) FROM u{k} u "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{k - 1} x "
            f"WHERE x.seed = u.seed AND x.node = u.node)),"
        )
        parts.append(
            f"f{k} AS (SELECT seed, node FROM d{k} WHERE dist = {k}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(seed AS BIGINT) AS seed, "
        f"CAST(coalesce(sum(CASE WHEN dist > 0 "
        f"THEN {HARMONIC_SCALE} // dist END), 0) AS BIGINT) AS h_scaled "
        f"FROM d{max_hops} GROUP BY seed"
    )
    return "\n".join(parts)


def temporal_reachability(
    tedges: Iterable[Tuple[int, int, int]],
    seeds: Iterable[int],
    rounds: int,
) -> Dict[int, int]:
    """TIME-RESPECTING earliest-arrival reachability over DIRECTED
    timestamped ``tedges(a, b, t)``: ``{node: earliest arrival}`` over
    paths of ≤ ``rounds`` edges whose edge times are NON-DECREASING — the
    temporal-graph question a versioned/event KG answers ("what could
    this entity have influenced, respecting time order?"; a static-graph
    BFS overcounts by traveling backwards in time).  Seeds start at
    arrival 0; an edge (u→v, t) is usable iff ``t >= arrival(u)`` and
    relaxes ``arrival(v)`` to min(·, t).  Unreached nodes are ABSENT.

    Like bounded Bellman-Ford the round-K state is well-defined whether
    or not the fixpoint is reached; all-integer mins ⇒ engine-exact.
    NOTE the non-monotone subtlety this kernel and both twins share: a
    LATER-arriving path can never improve a node once a smaller arrival
    is recorded (min is monotone), and usability only ever widens as
    arrival shrinks, so simultaneous rounds converge to the same state
    regardless of relaxation order."""
    adj: Dict[int, List[Tuple[int, int]]] = defaultdict(list)
    for a, b, t in tedges:
        adj[a].append((b, t))
    arr: Dict[int, int] = {int(s): 0 for s in seeds}
    changed = set(arr)
    for _ in range(rounds):
        upd: Dict[int, int] = {}
        for a in changed:
            ta = arr[a]
            for b, t in adj.get(a, ()):
                if t >= ta and t < min(arr.get(b, t + 1), upd.get(b, t + 1)):
                    upd[b] = t
        changed = set()
        for b, t in upd.items():
            if t < arr.get(b, t + 1):
                arr[b] = t
                changed.add(b)
        if not changed:
            break
    return arr


def temporal_reachability_sql(graph_ctes: str, rounds: int) -> str:
    """Unrolled-round DuckDB twin of :func:`temporal_reachability`.

    ``graph_ctes`` must define ``tedges(a, b, t)`` and ``seeds(node)``.
    Every round relaxes ALL current arrivals (the Spark operator's
    changed-only frontier is a pure work optimization — extra relaxations
    re-derive existing minima, sssp_sql's argument); ``d{k}`` is
    referenced twice → MATERIALIZED (rule 30)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS arrival FROM seeds),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, MIN(arrival) AS arrival FROM ("
            f"SELECT node, arrival FROM d{k - 1} UNION ALL "
            f"SELECT e.b AS node, e.t AS arrival "
            f"FROM d{k - 1} d JOIN tedges e ON e.a = d.node AND e.t >= d.arrival"
            f") GROUP BY node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST(arrival AS BIGINT) AS arrival FROM d{rounds}"
    )
    return "\n".join(parts)


def hits_int(
    edges: Iterable[Tuple[int, int]], iterations: int = 3
) -> Dict[int, Tuple[int, int]]:
    """Unnormalized integer HITS over DIRECTED, DISTINCT ``edges`` —
    Kleinberg's hubs-and-authorities power iteration with the per-step
    normalization dropped so every value stays an exact BIGINT (the
    RANKING is what a KG consumer reads; the usual L2 normalization is a
    monotone per-step rescale that never reorders scores).  Returns
    ``{node: (hub, auth)}`` after ``iterations`` full (auth-then-hub)
    half-step pairs from ``hub0 = 1``::

        auth_t(v) = sum_{u->v} hub_{t-1}(u)
        hub_t(u)  = sum_{u->v} auth_t(v)

    Growth bound: ``max_t <= (in_deg_max * out_deg_max)^t`` — with the
    gate fixture's degree cap of 2 and 3 iterations the scores stay below
    2**6, astronomically inside int64 (the operator docstring carries the
    general bound a caller must check)."""
    out: Dict[int, List[int]] = defaultdict(list)
    inn: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in set(edges):
        nodes.add(a)
        nodes.add(b)
        out[a].append(b)
        inn[b].append(a)
    hub = {v: 1 for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(iterations):
        auth = {v: sum(hub[u] for u in inn.get(v, ())) for v in nodes}
        hub = {u: sum(auth[v] for v in out.get(u, ())) for u in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


def hits_sql(graph_ctes: str, iterations: int = 3) -> str:
    """Unrolled-iteration DuckDB twin of :func:`hits_int`.

    ``graph_ctes`` must define ``dedges(a, b)`` — the DISTINCT directed
    edge list.  ``dedges``/``nodes`` are referenced at every level and
    each ``a{k}``/``h{k}`` feeds both the next half-step and (at the top)
    the final join, so all are MATERIALIZED (rule 30: DuckDB inlines
    non-materialized CTEs per reference — the plan would double per
    half-step otherwise)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "nodes AS MATERIALIZED (SELECT a AS node FROM dedges "
        "UNION SELECT b FROM dedges),",
        "h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT n.node, "
            f"CAST(COALESCE(s.v, 0) AS BIGINT) AS auth FROM nodes n "
            f"LEFT JOIN (SELECT e.b AS node, SUM(h.hub) AS v "
            f"FROM dedges e JOIN h{k - 1} h ON h.node = e.a "
            f"GROUP BY e.b) s ON s.node = n.node),"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT n.node, "
            f"CAST(COALESCE(s.v, 0) AS BIGINT) AS hub FROM nodes n "
            f"LEFT JOIN (SELECT e.a AS node, SUM(a.auth) AS v "
            f"FROM dedges e JOIN a{k} a ON a.node = e.b "
            f"GROUP BY e.a) s ON s.node = n.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(h.node AS BIGINT) AS node, h.hub AS hub_scaled, "
        f"a.auth AS auth_scaled FROM h{iterations} h "
        f"JOIN a{iterations} a ON a.node = h.node"
    )
    return "\n".join(parts)


def ppr_int(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> Dict[int, int]:
    """Integer PERSONALIZED PageRank over DIRECTED ``edges``: identical to
    :func:`pagerank_int` except the teleport mass lands only on ``seeds``
    (topic-sensitive restart) — the "entities related to THIS entity set"
    ranking a KG serves next to global PageRank.  All arithmetic integer::

        rank0(v)  = init                      if v in seeds else 0
        rank'(v)  = [v in seeds] * base  +  (d_num * sum(contrib)) // d_den

    with ``base = ((d_den - d_num) * init) // d_den`` and the same
    floor-div contributions as the global variant.  Non-seed nodes
    unreachable from any seed stay exactly 0 — a built-in locality check.
    """
    out: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in edges:
        nodes.add(a)
        nodes.add(b)
        out[a].append(b)
    seed_set = set(seeds) & nodes
    base = ((d_den - d_num) * init) // d_den
    rank = {v: (init if v in seed_set else 0) for v in nodes}
    for _ in range(iterations):
        inc: Dict[int, int] = defaultdict(int)
        for u, nbrs in out.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                inc[v] += c
        rank = {
            v: (base if v in seed_set else 0)
            + (d_num * inc.get(v, 0)) // d_den
            for v in nodes
        }
    return rank


def ppr_sql(
    graph_ctes: str,
    seed_pred: str,
    iterations: int = 6,
    init: int = INIT,
    d_num: int = D_NUM,
    d_den: int = D_DEN,
) -> str:
    """Unrolled-iteration DuckDB twin of :func:`ppr_int`.

    ``graph_ctes`` must define ``sym(a, b)``; ``seed_pred`` is a SQL
    boolean template over the placeholder ``{node}`` (e.g.
    ``"{node} % 97 = 0"``) — the SAME template string the Spark operator
    evaluates via ``F.expr``, so the two engines share one predicate
    source (rule 6 by construction).  MATERIALIZED per rule 30, levels
    referenced once each so the plan grows linearly in ``iterations``.
    """
    base = ((d_den - d_num) * init) // d_den
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),",
        f"r0 AS (SELECT node, CAST(CASE WHEN {seed_pred.format(node='node')} "
        f"THEN {init} ELSE 0 END AS BIGINT) AS r FROM nodes),",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"inc{k} AS (SELECT s.b AS node, SUM(r.r // deg.d) AS inc "
            f"FROM r{k - 1} r JOIN sym s ON s.a = r.node "
            f"JOIN deg ON deg.a = r.node GROUP BY s.b),"
        )
        parts.append(
            f"r{k} AS (SELECT n.node, "
            f"CAST(CASE WHEN {seed_pred.format(node='n.node')} THEN {base} "
            f"ELSE 0 END AS BIGINT) + "
            f"({d_num} * COALESCE(i.inc, 0)) // {d_den} AS r "
            f"FROM nodes n LEFT JOIN inc{k} i ON i.node = n.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, "
        f"CAST(r AS BIGINT) AS rank_scaled FROM r{iterations}"
    )
    return "\n".join(parts)


def stress_centrality(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, Tuple[int, int]]:
    """Bounded-hop STRESS CENTRALITY restricted to seed pairs over a
    SYMMETRIC ``edges(a, b)`` list: for every seed pair ``s < t`` with
    ``d(s, t) <= max_hops`` and every interior node ``v ∉ {s, t}`` on a
    shortest s-t route, accumulate ``σ_st(v) = σ_sv · σ_tv`` (Brandes'
    pair-combination identity, valid when ``d(s,v) + d(t,v) = d(s,t)``;
    ``σ_tv = σ_vt`` needs the symmetric graph).  Returns
    ``{v: (stress, n_pairs)}`` for nodes with at least one mediated pair —
    the all-integer sibling of betweenness (no σ-ratio, hence no float
    boundary; rule 11).  Completeness: any interior v of a pair with
    ``d(s,t) <= max_hops`` satisfies ``d(s,v), d(t,v) <= max_hops``, so
    the bounded per-seed BFS tables contain every contribution."""
    seed_list = sorted({int(s) for s in seeds})
    per = {s: bfs_path_counts(edges, [s], max_hops) for s in seed_list}
    stress: Dict[int, int] = defaultdict(int)
    npairs: Dict[int, int] = defaultdict(int)
    for i, s in enumerate(seed_list):
        tbl_s = per[s]
        for t in seed_list[i + 1 :]:
            if t not in tbl_s or tbl_s[t][0] == 0:
                continue
            d_st = tbl_s[t][0]
            tbl_t = per[t]
            for v, (d_sv, sig_sv) in tbl_s.items():
                if v == s or v == t or v not in tbl_t:
                    continue
                d_tv, sig_tv = tbl_t[v]
                if d_sv + d_tv == d_st:
                    stress[v] += sig_sv * sig_tv
                    npairs[v] += 1
    return {v: (stress[v], npairs[v]) for v in stress}


def _seeded_sigma_parts(graph_ctes: str, max_hops: int) -> list:
    """Shared unrolled (seed, node, dist, sig) level CTEs — the per-seed
    σ-BFS body of :func:`stress_sql` and :func:`eccentricity_sql`.
    ``graph_ctes`` must define ``sym(a, b)`` and ``seeds(node)``; the
    final level table is ``s{max_hops}``.  ``s{k}`` MATERIALIZED (carry +
    anti-join + whatever the caller appends — rule 30)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "s0 AS MATERIALIZED (SELECT node AS seed, node, "
        "CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sig FROM seeds),",
        "f0 AS (SELECT seed, node, sig FROM s0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT f.seed, s.b AS node, SUM(f.sig) AS sig "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node GROUP BY 1, 2),"
        )
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT seed, node, dist, sig FROM s{k - 1} "
            f"UNION ALL SELECT u.seed, u.node, CAST({k} AS BIGINT), u.sig "
            f"FROM u{k} u WHERE NOT EXISTS (SELECT 1 FROM s{k - 1} x "
            f"WHERE x.seed = u.seed AND x.node = u.node)),"
        )
        parts.append(f"f{k} AS (SELECT seed, node, sig FROM s{k} WHERE dist = {k}),")
    return parts


def stress_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled DuckDB twin of :func:`stress_centrality`.

    ``graph_ctes`` must define ``sym(a, b)`` (symmetric) and
    ``seeds(node)``.  Levels carry the (seed, node) PAIR key with σ sums
    (the per-seed variant of :func:`bfs_sigma_sql`, shared via
    :func:`_seeded_sigma_parts`)."""
    h = max_hops
    parts = _seeded_sigma_parts(graph_ctes, h)
    parts.append(
        f"dd AS MATERIALIZED (SELECT g.seed AS s, g.node AS t, g.dist AS d_st "
        f"FROM s{h} g JOIN seeds sd ON g.node = sd.node "
        f"WHERE g.seed < g.node AND g.dist > 0)"
    )
    parts.append(
        f"SELECT CAST(l.node AS BIGINT) AS node, "
        f"CAST(SUM(l.sig * r.sig) AS BIGINT) AS stress, "
        f"CAST(COUNT(*) AS BIGINT) AS n_pairs "
        f"FROM dd JOIN s{h} l ON l.seed = dd.s "
        f"JOIN s{h} r ON r.seed = dd.t AND r.node = l.node "
        f"WHERE l.dist + r.dist = dd.d_st AND l.node <> dd.s AND l.node <> dd.t "
        f"GROUP BY 1"
    )
    return "\n".join(parts)


def scc_bounded(
    edges: Iterable[Tuple[int, int]],
    max_hops: int,
) -> Dict[int, int]:
    """Bounded-diameter STRONGLY CONNECTED COMPONENTS over DIRECTED
    ``edges(a, b)``: ``{node: comp}`` where ``comp`` is the minimum node
    mutually reachable within ``max_hops`` hops EACH WAY (every node is
    mutually reachable with itself at 0 hops, so isolated/acyclic nodes
    are singletons).  Exact SCCs whenever every true SCC has diameter ≤
    ``max_hops`` — the contract the gate fixture satisfies (8-cycles,
    hop budget 8); the distributed operator and the SQL twin compute the
    SAME bounded semantics, so the comparison never depends on that
    assumption.  Mutual-reach-within-k is an equivalence relation only
    under the diameter bound — min-labelling is well-defined there."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    nodes = set()
    for a, b in edges:
        nodes.add(a)
        nodes.add(b)
        if a != b:
            nbrs[a].append(b)
    reach: Dict[int, set] = {}
    for s in nodes:
        seen = {s}
        frontier = {s}
        for _ in range(max_hops):
            frontier = {b for a in frontier for b in nbrs.get(a, ())} - seen
            if not frontier:
                break
            seen |= frontier
        reach[s] = seen
    return {
        v: min(u for u in reach[v] if v in reach[u]) for v in nodes
    }


def scc_sql(graph_ctes: str, doublings: int) -> str:
    """Path-doubling DuckDB twin of :func:`scc_bounded` with
    ``max_hops = 2**doublings``.  ``graph_ctes`` must define
    ``dedges(a, b)`` (directed).  ``r0`` is reflexive, so each doubling
    round's self-composition subsumes the previous round (paths of
    length ≤ 2^k); rounds are MATERIALIZED (each referenced twice by the
    self-join — rule 30).  Output: ``(node, comp)``."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "dnodes AS (SELECT a AS node FROM dedges UNION SELECT b FROM dedges),",
        "r0 AS MATERIALIZED (SELECT a, b FROM dedges "
        "UNION SELECT node AS a, node AS b FROM dnodes),",
    ]
    for k in range(1, doublings + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT DISTINCT x.a, y.b "
            f"FROM r{k - 1} x JOIN r{k - 1} y ON x.b = y.a),"
        )
    parts.append(
        f"mutual AS (SELECT x.a, x.b FROM r{doublings} x "
        f"JOIN r{doublings} y ON x.a = y.b AND x.b = y.a)"
    )
    parts.append(
        "SELECT CAST(b AS BIGINT) AS node, CAST(min(a) AS BIGINT) AS comp "
        "FROM mutual GROUP BY b"
    )
    return "\n".join(parts)


def eccentricity_bounded(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, Tuple[int, int, int]]:
    """Bounded-hop ECCENTRICITY profile per seed over DIRECTED
    ``edges(a, b)``: ``{seed: (ecc, n_reached, sum_sigma)}`` — the max
    distance within the hop budget, the cone size (self included), and
    the total shortest-path multiplicity into the cone (Σσ; an integer
    connectivity-redundancy signal).  Full eccentricity needs all-pairs
    BFS; the bounded form is the serving shape (and exact whenever the
    true eccentricity ≤ ``max_hops``) — BOTH twins compute the bounded
    semantics, so the comparison never depends on that."""
    out: Dict[int, Tuple[int, int, int]] = {}
    for s in seeds:
        tbl = bfs_path_counts(edges, [int(s)], max_hops)
        out[int(s)] = (
            max(d for d, _ in tbl.values()),
            len(tbl),
            sum(sg for _, sg in tbl.values()),
        )
    return out


def eccentricity_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled DuckDB twin of :func:`eccentricity_bounded` (shares the
    per-seed σ-BFS levels with :func:`stress_sql` via
    :func:`_seeded_sigma_parts`)."""
    parts = _seeded_sigma_parts(graph_ctes, max_hops)
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(seed AS BIGINT) AS seed, "
        f"CAST(max(dist) AS BIGINT) AS ecc, "
        f"CAST(count(*) AS BIGINT) AS n_reached, "
        f"CAST(sum(sig) AS BIGINT) AS sum_sigma "
        f"FROM s{max_hops} GROUP BY seed"
    )
    return "\n".join(parts)


def betweenness_ppm(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int,
) -> Dict[int, Tuple[int, int]]:
    """Bounded-hop BETWEENNESS (ppm) restricted to seed pairs — the
    σ-ratio sibling of :func:`stress_centrality`: for every seed pair
    ``s < t`` within ``max_hops`` and interior node v on a shortest s-t
    route, accumulate ``(1e6·σ_sv·σ_tv) // σ_st`` — Brandes' fraction as
    one integer truncation per pair (rule 11; both twins evaluate the
    identical DIV, so no float σ-ratio ever exists).  Returns
    ``{v: (betweenness_ppm, n_pairs)}``."""
    seed_list = sorted({int(s) for s in seeds})
    per = {s: bfs_path_counts(edges, [s], max_hops) for s in seed_list}
    bet: Dict[int, int] = defaultdict(int)
    npairs: Dict[int, int] = defaultdict(int)
    for i, s in enumerate(seed_list):
        tbl_s = per[s]
        for t in seed_list[i + 1 :]:
            if t not in tbl_s or tbl_s[t][0] == 0:
                continue
            d_st, sig_st = tbl_s[t]
            tbl_t = per[t]
            for v, (d_sv, sig_sv) in tbl_s.items():
                if v == s or v == t or v not in tbl_t:
                    continue
                d_tv, sig_tv = tbl_t[v]
                if d_sv + d_tv == d_st:
                    bet[v] += (1000000 * sig_sv * sig_tv) // sig_st
                    npairs[v] += 1
    return {v: (bet[v], npairs[v]) for v in bet}


def betweenness_sql(graph_ctes: str, max_hops: int) -> str:
    """Unrolled DuckDB twin of :func:`betweenness_ppm` — :func:`stress_sql`
    with σ_st carried on the seed-pair table and the per-pair
    ``(1e6·σ_sv·σ_tv) // σ_st`` truncation inside the SUM."""
    h = max_hops
    parts = _seeded_sigma_parts(graph_ctes, h)
    parts.append(
        f"dd AS MATERIALIZED (SELECT g.seed AS s, g.node AS t, "
        f"g.dist AS d_st, g.sig AS sig_st "
        f"FROM s{h} g JOIN seeds sd ON g.node = sd.node "
        f"WHERE g.seed < g.node AND g.dist > 0)"
    )
    parts.append(
        f"SELECT CAST(l.node AS BIGINT) AS node, "
        f"CAST(SUM((1000000 * l.sig * r.sig) // dd.sig_st) AS BIGINT) "
        f"AS betweenness_ppm, "
        f"CAST(COUNT(*) AS BIGINT) AS n_pairs "
        f"FROM dd JOIN s{h} l ON l.seed = dd.s "
        f"JOIN s{h} r ON r.seed = dd.t AND r.node = l.node "
        f"WHERE l.dist + r.dist = dd.d_st AND l.node <> dd.s AND l.node <> dd.t "
        f"GROUP BY 1"
    )
    return "\n".join(parts)


def boruvka_msf_kernel(
    edges: Iterable[Tuple[int, int, int]],
    max_rounds: int = 4,
    doublings: int = 3,
) -> Tuple[Dict[Tuple[int, int], int], Dict[int, int]]:
    """Plain-Python replay of ``operators.graph.boruvka_msf`` — SAME
    rounds, SAME argmin struct ordering ``(w, lu, lv, partner)``, SAME
    2-cycle break toward the smaller component id, SAME bounded pointer
    doubling.  Edge weights must be distinct.  Returns
    ``({(u, v): w} forest, {node: component})``.  Raises if
    cross-component edges remain after ``max_rounds`` (the operator's
    loud-failure contract — silent partial forests are the bug class
    this kernel exists to catch)."""
    e = [(int(u), int(v), int(w)) for u, v, w in edges]
    ws = [w for _, _, w in e]
    if len(ws) != len(set(ws)):
        raise ValueError("boruvka_msf_kernel: weights must be distinct")
    comp = {}
    for u, v, _ in e:
        comp[u] = u
        comp[v] = v
    forest: Dict[Tuple[int, int], int] = {}
    for _ in range(max_rounds):
        best: Dict[int, Tuple[int, int, int, int]] = {}
        for u, v, w in e:
            cu, cv = comp[u], comp[v]
            if cu == cv:
                continue
            lu, lv = (u, v) if u < v else (v, u)
            for a, b in ((cu, cv), (cv, cu)):
                cand = (w, lu, lv, b)
                if a not in best or cand < best[a]:
                    best[a] = cand
        if not best:
            break
        for w, lu, lv, _p in best.values():
            forest[(lu, lv)] = w
        p0 = {c: p for c, (_, _, _, p) in best.items()}
        p1 = {
            c: (c if p0.get(p0[c]) == c and c < p0[c] else p0[c]) for c in p0
        }
        for _k in range(doublings):
            p1 = {c: p1.get(p1[c], p1[c]) for c in p1}
        comp = {n: p1.get(c, c) for n, c in comp.items()}
    else:
        if any(comp[u] != comp[v] for u, v, _ in e):
            raise RuntimeError(
                "boruvka_msf_kernel: not converged in max_rounds"
            )
    return forest, comp


def boruvka_sql(graph_ctes: str, rounds: int, doublings: int = 3) -> str:
    """Unrolled DuckDB twin of :func:`boruvka_msf_kernel` /
    ``operators.graph.boruvka_msf``.  ``graph_ctes`` must define
    ``gedges(u, v, w)`` (distinct weights) and ``gnodes(node)``.  Per
    round: component-labeled candidate edges, the struct-min pick per
    component (``min((w, lu, lv, partner))``), the 2-cycle break toward
    the smaller id, ``doublings`` pointer-doubling levels, relabel.
    Every multiply-referenced level is MATERIALIZED (rule 30).  Empty
    rounds degrade to no-ops (LEFT JOIN + COALESCE keeps labels), so a
    fixed ``rounds`` unroll is exact for any graph that converges within
    it — pick rounds ≥ log2(max component size)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "c0 AS MATERIALIZED (SELECT node, node AS comp FROM gnodes),",
    ]
    for r in range(rounds):
        parts.append(
            f"cand{r} AS MATERIALIZED ("
            f"SELECT a.comp AS cu, b.comp AS cv, e.w, "
            f"least(e.u, e.v) AS lu, greatest(e.u, e.v) AS lv "
            f"FROM gedges e JOIN c{r} a ON a.node = e.u "
            f"JOIN c{r} b ON b.node = e.v WHERE a.comp <> b.comp),"
        )
        parts.append(
            f"orr{r} AS (SELECT cu, cv, w, lu, lv FROM cand{r} "
            f"UNION ALL SELECT cv AS cu, cu AS cv, w, lu, lv FROM cand{r}),"
        )
        parts.append(
            f"ch{r} AS MATERIALIZED ("
            f"SELECT cu AS c, min((w, lu, lv, cv))[1] AS w, "
            f"min((w, lu, lv, cv))[2] AS lu, min((w, lu, lv, cv))[3] AS lv, "
            f"min((w, lu, lv, cv))[4] AS p FROM orr{r} GROUP BY 1),"
        )
        parts.append(
            f"sel{r} AS (SELECT DISTINCT w, lu, lv FROM ch{r}),"
        )
        parts.append(
            f"pb{r} AS MATERIALIZED ("
            f"SELECT x.c, CASE WHEN y.p = x.c AND x.c < x.p THEN x.c "
            f"ELSE x.p END AS p "
            f"FROM ch{r} x JOIN ch{r} y ON y.c = x.p),"
        )
        prev = f"pb{r}"
        for k in range(doublings):
            parts.append(
                f"pd{r}_{k} AS MATERIALIZED ("
                f"SELECT x.c, COALESCE(y.p, x.p) AS p "
                f"FROM {prev} x LEFT JOIN {prev} y ON y.c = x.p),"
            )
            prev = f"pd{r}_{k}"
        parts.append(
            f"c{r + 1} AS MATERIALIZED ("
            f"SELECT c.node, COALESCE(m.p, c.comp) AS comp "
            f"FROM c{r} c LEFT JOIN {prev} m ON m.c = c.comp),"
        )
    sel_union = " UNION ALL ".join(
        f"SELECT w, lu, lv FROM sel{r}" for r in range(rounds)
    )
    parts.append(f"forest AS ({sel_union})")
    parts.append(
        f"SELECT CAST(f.lu AS BIGINT) AS u, CAST(f.lv AS BIGINT) AS v, "
        f"CAST(f.w AS BIGINT) AS w, CAST(c.comp AS BIGINT) AS component "
        f"FROM forest f JOIN c{rounds} c ON c.node = f.lu"
    )
    return "\n".join(parts)


def closeness_profile(
    edges: Iterable[Tuple[int, int]],
    seeds: Iterable[int],
    max_hops: int = 8,
) -> Dict[int, Tuple[int, int]]:
    """Bounded-hop CLOSENESS profile of each seed over DIRECTED
    ``edges(a, b)``: ``{seed: (n_reached, sum_dist)}`` over the
    ``max_hops`` cone (self excluded) — the raw integer numerator /
    denominator of closeness centrality ``n_reached / sum_dist``, kept
    as exact integers (rule 11) so the engines compare without a float
    boundary; the ppm ratio is derived downstream as
    ``10^6 · n_reached DIV sum_dist``.  Isolated seeds → (0, 0)."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    out: Dict[int, Tuple[int, int]] = {}
    for s in seeds:
        dist = {int(s): 0}
        frontier = {int(s)}
        n_reached = 0
        sum_dist = 0
        for k in range(1, max_hops + 1):
            nxt = {b for a in frontier for b in nbrs.get(a, ())} - dist.keys()
            for b in nxt:
                dist[b] = k
                n_reached += 1
                sum_dist += k
            frontier = nxt
            if not frontier:
                break
        out[int(s)] = (n_reached, sum_dist)
    return out


def closeness_sql(graph_ctes: str, max_hops: int = 8) -> str:
    """Unrolled-level DuckDB twin of :func:`closeness_profile` — the same
    per-seed (seed, node) pair-key BFS as :func:`harmonic_sql` (``d{k}``
    MATERIALIZED per rule 30), final aggregate = reach count + distance
    sum + the integer closeness ratio in ppm (0 for isolated seeds)."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "d0 AS MATERIALIZED (SELECT node AS seed, node, "
        "CAST(0 AS BIGINT) AS dist FROM seeds),",
        "f0 AS (SELECT seed, node FROM d0),",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"u{k} AS (SELECT DISTINCT f.seed, s.b AS node "
            f"FROM f{k - 1} f JOIN sym s ON s.a = f.node),"
        )
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT seed, node, dist FROM d{k - 1} "
            f"UNION ALL SELECT u.seed, u.node, CAST({k} AS BIGINT) FROM u{k} u "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{k - 1} x "
            f"WHERE x.seed = u.seed AND x.node = u.node)),"
        )
        parts.append(
            f"f{k} AS (SELECT seed, node FROM d{k} WHERE dist = {k}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(seed AS BIGINT) AS seed,\n"
        f"       CAST(count(CASE WHEN dist > 0 THEN 1 END) AS BIGINT)"
        f" AS n_reached,\n"
        f"       CAST(coalesce(sum(CASE WHEN dist > 0 THEN dist END), 0)"
        f" AS BIGINT) AS sum_dist,\n"
        f"       CAST(CASE WHEN sum(CASE WHEN dist > 0 THEN dist END) > 0\n"
        f"            THEN (1000000 * count(CASE WHEN dist > 0 THEN 1 END))\n"
        f"                 // sum(CASE WHEN dist > 0 THEN dist END)\n"
        f"            ELSE 0 END AS BIGINT) AS closeness_ppm\n"
        f"FROM d{max_hops} GROUP BY seed"
    )
    return "\n".join(parts)


def katz_int(
    edges: Iterable[Tuple[int, int]],
    n_nodes: int,
    rounds: int = 8,
    base: int = 2,
) -> Dict[int, int]:
    """Exact-integer bounded KATZ centrality over DIRECTED ``edges(a, b)``
    with attenuation ``alpha = 1/base`` scaled by ``base**rounds`` so
    every term is an integer (rule 11): ``w_0(v) = 1`` for all nodes,
    ``w_k(v) = Σ_{(u,v)∈E} w_{k-1}(u)`` (walks of length k ending at v),
    ``katz_scaled(v) = Σ_{k=1..rounds} w_k(v) · base**(rounds-k)``.
    The un-scaled Katz ``Σ alpha^k w_k`` is this divided by
    ``base**rounds`` — a monotone rescale that never reorders scores.
    Overflow bound: ``w_k ≤ max_in_degree**k``; callers assert
    ``(max_in_degree·base)**rounds`` fits BIGINT."""
    nbrs: Dict[int, List[int]] = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
    w = {v: 1 for v in range(n_nodes)}
    score = {v: 0 for v in range(n_nodes)}
    for k in range(1, rounds + 1):
        nw: Dict[int, int] = defaultdict(int)
        for u, wt in w.items():
            for b in nbrs.get(u, ()):
                nw[b] += wt
        w = dict(nw)
        mult = base ** (rounds - k)
        for v, wt in w.items():
            score[v] += wt * mult
    return score


def katz_sql(graph_ctes: str, rounds: int = 8, base: int = 2) -> str:
    """Unrolled DuckDB twin of :func:`katz_int`.  ``graph_ctes`` must
    define ``ids(i)`` (the node universe) and ``dedges(a, b)`` (directed).
    Each level's walk-count vector is one join + group-by, MATERIALIZED
    per rule 30; the final select left-joins the node universe so
    walk-unreached nodes score 0."""
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "w0 AS MATERIALIZED (SELECT i AS node, CAST(1 AS BIGINT) AS w FROM ids),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT d.b AS node, "
            f"CAST(sum(x.w) AS BIGINT) AS w "
            f"FROM w{k - 1} x JOIN dedges d ON d.a = x.node GROUP BY d.b),"
        )
    lvl_union = " UNION ALL ".join(
        f"SELECT node, w * CAST({base ** (rounds - k)} AS BIGINT) AS c "
        f"FROM w{k}"
        for k in range(1, rounds + 1)
    )
    parts.append(f"levels AS ({lvl_union})")
    parts.append(
        "SELECT CAST(ids.i AS BIGINT) AS node, "
        "CAST(coalesce(sum(l.c), 0) AS BIGINT) AS katz_scaled "
        "FROM ids LEFT JOIN levels l ON l.node = ids.i GROUP BY ids.i"
    )
    return "\n".join(parts)


def jp_coloring(
    edges: Iterable[Tuple[int, int]], max_rounds: int = 16
) -> Dict[int, Tuple[int, int]]:
    """Deterministic Jones-Plassmann GREEDY COLORING over an UNDIRECTED
    graph: ``{node: (color, round)}``.  Per simultaneous round, every
    uncolored node that is a strict local MINIMUM of ``mis_priority``
    among its uncolored neighbors takes the smallest color (mex) not
    used by its already-colored neighbors.  For any edge the
    lower-priority endpoint always colors strictly first, so the result
    EQUALS the sequential greedy coloring in increasing-priority order —
    that equivalence is what makes an unrolled-round SQL twin possible
    (:func:`coloring_sql`).  Raises past ``max_rounds`` (kcore's loud
    contract).  Isolated nodes never appear (edge-derived node set)."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: Dict[int, set] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    uncolored = set(nbrs)
    out: Dict[int, Tuple[int, int]] = {}
    for r in range(1, max_rounds + 1):
        if not uncolored:
            return out
        ready = [
            v
            for v in uncolored
            if all(
                u not in uncolored or mis_priority(u) > mis_priority(v)
                for u in nbrs[v]
            )
        ]
        for v in ready:
            used = {out[u][0] for u in nbrs[v] if u in out}
            c = 0
            while c in used:
                c += 1
            out[v] = (c, r)
        uncolored -= set(ready)
    if uncolored:
        raise RuntimeError(
            f"jp_coloring did not color every node in {max_rounds} rounds"
        )
    return out


def coloring_sql(graph_ctes: str, rounds: int, max_colors: int = 8) -> str:
    """Unrolled-round DuckDB twin of :func:`jp_coloring`.

    ``graph_ctes`` must define ``sym(a, b)`` — the symmetrized edge
    list.  Per round: min uncolored-neighbor priority per uncolored node
    (the mis_sql shape), ready = strict local minima, mex = the smallest
    of ``max_colors`` candidate colors not taken by an already-colored
    neighbor (candidates × ready anti-joined against neighbor colors —
    mex is bounded by degree, so ``max_colors`` above the max degree is
    safe; a node whose neighbors exhaust every candidate would drop out
    and the row-count gate would catch it).  Multiply-referenced sets
    are MATERIALIZED (rule 30); extra rounds past the fixpoint are
    no-ops."""
    pri = f"(({{v}}) * {MIS_MUL}) % {MIS_MOD}"
    parts = [
        "WITH",
        graph_ctes.rstrip().rstrip(","),
        ",",
        "u0 AS MATERIALIZED (SELECT a AS node FROM sym "
        "UNION SELECT b FROM sym),",
        "c0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS color, "
        "CAST(0 AS BIGINT) AS rnd WHERE FALSE),",
        f"cand AS (SELECT unnest(range(0, {max_colors})) AS c),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"m{r} AS (SELECT s.a AS node, "
            f"MIN({pri.format(v='s.b')}) AS minp "
            f"FROM sym s JOIN u{r - 1} ub ON ub.node = s.b "
            f"JOIN u{r - 1} ua ON ua.node = s.a GROUP BY s.a),"
        )
        parts.append(
            f"r{r} AS MATERIALIZED (SELECT u.node FROM u{r - 1} u "
            f"LEFT JOIN m{r} m ON m.node = u.node "
            f"WHERE m.node IS NULL OR {pri.format(v='u.node')} < m.minp),"
        )
        parts.append(
            f"n{r} AS (SELECT s.a AS node, c.color FROM sym s "
            f"JOIN r{r} w ON w.node = s.a "
            f"JOIN c{r - 1} c ON c.node = s.b),"
        )
        parts.append(
            f"x{r} AS (SELECT w.node, MIN(cd.c) AS color "
            f"FROM r{r} w CROSS JOIN cand cd "
            f"LEFT JOIN n{r} n ON n.node = w.node AND n.color = cd.c "
            f"WHERE n.node IS NULL GROUP BY w.node),"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT node, color, rnd FROM c{r - 1} "
            f"UNION ALL SELECT node, color, {r} AS rnd FROM x{r}),"
        )
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT node FROM u{r - 1} "
            f"WHERE node NOT IN (SELECT node FROM r{r})),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(node AS BIGINT) AS node, CAST(color AS BIGINT) AS color, "
        f"CAST(rnd AS BIGINT) AS jp_round FROM c{rounds}"
    )
    return "\n".join(parts)
