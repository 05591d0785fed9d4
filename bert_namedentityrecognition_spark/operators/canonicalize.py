"""Alias canonicalization — connected components over alias edges.

The reference resolves aliases only implicitly (each normalizer maps surface
→ canonical in one hop; OICI recurses once, ``OICI_database.py:34-39``). At
KG scale alias chains (A→B→C) must collapse to one canonical id: connected
components via iterative min-id label propagation — pure DataFrame self-joins
(GraphFrames-free), the standard alternating contraction:

    label(v) ← min(label(v), min over neighbors(label(n)))

Each iteration is one shuffle on ``node``; ``localCheckpoint`` truncates the
growing lineage so plan size stays O(1) per iteration (critical for the
fixpoint loop at scale). Converges in O(diameter) iterations; alias chains
in practice are short (≤ 32 capped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, max_iterations: int = 32, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id.

    Deterministic: component ids are the lexicographic min over each
    component (stable across partitionings and cluster sizes).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nmin"), F.col("component")) < F.col("component"))
                .cast("int")
                .alias("_changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.agg(F.sum("_changed")).collect()[0][0] or 0
        labels = updated.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — the graph has a component with diameter above the "
            "cap (label propagation moves one hop per round). Use "
            "connected_components_star (O(log^2) rounds) for such graphs."
        )
    return labels


def connected_components_star(
    edges: DataFrame, max_iterations: int = 50, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """edges(src, dst) → (node, component): the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — converges in O(log² n) rounds regardless of diameter, so
    a 10^6-long alias chain costs ~tens of shuffles, not 10^6. This is the
    100 TB-safe variant; :func:`connected_components` (plain propagation)
    stays for low-diameter graphs where each round is cheaper.

    large-star: every node links its LARGER neighbors to its smallest
    neighbor-or-self; small-star: every node links its smaller-or-equal
    neighbors to the same. Fixpoint = edge set stable = a forest of stars
    (child → component-min root). Deterministic min-id components.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(ed):
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("u"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed):
        oriented = (
            ed.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("_mn"))
        joined = oriented.join(mins, "u")
        links = joined.select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        selfs = joined.select("u", F.col("_mn").alias("v"))
        return (
            links.union(selfs).filter(F.col("u") != F.col("v")).distinct()
        )

    prev = None
    for _ in range(max_iterations):
        e = _large_star(e).localCheckpoint(eager=True)
        e = _small_star(e).localCheckpoint(eager=True)
        cs = _checksum(e)
        if cs == prev:
            break
        prev = cs
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )
    # stars: (child, root). Roots and isolated nodes map to themselves.
    return all_nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("_root")), "node", "left"
    ).select("node", F.coalesce("_root", "node").alias("component"))


def canonical_alias_map(
    alias_edges: DataFrame, dim: DataFrame, algorithm: str = "star"
) -> DataFrame:
    """Collapse alias chains onto dimension canonicals.

    alias_edges(src, dst): surface alias pairs. Returns
    (surface, canonical_surface): every member of a component maps to the
    component's representative — preferring a surface present in ``dim``
    (so chains terminate at a real canonical entity), else the min id.

    Default algorithm is the diameter-independent star variant (alias
    graph shapes are adversary-controlled web data); "propagation" is
    available when the diameter is known small.
    """
    cc = connected_components_star if algorithm == "star" else connected_components
    comp = cc(alias_edges)
    dim_surfaces = dim.select(F.col("surface").alias("node")).distinct()
    rep = (
        comp.join(dim_surfaces.withColumn("_in_dim", F.lit(1)), "node", "left")
        .groupBy("component")
        .agg(
            F.min(F.when(F.col("_in_dim") == 1, F.col("node"))).alias("dim_rep"),
            F.min("node").alias("any_rep"),
        )
        .select(
            "component", F.coalesce("dim_rep", "any_rep").alias("canonical_surface")
        )
    )
    return comp.join(rep, "component").select(
        F.col("node").alias("surface"), "canonical_surface"
    )


def _rep_rows(dim: DataFrame, remap: list[str], part: list[str], pfx: str) -> DataFrame:
    """One dim row per ``part`` key, chosen VALUE-deterministically (min
    (canonical, entity_id, code) cast to string, nulls last — the same
    ordering as ``normalize.build_dim_index``). ``dropDuplicates`` here would be
    row-order-dependent: a surface present under multiple kinds (or as
    normalization-collapsed duplicates) would hand back an arbitrary row's
    ids, differing across runs/partitionings."""
    from pyspark.sql import Window

    order = [
        F.col(c).cast("string").asc_nulls_last()
        for c in ("canonical", "entity_id", "code")
        if c in dim.columns
    ]
    w = Window.partitionBy(*part).orderBy(*order)
    return (
        dim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("surface").alias(f"{pfx}surface"),
            *[F.col(c).alias(f"{pfx}kind") for c in ("kind",) if "kind" in part],
            *[F.col(c).alias(f"{pfx}{c}") for c in remap],
        )
    )


def apply_alias_map(
    mentions: DataFrame,
    alias_map: DataFrame,
    col: str = "canonical",
    dim: DataFrame | None = None,
    id_cols: tuple[str, ...] = ("entity_id", "code"),
    kind_col: str = "type",
) -> DataFrame:
    """Rewrite a canonical column through the (small, broadcast) alias map.

    With ``dim``, every mention whose canonical participates in the alias
    map ALSO gets its id columns remapped to the representative's dim row
    (chains terminate at a real canonical entity per
    :func:`canonical_alias_map`). The rep row is matched on
    ``(surface, kind)`` using the mention's ``kind_col`` when both sides
    carry kinds — a surface shared by two kinds must not hand the other
    kind's ids back — falling back to a kind-agnostic row when that kind
    has no dim entry for the surface. Either way the row is picked
    value-deterministically (min (canonical, entity_id, code), matching
    ``normalize.build_dim_index``), never by row order. Without the remap, a
    mention normalized to entity B then alias-collapsed onto A's surface
    kept B's entity_id, so the nodes table split one collapsed entity
    across two ids. A representative absent from dim maps its component's
    ids to null — consistently, so the component still collapses to one
    node key."""
    am = alias_map.withColumnRenamed("surface", col)
    remap = [c for c in id_cols if dim is not None and c in mentions.columns]
    use_kind = (
        bool(remap) and "kind" in dim.columns and kind_col in mentions.columns
    )
    out = mentions.join(F.broadcast(am), col, "left")
    aliased = F.col("canonical_surface").isNotNull()
    if remap:
        if use_kind:
            rep = _rep_rows(dim, remap, ["surface", "kind"], "_rep_")
            fb = _rep_rows(dim, remap, ["surface"], "_fb_")
            out = (
                out.join(
                    F.broadcast(rep),
                    (F.col("canonical_surface") == F.col("_rep_surface"))
                    & (F.col(kind_col) == F.col("_rep_kind")),
                    "left",
                )
                .join(
                    F.broadcast(fb),
                    F.col("canonical_surface") == F.col("_fb_surface"),
                    "left",
                )
            )
            kind_matched = F.col("_rep_surface").isNotNull()
            for c in remap:
                # when the kind-matched rep exists use it WHOLE (even its
                # null columns) — coalescing per-column would splice another
                # kind's code onto this kind's entity_id
                out = out.withColumn(
                    c,
                    F.when(
                        aliased,
                        F.when(kind_matched, F.col(f"_rep_{c}")).otherwise(
                            F.col(f"_fb_{c}")
                        ),
                    ).otherwise(F.col(c)),
                )
            out = out.drop(
                "_rep_surface", "_rep_kind", "_fb_surface",
                *[f"_rep_{c}" for c in remap],
                *[f"_fb_{c}" for c in remap],
            )
        else:
            rep = _rep_rows(dim, remap, ["surface"], "_rep_")
            out = out.join(
                F.broadcast(rep),
                F.col("canonical_surface") == F.col("_rep_surface"),
                "left",
            )
            for c in remap:
                out = out.withColumn(
                    c, F.when(aliased, F.col(f"_rep_{c}")).otherwise(F.col(c))
                )
            out = out.drop("_rep_surface", *[f"_rep_{c}" for c in remap])
    return out.withColumn(col, F.coalesce("canonical_surface", F.col(col))).drop(
        "canonical_surface"
    )


def fuse_records(
    assign: DataFrame,
    records: DataFrame,
    group_col: str = "cluster_id",
    id_col: str = "doc_id",
    majority_cols: tuple = ("source", "lang"),
    max_cols: tuple = ("n_chars",),
) -> DataFrame:
    """Survivorship-rule RECORD FUSION — the MDM merge step after dedup
    clustering: given a cluster assignment (``id_col``, ``group_col``) and
    the record attributes, emit ONE fused row per cluster::

        group_col, canonical_id (min id), n_merged,
        fused_<c>  per majority col  (most frequent value, ties → smallest
                                      — an integer/lex argmin, engine-exact),
        max_<c>    per max col       (longest/largest-value rule)

    Scale shape: the assignment⋈records join shuffles once on ``id_col``
    and the joined frame is ``localCheckpoint``-materialized (rule 23 —
    it fans into 1 + len(majority_cols) aggregations); each majority rule
    is a two-level map-side-combined aggregate + struct-min argmin (never
    a window sort over the full membership); stitches are per-cluster
    joins.  Deterministic: every pick is a struct-min over values, no
    first()/row-order dependence (the r4 ADVICE class).

    Ref: the reference keeps the first surface form it sees
    (``OICI_database.py:34-39``, order-dependent); value-deterministic
    fusion is this repo's KG-scale extension (SURVEY §2.12)."""
    base = (
        assign.select(
            F.col(id_col).alias("__id"), F.col(group_col).alias("__g")
        )
        .join(records.withColumnRenamed(id_col, "__id"), "__id")
        .localCheckpoint(eager=True)
    )
    aggs = [
        F.min("__id").cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    ] + [F.max(c).cast("long").alias(f"max_{c}") for c in max_cols]
    out = base.groupBy(F.col("__g").alias(group_col)).agg(*aggs)
    for c in majority_cols:
        counts = base.groupBy("__g", c).agg(F.count(F.lit(1)).alias("__c"))
        pick = (
            counts.groupBy("__g")
            .agg(
                F.min(
                    F.struct((-F.col("__c")).alias("nc"), F.col(c).alias("v"))
                )["v"].alias(f"fused_{c}")
            )
            .withColumnRenamed("__g", group_col)
        )
        out = out.join(pick, group_col)
    return out
