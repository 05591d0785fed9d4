"""End-to-end KG construction pipeline: pages → nodes/edges/triples.

Spark dataflow (SURVEY.md §7):

    pages(url, warc_ts, [html,] text, lang)
      → page_kg     (ONE mapInArrow over the page contract: split, tag,
                     resolve against a per-worker dimension index, alias
                     lookup, per-page dedup; one row per page, no shuffle)
      → mentions, normalized   (``inline`` views of page_kg, no shuffle)
      → triples     (url merge of the per-page lists → pairing expressions
                     → salted count)
      → nodes/edges (nodes: one aggregation of normalized; edges: triples ×
                     two driver-built endpoint maps, broadcast)

Shuffles on the hot path: the url merge (per-page lists, one row per page,
not per mention), the count aggregation (map-side combined, salt-able) and
the nodes aggregation (map-side combined). The mention stream itself
crosses none.

Each piece of work runs once per pass: the page frame and ``triples`` are
persisted (each feeds several consumers), the side tables built on the
driver (dimension, endpoint maps, alias lookup frame) are ``LocalTableScan``
frames, so broadcasting them runs no Python task, and the parquet sink
writes each table as its plan emits it, with no shuffle of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark import StorageLevel

from ..operators.sentences import pages_to_sentences
from ..operators.triples import build_graph
from .page_stage import (
    _tagger,
    alias_lookup,
    mentions_view,
    normalized_view,
    page_kg,
    page_triples,
)


def run_kg_pipeline(
    pages: DataFrame,
    dim: DataFrame,
    term_types: dict[str, str],
    alias_edges: DataFrame | None = None,
    threshold: float = 70.0,
    scope: str = "document",
    lang_filter: str | None = "ja",
    salt_buckets: int = 0,
    persist: bool = True,
    model=None,
    label_vocab=None,
) -> dict[str, DataFrame]:
    """Returns the full lineage: sentences, page_kg, mentions, normalized,
    triples, nodes, edges.

    Every KG table derives from ``page_kg`` (``plans/page_stage.py``), the
    one Arrow stage that tags, resolves and deduplicates each page.
    ``mentions`` and ``normalized`` are ``inline`` views of it; ``triples``
    merges its per-page lists by url and counts the pairs.

    With ``persist`` (the default) two frames are persisted:

    - ``page_kg`` feeds the mentions sink, the triples and the nodes;
      recomputing the NER stage per consumer is the single biggest
      avoidable cost.
    - ``triples`` feeds both its own sink and ``edges``.

    In the cluster deployment the same role is played by writing the page
    frame to storage between stages; persist is the in-session equivalent.
    :func:`write_outputs` releases both.
    """
    sentences = pages_to_sentences(pages, lang_filter=lang_filter)
    dim_rows = [r.asDict() for r in dim.collect()]
    alias = None
    if alias_edges is not None:
        types = _tagger(term_types, model, label_vocab)[2]
        alias = alias_lookup(alias_edges, dim, dim_rows, types)
    page = page_kg(
        pages,
        dim_rows,
        term_types,
        threshold=threshold,
        lang_filter=lang_filter,
        model=model,
        label_vocab=label_vocab,
        alias=alias,
        scope=scope,
    )
    if persist:
        page = page.persist(StorageLevel.MEMORY_AND_DISK)
    normalized = normalized_view(page)
    triples = page_triples(page, scope=scope, salt_buckets=salt_buckets)
    if persist:
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
    graph = build_graph(normalized, dim, triples)
    return {
        "sentences": sentences,
        "page_kg": page,
        "mentions": mentions_view(page),
        "normalized": normalized,
        "triples": triples,
        "nodes": graph["nodes"],
        "edges": graph["edges"],
    }


def write_outputs(outputs: dict[str, DataFrame], base_dir: str):
    """Materialize the KG tables as parquet directories.

    No table is shuffled for its sink. Mentions come out of the page stage
    url-clustered (each page's mentions from one task), and plain
    parquet records no bucketing a reader could use, so a
    ``repartition(url)`` would only cost a shuffle of the largest table.
    Edges are triples-sized. The bucketed sinks are
    :func:`write_outputs_bucketed` and :func:`write_outputs_iceberg`
    (``bucket(N, 'url')`` co-locates a url join on read).
    Each write is an atomic directory replace = the idempotent-resume unit.

    The caches of the pass (see :func:`run_kg_pipeline`: ``page_kg`` and
    ``triples``) are released after the writes: every cached plan left
    behind is matched against each later query's plan. The release waits
    for the cached blocks to be removed, so no removal work outlives the
    call. ``mentions`` and ``normalized`` are views, and an ``unpersist``
    on them frees nothing.
    """
    outputs["mentions"].write.mode("overwrite").parquet(f"{base_dir}/mentions")
    outputs["triples"].write.mode("overwrite").parquet(f"{base_dir}/triples")
    outputs["nodes"].write.mode("overwrite").parquet(f"{base_dir}/nodes")
    if "edges" in outputs:
        outputs["edges"].write.mode("overwrite").parquet(f"{base_dir}/edges")
    for name in ("page_kg", "triples"):
        if name in outputs:
            outputs[name].unpersist(blocking=True)


def write_outputs_bucketed(
    outputs: dict[str, DataFrame],
    table_prefix: str,
    url_buckets: int = 64,
    id_buckets: int = 128,
) -> None:
    """Catalog-table sink with REAL storage bucketing, runnable against the
    built-in session catalog (no extra jars): ``bucketBy(url).sortBy(url)``
    for mentions, id-bucketed nodes/edges.

    This is the executable twin of :func:`write_outputs_iceberg` (whose
    ``bucket()`` partition transform needs an Iceberg catalog): a join of
    two url-bucketed tables plans with ZERO shuffle exchanges (asserted in
    tests/test_graph_outputs.py), which is exactly the co-located pairing
    join the 100 TB design claims. ``mode("overwrite")`` makes a rerun
    replace the table wholesale — the idempotent-resume unit, like an
    Iceberg ``createOrReplace`` snapshot commit but without its atomicity
    guarantee (the session catalog swaps files non-atomically; production
    uses the Iceberg path for that)."""
    (
        outputs["mentions"]
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(url_buckets, "url")
        .sortBy("url")
        .saveAsTable(f"{table_prefix}_mentions")
    )
    outputs["triples"].write.format("parquet").mode("overwrite").saveAsTable(
        f"{table_prefix}_triples"
    )
    (
        outputs["nodes"]
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(id_buckets, "entity_id")
        .saveAsTable(f"{table_prefix}_nodes")
    )
    if "edges" in outputs:
        (
            outputs["edges"]
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(id_buckets, "src_id")
            .saveAsTable(f"{table_prefix}_edges")
        )


def write_outputs_iceberg(
    outputs: dict[str, DataFrame],
    table_prefix: str,
    url_buckets: int = 64,
    id_buckets: int = 128,
):
    """Production sink: the same KG tables as V2 ``writeTo`` calls against an
    Iceberg catalog (``table_prefix`` like ``catalog.db.kg``).

    - mentions bucketed by url → the drug⋈symptom pairing join is
      storage-co-located (both sides read pre-bucketed, no exchange);
    - nodes bucketed by entity_id, edges by src_id → point lookups and
      src-grouped scans prune to one bucket;
    - ``createOrReplace`` is a single atomic snapshot commit per table —
      the idempotent-resume unit the ledger tracks.

    Requires an Iceberg catalog on the session (``spark.sql.catalog.*``
    confs + runtime jar); this sandbox has neither, so the call is exercised
    only up to Spark's catalog-resolution error in tests, and the parquet
    twin above is the measured path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions.partitioning import bucket

    outputs["mentions"].writeTo(f"{table_prefix}_mentions").partitionedBy(
        bucket(url_buckets, F.col("url"))
    ).createOrReplace()
    outputs["triples"].writeTo(f"{table_prefix}_triples").createOrReplace()
    outputs["nodes"].writeTo(f"{table_prefix}_nodes").partitionedBy(
        bucket(id_buckets, F.col("entity_id"))
    ).createOrReplace()
    if "edges" in outputs:
        outputs["edges"].writeTo(f"{table_prefix}_edges").partitionedBy(
            bucket(id_buckets, F.col("src_id"))
        ).createOrReplace()
