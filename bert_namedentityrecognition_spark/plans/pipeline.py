"""End-to-end KG construction pipeline: pages → nodes/edges/triples.

Spark dataflow (SURVEY.md §7):

    pages(url, warc_ts, [html,] text, lang)
      → sentences   (one mapInPandas over the page contract, no shuffle)
      → mentions    (one mapInPandas Arrow stage: han_to_zen + tag + BIO decode)
      → normalized  (distinct surfaces → exact→fuzzy resolver, on the driver
                     or in one mapInPandas stage → broadcast join back)
      → canonical   (alias connected-components map, broadcast)
      → triples     (co-scope pairing join + salted groupBy count)
      → nodes/edges (parquet sinks; Iceberg bucketing documented)

Shuffles: exactly two on the hot path at scale — the pairing self-join keyed
by url (avoidable with bucketed storage) and the triple count aggregation
(map-side combined, salt-able). Everything else is broadcast or narrow.

Each piece of work runs once per pass: ``mentions`` and ``triples`` are
persisted (the NER stage and the pairing + count feed several consumers),
the side tables built on the driver (resolved surface map, fixture and
loaded dimensions) are ``LocalTableScan`` frames, so broadcasting them runs
no Python task, and the parquet sink writes each table as its plan emits
it, with no shuffle of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark import StorageLevel

from ..operators.canonicalize import apply_alias_map, canonical_alias_map
from ..operators.normalize import normalize_mentions
from ..operators.sentences import pages_to_sentences
from ..operators.tagger import extract_mentions
from ..operators.triples import build_triples


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
    """Returns the full lineage: sentences, mentions, normalized, triples,
    nodes, edges.

    With ``persist`` (the default) two frames are persisted:

    - ``mentions`` feeds the distinct-surface map, the pairing, the nodes
      aggregation and the sink; recomputing the NER Arrow stage per
      consumer is the single biggest avoidable cost.
    - ``triples`` feeds both its own sink and ``edges``; without it the
      edges write re-runs the per-url pairing and the count aggregation.

    ``normalized`` is not persisted: it is a broadcast join of the persisted
    mentions with a small ``LocalTableScan`` map. In the cluster deployment
    the same role is played by writing mentions to storage between stages;
    persist is the in-session equivalent. The caller unpersists
    ``mentions``; :func:`write_outputs` releases ``triples`` after its two
    sinks.
    """
    sentences = pages_to_sentences(pages, lang_filter=lang_filter)
    if model is not None:
        from ..operators.ner import ner_pages

        mentions = ner_pages(pages, model, label_vocab, lang_filter=lang_filter)
    else:
        mentions = extract_mentions(pages, term_types, lang_filter=lang_filter)
    if persist:
        mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
    normalized = normalize_mentions(mentions, dim, threshold=threshold)
    if alias_edges is not None:
        alias_map = canonical_alias_map(alias_edges, dim)
        normalized = apply_alias_map(normalized, alias_map, dim=dim)
    triples = build_triples(
        normalized,
        scope=scope,
        salt_buckets=salt_buckets,
    )
    if persist:
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
    from ..operators.triples import build_graph

    graph = build_graph(normalized, dim, triples)
    return {
        "sentences": sentences,
        "mentions": mentions,
        "normalized": normalized,
        "triples": triples,
        "nodes": graph["nodes"],
        "edges": graph["edges"],
    }


def write_outputs(outputs: dict[str, DataFrame], base_dir: str):
    """Materialize the KG tables as parquet directories.

    No table is shuffled for its sink. Mentions come out of the mention
    stage url-clustered (each page's mentions from one task), and plain
    parquet records no bucketing a reader could use, so a
    ``repartition(url)`` would only cost a shuffle of the largest table.
    Edges are triples-sized. The bucketed sinks are
    :func:`write_outputs_bucketed` and :func:`write_outputs_iceberg`
    (``bucket(N, 'url')`` co-locates the pairing join on read).
    Each write is an atomic directory replace = the idempotent-resume unit.

    The triples cache (see :func:`run_kg_pipeline`) serves the triples and
    edges writes and is released after them: every cached plan left behind
    is matched against each later query's plan, and a caller that releases
    only ``mentions`` would keep one per pass. The release waits for the
    cached blocks to be removed, so no removal work outlives the call.
    """
    outputs["mentions"].write.mode("overwrite").parquet(f"{base_dir}/mentions")
    outputs["triples"].write.mode("overwrite").parquet(f"{base_dir}/triples")
    outputs["nodes"].write.mode("overwrite").parquet(f"{base_dir}/nodes")
    if "edges" in outputs:
        outputs["edges"].write.mode("overwrite").parquet(f"{base_dir}/edges")
    outputs["triples"].unpersist(blocking=True)


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
