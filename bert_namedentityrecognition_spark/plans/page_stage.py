"""The page-local KG stage: pages → one row per page carrying its resolved
mentions and its pair lists, in ONE Arrow section.

A page's mentions, how they resolve and its pair lists depend only on that
page and on the small broadcast dimension, so they leave Python together.
Per Arrow batch of :func:`~..operators.sentences._pages_text_source` rows:

1. tag: the page contract (``_page_rows``) feeds the workload's own
   tagger, the gazetteer or the model (the same taggers as
   ``tagger._mention_stage``);
2. resolve: each new (word, type) goes once per Python worker through
   ``resolve_surfaces`` against the per-worker dimension index
   (``_worker_dim_index``), then through the alias lookup the driver made
   with ``apply_alias_map`` (:func:`alias_lookup`); a dict memo keeps the
   result for the worker's later batches and tasks;
3. deduplicate: each scope key of the page (the page, or each sentence)
   keeps its distinct raw drug surfaces and distinct (surface, name)
   symptom pairs.

Output (:func:`page_kg`), one row per page with at least one mention::

    url[, *extra_cols],
    mentions array<struct<sent_id, start, end, type, word,
                          canonical, entity_id, code, score, method>>,
    scopes   array<struct<sent_id, drugs array<string>,
                          syms array<struct<w, n>>>>

No pairing rule runs here. A page is not a document: one url can arrive in
several rows, so the batch path merges the lists by url before
``triples.explode_pairs`` applies the rules (:func:`page_triples`), while
the streaming path pairs each page row as it is
(``streaming.stream_pipeline.page_pairs``).
The mentions and normalized tables are ``inline`` views of the same rows
(:func:`mentions_view`, :func:`normalized_view`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..operators.canonicalize import apply_alias_map, canonical_alias_map
from ..operators.normalize import (
    SENTINEL,
    _broadcast_dim,
    _worker_dim_index,
    resolve_surfaces,
)
from ..operators.sentences import _page_rows, _pages_text_source
from ..operators.tagger import MENTION_SCHEMA, _Gazetteer
from ..operators.triples import count_pairs, explode_pairs
from ..sources.dims import local_frame

SUBJ_TYPE, OBJ_TYPE = "drug", "symptom"

_RESOLVED_FIELDS = [
    T.StructField("canonical", T.StringType()),
    T.StructField("entity_id", T.StringType()),
    T.StructField("code", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("method", T.StringType()),
]
RESOLVED_MENTION = T.StructType(
    [f for f in MENTION_SCHEMA if f.name != "url"] + _RESOLVED_FIELDS
)
SCOPE = T.StructType(
    [
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("drugs", T.ArrayType(T.StringType(), False), False),
        T.StructField(
            "syms",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("w", T.StringType(), False),
                        T.StructField("n", T.StringType()),
                    ]
                ),
                False,
            ),
            False,
        ),
    ]
)
_MENTIONS_FIELD = T.StructField("mentions", T.ArrayType(RESOLVED_MENTION, False), False)
_SCOPES_FIELD = T.StructField("scopes", T.ArrayType(SCOPE, False), False)

# per-worker-process memo of resolved (word, type) keys, keyed like
# _WORKER_DIM_INDEX by the stage's dimension broadcast
_WORKER_RESOLVED: dict[int, dict] = {}


def _worker_resolved(key: int) -> dict:
    """The memo of the stage whose dimension broadcast has ``key``, one per
    Python worker process; module-level for the reason given at
    ``normalize._worker_dim_index``."""
    memo = _WORKER_RESOLVED.get(key)
    if memo is None:
        _WORKER_RESOLVED.clear()
        memo = _WORKER_RESOLVED[key] = {}
    return memo


def _tagger(term_types, model, label_vocab):
    """(make_tagger, args, mention types) of the workload's tagger: the model
    at ``ner_pages``' default batch size when one is given, else the
    normalizing gazetteer."""
    if model is None:
        return _Gazetteer, (term_types, True), set(term_types.values())
    from ..operators.ner import _model_tagger

    return _model_tagger, (model, label_vocab, 8), set(label_vocab.bio_tables()[2][1:])


def alias_lookup(alias_edges: DataFrame, dim: DataFrame, dim_rows: list[dict], types) -> dict:
    """``apply_alias_map`` over every outcome ``resolve_surfaces`` can give,
    as a dict ``(canonical, entity_id, code, type) → (canonical, entity_id,
    code)``: a dimension row's ids under its kind, or the '' sentinel under
    any mention type. Run once on the driver, so the stage applies the one
    implementation's answers after resolving."""
    keys = {(r["canonical"], r["entity_id"], r.get("code"), r["kind"]) for r in dim_rows}
    keys |= {(SENTINEL, None, None, t) for t in {r["kind"] for r in dim_rows} | set(types)}
    frame = local_frame(
        dim.sparkSession, sorted(keys, key=repr),
        "canonical string, entity_id string, code string, type string",
    ).withColumn("_key", F.struct("canonical", "entity_id", "code", "type"))
    mapped = apply_alias_map(frame, canonical_alias_map(alias_edges, dim), dim=dim)
    return {tuple(r["_key"]): (r["canonical"], r["entity_id"], r["code"]) for r in mapped.collect()}


def page_kg(
    pages: DataFrame,
    dim_rows: list[dict],
    term_types: dict[str, str],
    threshold: float = 70.0,
    lang_filter: str | None = "ja",
    model=None,
    label_vocab=None,
    alias: dict | None = None,
    scope: str = "document",
    remove_duplicates: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """pages → the page frame described in the module docstring, one
    ``mapInArrow`` over the page contract, no shuffle.

    ``alias`` is an :func:`alias_lookup` result; ``scope`` is 'document'
    (one scope entry per page, ``sent_id`` null) or 'sentence' (one per
    sentence with a drug or symptom mention); without
    ``remove_duplicates`` the scope lists keep every occurrence.
    ``extra_cols`` pass through from the pages (``warc_ts`` for
    streaming)."""
    if scope not in ("document", "sentence"):
        raise ValueError(f"unknown scope {scope!r}")
    src = _pages_text_source(pages, lang_filter, extra_cols=extra_cols)
    sc = src.sparkSession.sparkContext
    make_tagger, tagger_args, _ = _tagger(term_types, model, label_vocab)
    bc = sc.broadcast((tagger_args, alias or {}))
    bdim = _broadcast_dim(sc, dim_rows)
    schema = T.StructType(
        [MENTION_SCHEMA["url"], *(src.schema[c] for c in extra_cols), _MENTIONS_FIELD, _SCOPES_FIELD]
    )
    mentions_type, scopes_type = (to_arrow_type(f.dataType) for f in schema[-2:])
    per_sentence = scope == "sentence"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        args, alias_map = bc.value
        tag = make_tagger(*args)
        index = _worker_dim_index(bdim)
        memo = _worker_resolved(bdim[0])

        def resolve(keys: list[tuple]) -> list[tuple]:
            missing = {k for k in keys if k not in memo}
            for word, mtype, canon, eid, code, score, method in resolve_surfaces(
                missing, index, threshold
            ):
                canon, eid, code = alias_map.get((canon, eid, code, mtype), (canon, eid, code))
                memo[(word, mtype)] = (canon, eid, code, score, method)
            return [memo[k] for k in keys]

        for batch in batches:
            yield _page_batch(
                batch, tag, resolve, per_sentence, remove_duplicates, extra_cols,
                mentions_type, scopes_type,
            )

    return src.mapInArrow(run, schema)


def _list_array(lengths, values: pa.Array, typ: pa.DataType) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values, type=typ)


def _struct_array(columns: list, typ: pa.StructType) -> pa.StructArray:
    fields = [typ.field(i) for i in range(typ.num_fields)]
    return pa.StructArray.from_arrays(
        [c if isinstance(c, pa.Array) else pa.array(c, f.type) for c, f in zip(columns, fields)],
        fields=fields,
    )


def _page_batch(
    batch: pa.RecordBatch,
    tag,
    resolve,
    per_sentence: bool,
    remove_duplicates: bool,
    extra_cols: tuple[str, ...],
    mentions_type: pa.ListType,
    scopes_type: pa.ListType,
) -> pa.RecordBatch:
    """One batch of source pages → its page rows."""
    # the tagger's url column carries the page's row in the batch
    rows = _page_rows(
        {
            "url": range(batch.num_rows),
            "text": batch.column("text").to_pylist(),
            "_html": batch.column("_html").to_pylist(),
        }
    )
    out = {name: [] for name in MENTION_SCHEMA.fieldNames()}
    tag(rows, out)
    page = np.asarray(out["url"], np.int64)
    order = np.argsort(page, kind="stable")
    counts = np.bincount(page, minlength=batch.num_rows)
    kept = np.flatnonzero(counts)

    resolved = resolve(list(zip(out["word"], out["type"])))
    flat = [out[name] for name in MENTION_SCHEMA.fieldNames()[1:]]
    flat += [list(c) for c in zip(*resolved)] if resolved else [[]] * len(_RESOLVED_FIELDS)
    mentions = _list_array(
        counts[kept], _struct_array(flat, mentions_type.value_type).take(order), mentions_type
    )

    # scope lists, keyed by (page, sent_id or None) in page order
    scopes: dict[tuple, tuple[list, list]] = {}
    for i in order.tolist():
        mtype = out["type"][i]
        if mtype not in (SUBJ_TYPE, OBJ_TYPE):
            continue
        key = (out["url"][i], out["sent_id"][i] if per_sentence else None)
        drugs, syms = scopes.setdefault(key, ([], []))
        if mtype == SUBJ_TYPE:
            drugs.append(out["word"][i])
        else:
            syms.append((out["word"][i], resolved[i][0]))
    if remove_duplicates:
        scopes = {k: (list(dict.fromkeys(d)), list(dict.fromkeys(s))) for k, (d, s) in scopes.items()}
    per_page = np.bincount(np.asarray([p for p, _ in scopes], np.int64), minlength=batch.num_rows)
    scope_type = scopes_type.value_type
    drugs_type, syms_type = scope_type.field("drugs").type, scope_type.field("syms").type
    drug_vals = [d for ds, _ in scopes.values() for d in ds]
    sym_vals = [s for _, ss in scopes.values() for s in ss]
    scope_rows = _struct_array(
        [
            [sid for _, sid in scopes],
            _list_array(
                [len(d) for d, _ in scopes.values()], pa.array(drug_vals, pa.string()), drugs_type
            ),
            _list_array(
                [len(s) for _, s in scopes.values()],
                _struct_array([[w for w, _ in sym_vals], [n for _, n in sym_vals]], syms_type.value_type),
                syms_type,
            ),
        ],
        scope_type,
    )
    take = pa.array(kept)
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url").take(take),
            *(batch.column(c).take(take) for c in extra_cols),
            mentions,
            _list_array(per_page[kept], scope_rows, scopes_type),
        ],
        names=["url", *extra_cols, "mentions", "scopes"],
    )


def mentions_view(page: DataFrame) -> DataFrame:
    """The flat ``MENTION_SCHEMA`` mentions of a page frame."""
    return page.select("url", F.inline("mentions")).select(*MENTION_SCHEMA.fieldNames())


def normalized_view(page: DataFrame) -> DataFrame:
    """The mentions of a page frame with their resolved columns."""
    return page.select("url", F.inline("mentions"))


def page_triples(page: DataFrame, scope: str = "document", salt_buckets: int = 0) -> DataFrame:
    """(subj, pred, obj, count) of a page frame: the scope lists of rows
    that share a url (and, for sentence scope, a sent_id) merge, then
    ``explode_pairs`` and the count. The merge shuffles per-page lists, not
    mentions. A key seen in one row keeps that row's lists, which the stage
    deduplicated; only a key merged from several rows deduplicates again
    (a struct ``array_distinct`` compares its elements pairwise)."""
    keys = ["url"] if scope == "document" else ["url", "sent_id"]
    merged = (
        page.select("url", F.inline("scopes"))
        .groupBy(*keys)
        .agg(
            F.count("*").alias("_rows"),
            F.flatten(F.collect_list("drugs")).alias("drugs"),
            F.flatten(F.collect_list("syms")).alias("syms"),
        )
    )
    dedup = [
        F.when(F.col("_rows") > 1, F.array_distinct(c)).otherwise(F.col(c)).alias(c)
        for c in ("drugs", "syms")
    ]
    return count_pairs(explode_pairs(merged.select(*dedup)), salt_buckets)

