"""Mention pairing → (subj, pred, obj, count) triples.

Re-expresses the ADE-table pairing (``ade_table/ade_table.py:14-64``) as
per-scope-key lists + array expressions + one count aggregation:

- per-document raw lists, deduplicated (:25-27)   → ``collect_list`` +
  ``array_distinct`` per key (:func:`build_pairs`), or the page stage's
  per-page lists merged by url (``plans/page_stage.py``)
- strip, ``len >= 2`` floors, "No Symptoms"       → :func:`explode_pairs`,
  the one copy of the rules (:29-55), JVM array expressions inside the row
- nested-dict counting                             → ``groupBy().count()``
  (map-side partial aggregation = the scale win), optionally **salted**:
  two-phase ``groupBy(subj, obj, salt) → groupBy(subj, obj)`` so one hot
  (drug, symptom) cell cannot pin a single reducer at 10^12 docs.

Scope: 'document' (reference behavior) or 'sentence'
(``ade_table/generate_table_from_xml_file.py:33-34``'s co-sentence variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.dims import local_frame

NO_SYMPTOMS = "No Symptoms"
DEFAULT_PRED = "HAS_ADVERSE_EVENT"


def salted_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 0, count_col: str = "count"
) -> DataFrame:
    """groupBy(keys).count() with optional explicit two-phase salting."""
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn(
            "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
        )
        partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_c"))
        return partial.groupBy(*keys).agg(F.sum("_c").alias(count_col))
    return df.groupBy(*keys).agg(F.count("*").alias(count_col))


# the characters of str.isspace (tests/test_kg_tail.py checks the set)
_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def _strip(col):
    """Python ``str.strip()``: drops the ``str.isspace`` characters from both
    ends. Spark's one-argument ``trim`` drops only U+0020, so the U+3000
    that ``han_to_zen`` makes of an ASCII space would survive it."""
    return F.btrim(col, F.lit(_WHITESPACE))


def explode_pairs(
    lists: DataFrame,
    emit_no_symptoms: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(*keep, subj, obj) pair rows from one row per scope key carrying its
    raw lists: ``drugs`` (drug surfaces) and ``syms`` (``struct<w, n>``:
    symptom surface, its normalized name). The pairing rules of
    ``ade_table.py:29-55`` as JVM array expressions inside the row, the one
    copy every pairing path runs:

    - ``str.strip`` and the ``len >= 2`` floor on drugs (:31-33) and on the
      normalized name, which also drops the '' sentinel (:49-55);
    - "No Symptoms" when the raw symptom list is empty, a test made before
      normalization (:41-46).

    The per-document dedup (:25-27) comes first and is the caller's, on the
    RAW surfaces, so two raw variants of one name still count twice: the
    lists arrive deduplicated when the reference's ``remove_duplicates``
    is on."""
    subjs = F.filter(F.transform("drugs", _strip), lambda d: F.length(d) >= 2)
    objs = F.filter(F.transform("syms", lambda s: _strip(s["n"])), lambda n: F.length(n) >= 2)
    if emit_no_symptoms:
        objs = F.when(F.size("syms") == 0, F.array(F.lit(NO_SYMPTOMS))).otherwise(objs)
    return (
        lists.select(*keep, F.explode(subjs).alias("subj"), objs.alias("_objs"))
        .select(*keep, "subj", F.explode("_objs").alias("obj"))
    )


def count_pairs(pairs: DataFrame, salt_buckets: int = 0, pred: str = DEFAULT_PRED) -> DataFrame:
    """(subj, obj) pair rows → (subj, pred, obj, count) triples."""
    counted = salted_count(pairs, ["subj", "obj"], salt_buckets)
    return counted.select("subj", F.lit(pred).alias("pred"), "obj", F.col("count"))


def build_pairs(
    mentions: DataFrame,
    subj_type: str = "drug",
    obj_type: str = "symptom",
    scope: str = "document",
    remove_duplicates: bool = True,
    use_canonical: bool = True,
    emit_no_symptoms: bool = True,
) -> DataFrame:
    """The pre-aggregation (subj, obj) pair stream of :func:`build_triples`
    — exposed so the skew bench can measure the per-reducer shuffle split
    of the counting exchange on the exact rows that feed it.

    ONE shuffle: per-scope-key mention lists (the reference's own shape —
    ``from_lists`` consumes per-document lists), then :func:`explode_pairs`."""
    keys = ["url"] if scope == "document" else ["url", "sent_id"]
    name = F.col("canonical") if use_canonical and "canonical" in mentions.columns else F.col("word")
    dedup = F.array_distinct if remove_duplicates else (lambda c: c)
    perdoc = mentions.groupBy(*keys).agg(
        dedup(F.collect_list(F.when(F.col("type") == subj_type, F.col("word")))).alias("drugs"),
        dedup(
            F.collect_list(
                F.when(
                    F.col("type") == obj_type,
                    F.struct(F.col("word").alias("w"), name.alias("n")),
                )
            )
        ).alias("syms"),
    )
    return explode_pairs(perdoc, emit_no_symptoms)


def build_triples(
    mentions: DataFrame,
    subj_type: str = "drug",
    obj_type: str = "symptom",
    pred: str = DEFAULT_PRED,
    scope: str = "document",
    remove_duplicates: bool = True,
    use_canonical: bool = True,
    salt_buckets: int = 0,
    emit_no_symptoms: bool = True,
) -> DataFrame:
    """mentions(url, sent_id, type, word[, canonical]) → (subj, pred, obj, count).

    With ``use_canonical`` the normalized surface is paired (''-sentinel rows
    drop, reference :49-55); otherwise the raw surface.
    """
    pairs = build_pairs(
        mentions,
        subj_type=subj_type,
        obj_type=obj_type,
        scope=scope,
        remove_duplicates=remove_duplicates,
        use_canonical=use_canonical,
        emit_no_symptoms=emit_no_symptoms,
    )
    return count_pairs(pairs, salt_buckets, pred)


def pattern_predicate(
    sent_col, patterns: list[tuple[str, str]], default: str = DEFAULT_PRED
):
    """Predicate name from ordered sentence-level regex patterns (first
    match wins), JVM-side (``rlike`` — keep patterns RE2-safe so the DuckDB
    oracle can replay them with ``regexp_matches``)."""
    expr = F.lit(default)
    for pat, name in reversed(patterns):
        expr = F.when(sent_col.rlike(pat), F.lit(name)).otherwise(expr)
    return expr


def build_triples_patterned(
    mentions: DataFrame,
    sentences: DataFrame,
    patterns: list[tuple[str, str]],
    default_pred: str = DEFAULT_PRED,
    subj_type: str = "drug",
    obj_type: str = "symptom",
) -> DataFrame:
    """Co-sentence pairing with **pattern-based predicates** (north star:
    "pairing co-sentence entities with pattern-based predicates"): the
    predicate of each (subj, obj) pair comes from ordered regex patterns
    over the sentence text instead of a single fixed relation — the
    reference's ADE table is the degenerate one-pattern case.

    mentions(url, sent_id, type, word) × sentences(url, sent_id, sent) →
    (subj, pred, obj, count). Shuffle budget: one exchange for the per-
    sentence mention grouping plus one for the (url, sent_id) equi-join
    with the (tiny, projected) predicate table — the pairing itself stays
    JVM array expressions inside the row, as in :func:`build_triples`.
    Per-sentence dedup and the ≥2-char surface floor apply to both sides.
    """
    preds = sentences.select(
        "url",
        "sent_id",
        pattern_predicate(F.col("sent"), patterns, default_pred).alias("pred"),
    )
    return patterned_from_preds(
        mentions, preds, subj_type=subj_type, obj_type=obj_type
    )


def patterned_from_preds(
    mentions: DataFrame,
    preds: DataFrame,
    subj_type: str = "drug",
    obj_type: str = "symptom",
) -> DataFrame:
    """Pairing half of :func:`build_triples_patterned`, over an already-
    materialized per-sentence predicate table ``preds(url, sent_id, pred)``
    — the ledger resume path persists preds per url-bucket alongside
    mentions and pairs them here after all buckets commit."""
    perkey = mentions.groupBy("url", "sent_id").agg(
        F.array_distinct(
            F.filter(
                F.collect_list(
                    F.when(F.col("type") == subj_type, F.trim(F.col("word")))
                ),
                lambda d: F.length(d) >= 2,
            )
        ).alias("_subjs"),
        F.array_distinct(
            F.filter(
                F.collect_list(
                    F.when(F.col("type") == obj_type, F.trim(F.col("word")))
                ),
                lambda s: F.length(s) >= 2,
            )
        ).alias("_objs"),
    )
    pairs = (
        perkey.join(preds, ["url", "sent_id"])
        .select(F.explode("_subjs").alias("subj"), "pred", "_objs")
        .select("subj", "pred", F.explode("_objs").alias("obj"))
    )
    return pairs.groupBy("subj", "pred", "obj").agg(F.count("*").alias("count"))


def _min_ids(rows, key: str) -> list[tuple]:
    """(key value, min entity_id) per non-null key of dimension rows, the
    driver twin of ``groupBy(key).agg(min(entity_id))``: Python orders
    strings by code point, which is the byte order Spark compares UTF-8
    strings in; null ids are skipped, so a key with only null ids maps to
    null."""
    ids: dict = {}
    for r in rows:
        if r[key] is not None:
            ids.setdefault(r[key], []).append(r["entity_id"])
    return [(k, min((e for e in v if e is not None), default=None)) for k, v in ids.items()]


def build_graph(
    normalized: DataFrame,
    dim: DataFrame,
    triples: DataFrame,
    pred: str = DEFAULT_PRED,
) -> dict[str, DataFrame]:
    """Materialize the KG as id-keyed ``nodes`` / ``edges`` tables.

    nodes(entity_id, canonical, kind, mention_count, doc_count) — aggregated
    from normalized mentions (''-sentinel rows excluded).
    edges(src_id, pred, dst_id, subj, obj, count) — triples with both
    endpoints resolved to dimension entity ids via broadcast lookups
    (subjects are raw drug surfaces per reference semantics, so they resolve
    through the surface column; unresolvable endpoints keep a
    ``SURF:<surface>`` synthetic id so no edge is silently dropped).

    At scale these are the Iceberg tables bucketed by entity_id (nodes) /
    src_id (edges); here plain DataFrames the caller writes.
    """
    nodes = (
        normalized.filter(F.col("canonical").isNotNull() & (F.col("canonical") != ""))
        .groupBy("entity_id", F.col("canonical"), F.col("type").alias("kind"))
        .agg(
            F.count("*").alias("mention_count"),
            F.countDistinct("url").alias("doc_count"),
        )
    )
    # a surface or canonical listed under several entity ids (real MedDRA /
    # Manbyo dimensions have them) keeps the min id — value-deterministic,
    # like build_dim_index's pick, never an arbitrary row; both maps are
    # built on the driver from the dimension rows, so neither is a shuffle
    dim_rows = dim.select("surface", "canonical", "entity_id").collect()
    surf_map, canon_map = (
        local_frame(dim.sparkSession, _min_ids(dim_rows, key), "_k string, _id string")
        for key in ("surface", "canonical")
    )
    edges = (
        triples.join(
            F.broadcast(surf_map.withColumnRenamed("_id", "_src")),
            triples.subj == surf_map._k,
            "left",
        )
        .drop("_k")
        .join(
            F.broadcast(canon_map.withColumnRenamed("_id", "_dst")),
            triples.obj == canon_map._k,
            "left",
        )
        .drop("_k")
        .select(
            F.coalesce(F.col("_src"), F.concat(F.lit("SURF:"), F.col("subj"))).alias("src_id"),
            "pred",
            F.coalesce(F.col("_dst"), F.concat(F.lit("SURF:"), F.col("obj"))).alias("dst_id"),
            "subj",
            "obj",
            "count",
        )
    )
    return {"nodes": nodes, "edges": edges}


def pivot_table(
    triples: DataFrame, top_subj: int | None = None, top_obj: int | None = None
) -> DataFrame:
    """ADE matrix export (``ade_table/ade_table.py:67-97``): rows ordered by
    row-sum desc, optional top-k on both axes. Small-result export only."""
    totals = triples.groupBy("subj").agg(F.sum("count").alias("_total"))
    if top_subj:
        keep = totals.orderBy(F.desc("_total"), "subj").limit(top_subj)
        triples = triples.join(F.broadcast(keep.select("subj")), "subj")
    if top_obj:
        keep_o = (
            triples.groupBy("obj")
            .agg(F.sum("count").alias("_t"))
            .orderBy(F.desc("_t"), "obj")
            .limit(top_obj)
        )
        triples = triples.join(F.broadcast(keep_o.select("obj")), "obj")
    pivoted = (
        triples.groupBy("subj").pivot("obj").sum("count").na.fill(0)
    )
    return pivoted.join(totals, "subj").orderBy(F.desc("_total"), "subj").drop("_total")


# --- heatmap sink (dependency-free SVG twin of ade_table.py:114-124) ---------

_HEAT_STOPS = [(68, 1, 84), (33, 145, 140), (253, 231, 37)]  # viridis-ish


def _heat_color(v: float) -> str:
    """0..1 → #rrggbb along a 3-stop perceptual ramp."""
    v = min(max(v, 0.0), 1.0)
    seg, t = (0, v * 2) if v <= 0.5 else (1, (v - 0.5) * 2)
    a, b = _HEAT_STOPS[seg], _HEAT_STOPS[seg + 1]
    rgb = [round(a[i] + (b[i] - a[i]) * t) for i in range(3)]
    return "#{:02x}{:02x}{:02x}".format(*rgb)


def heatmap_svg(
    pivot_rows: list[dict], cell: int = 28, label_w: int = 120, label_h: int = 90
) -> str:
    """Pivot rows (first field = subj, remaining numeric fields = obj counts)
    → an SVG heatmap string. Pure stdlib — the reference renders the same
    matrix with seaborn (``ade_table/ade_table.py:114-124``); this twin
    keeps the §2.2 sink executable without plotting libraries."""
    from xml.sax.saxutils import escape

    if not pivot_rows:
        return '<svg xmlns="http://www.w3.org/2000/svg" width="1" height="1"/>'
    subj_field = next(iter(pivot_rows[0]))
    cols = [k for k in pivot_rows[0] if k != subj_field]
    vmax = max(
        (float(r[k] or 0) for r in pivot_rows for k in cols), default=0.0
    ) or 1.0
    w = label_w + cell * len(cols)
    h = label_h + cell * len(pivot_rows)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}" '
        f'font-family="sans-serif" font-size="10">'
    ]
    for j, c in enumerate(cols):
        x = label_w + j * cell + cell // 2
        parts.append(
            f'<text x="{x}" y="{label_h - 6}" '
            f'transform="rotate(-60 {x} {label_h - 6})">{escape(c)}</text>'
        )
    for i, r in enumerate(pivot_rows):
        y = label_h + i * cell
        parts.append(
            f'<text x="2" y="{y + cell * 2 // 3}">{escape(str(r[subj_field]))}</text>'
        )
        for j, c in enumerate(cols):
            v = float(r[c] or 0)
            parts.append(
                f'<rect x="{label_w + j * cell}" y="{y}" width="{cell}" '
                f'height="{cell}" fill="{_heat_color(v / vmax)}">'
                f"<title>{escape(str(r[subj_field]))} × {escape(c)}: {int(v)}</title></rect>"
            )
    parts.append("</svg>")
    return "".join(parts)


def write_heatmap_svg(
    triples: DataFrame,
    path: str,
    top_subj: int | None = 20,
    top_obj: int | None = 20,
) -> str:
    """Heatmap sink: counted (subj, obj) matrix → SVG file. Driver-side over
    the (small, top-k-bounded) pivot — the reference's own shape; the big
    table never leaves Spark unaggregated."""
    rows = [r.asDict() for r in pivot_table(triples, top_subj, top_obj).collect()]
    svg = heatmap_svg(rows)
    with open(path, "w", encoding="utf-8") as f:
        f.write(svg)
    return path


def pmi_edges(
    mentions: DataFrame,
    n_docs: int,
    subj_kind: str = "drug",
    obj_kind: str = "symptom",
    min_len: int = 2,
) -> DataFrame:
    """PMI edge weighting over co-document entity pairs — the edge-strength
    score a KG materialization attaches to its co-occurrence edges so that
    downstream consumers can separate association from chance.

    ``mentions`` is the tagger output ``(url, word, type, ...)``;
    ``n_docs`` the corpus document count (one bounded scalar ``count()`` at
    the call site). Returns one row per observed (subj, obj) pair:
    ``(subj, obj, n_pair, n_subj, n_obj, n_docs, strong)`` where the count
    columns are document frequencies and ``strong`` is the positive-PMI
    test ``P(a,b) > P(a)·P(b)``, evaluated as the INTEGER cross-product
    ``n_pair · n_docs > n_subj · n_obj`` — no logarithm is ever computed,
    because PMI's sign (and any fixed threshold) is a monotone function of
    that rational, so the decision is bit-identical in the DuckDB twin.
    Products are compared as decimal(38,0): exact up to ~10**19 documents,
    and DECIMAL rather than BIGINT so an overflow beyond that is a loud
    error instead of a silent Java wraparound.

    Scale shape: the doc⋈doc pairing shuffles on ``doc_id`` once (the same
    single-shuffle pairing as ``build_pairs``); the per-term document
    frequencies are term-vocabulary-sized dimensions → broadcast joins.
    Ref: the reference counts raw pair frequency only
    (``ade_table/generate_table.py``); PMI weighting is this repo's
    KG-scale extension (SURVEY §2.12)."""
    base = (
        mentions.select(
            F.col("url").alias("_doc"),
            F.trim(F.col("word")).alias("_term"),
            F.col("type").alias("_kind"),
        )
        .filter(F.length(F.col("_term")) >= min_len)
        # base feeds both the subj and obj branches — materialize so the
        # upstream tagger stage runs ONCE (rule 23: exchange reuse does not
        # dedup the two near-identical subtrees).
        .localCheckpoint(eager=True)
    )
    drugs = (
        base.filter(F.col("_kind") == subj_kind)
        .select("_doc", F.col("_term").alias("subj"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds n_subj AND the pairing join
    )
    syms = (
        base.filter(F.col("_kind") == obj_kind)
        .select("_doc", F.col("_term").alias("obj"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds n_obj AND the pairing join
    )
    na = drugs.groupBy("subj").agg(F.count(F.lit(1)).cast("long").alias("n_subj"))
    nb = syms.groupBy("obj").agg(F.count(F.lit(1)).cast("long").alias("n_obj"))
    ab = (
        drugs.join(syms, "_doc")
        .groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    dec = "decimal(38,0)"
    return (
        ab.join(F.broadcast(na), "subj")
        .join(F.broadcast(nb), "obj")
        .withColumn("n_docs", F.lit(int(n_docs)).cast("long"))
        .withColumn(
            "strong",
            F.col("n_pair").cast(dec) * F.col("n_docs")
            > F.col("n_subj").cast(dec) * F.col("n_obj"),
        )
        .select("subj", "obj", "n_pair", "n_subj", "n_obj", "n_docs", "strong")
    )


def proximity_edges(
    docs: DataFrame,
    subj_terms: list[str],
    obj_terms: list[str],
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(subj, obj, n_close, min_dist): KG edges weighted by TOKEN PROXIMITY
    instead of mere co-document presence — a (subj, obj) occurrence pair
    counts only when the two tokens sit within ``window`` positions of
    each other, and the edge carries how often that happens plus the
    closest observed distance. Proximity is the classic precision upgrade
    over co-occurrence edges: "spark … 400 tokens … slow" says nothing,
    "spark slow" adjacent says a lot.

    Scale shape: one token-position explode (map-side filtered to the two
    term dictionaries — the exploded stream carries ONLY dictionary hits,
    not the corpus), one doc-keyed equi-join whose per-doc blowup is
    bounded by per-doc dictionary occurrences, one (subj, obj) partial
    agg. Positions are 0-based token indices from the same whitespace
    split both engines share; distances are BIGINTs.

    Ref: the reference pairs drug×symptom per document
    (``ade_table/generate_table.py``); the proximity refinement is this
    repo's KG-scale extension (SURVEY §2.12)."""
    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("p", "tok"),
    )
    d = pos.filter(F.col("tok").isin(subj_terms)).select(
        "doc_id", F.col("tok").alias("subj"), F.col("p").cast("long").alias("p1")
    )
    s = pos.filter(F.col("tok").isin(obj_terms)).select(
        "doc_id", F.col("tok").alias("obj"), F.col("p").cast("long").alias("p2")
    )
    return (
        d.join(s, "doc_id")
        .filter(F.abs(F.col("p1") - F.col("p2")) <= window)
        .groupBy("subj", "obj")
        .agg(
            F.count("*").alias("n_close"),
            F.min(F.abs(F.col("p1") - F.col("p2"))).alias("min_dist"),
        )
    )


def negative_samples(
    positives: DataFrame,
    entities: DataFrame,
    k: int = 4,
    subj_col: str = "subj",
    obj_col: str = "obj",
    entity_col: str = "entity",
    entity_id_col: str = "entity_id",
    broadcast_positives: bool = True,
) -> DataFrame:
    """KG-embedding training prep (TransE-style corruption): for every
    positive edge, ``k`` deterministic head-corruptions and ``k``
    tail-corruptions drawn from the entity table, each flagged ``usable``
    = the corrupted triple is NOT itself a positive (the standard
    "filtered setting" — training on a false negative teaches the model
    the wrong thing). No RNG state: the corrupt entity id is
    ``(poly_hash(subj|obj|slot) + j) % V``, a pure function of the edge,
    so the sample set is reproducible on any cluster size / partitioning
    and replayable in SQL.

    ``entities`` must carry contiguous ids ``0..V-1`` (the entity table a
    KG materialization already ships; V via one scalar count). Scale
    shape: generation is a map-only explode over positives (×2k) with the
    entity table joined on the derived id (broadcast — entity tables are
    node-sized, edges dominate); the filtered-setting check is one join
    against positives, broadcast when the positive set fits
    (``broadcast_positives``), else a shuffle join on the corrupted key.

    Ref: the reference stops at the triple table
    (``ade_table/generate_table.py``); embedding-training prep is this
    repo's KG-scale extension (SURVEY §2.12)."""
    from ..functions.textstats import poly_hash

    v = entities.count()
    base = positives.select(
        F.col(subj_col).alias("subj"), F.col(obj_col).alias("obj")
    ).distinct()
    if broadcast_positives:
        base = base.localCheckpoint(eager=True)
    gen = (
        base.select(
            "subj",
            "obj",
            F.explode(F.array(F.lit("head"), F.lit("tail"))).alias("slot"),
        )
        .select(
            "subj",
            "obj",
            "slot",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
        )
        .withColumn(
            "neg_id",
            (
                poly_hash(F.concat_ws("|", F.col("subj"), F.col("obj"), F.col("slot")))
                + F.col("j").cast("long")
            )
            % F.lit(v),
        )
    )
    ent = F.broadcast(
        entities.select(
            F.col(entity_id_col).alias("neg_id"),
            F.col(entity_col).alias("neg_entity"),
        )
    )
    withneg = gen.join(ent, "neg_id").select(
        "subj", "obj", "slot", F.col("j").cast("long").alias("j"), "neg_entity"
    )
    corrupted_subj = F.when(
        F.col("slot") == "head", F.col("neg_entity")
    ).otherwise(F.col("subj"))
    corrupted_obj = F.when(
        F.col("slot") == "tail", F.col("neg_entity")
    ).otherwise(F.col("obj"))
    p = base.select(
        F.col("subj").alias("_psubj"), F.col("obj").alias("_pobj")
    )
    if broadcast_positives:
        p = F.broadcast(p)
    flagged = withneg.join(
        p,
        (corrupted_subj == F.col("_psubj")) & (corrupted_obj == F.col("_pobj")),
        "left",
    )
    return flagged.select(
        "subj",
        "obj",
        "slot",
        "j",
        "neg_entity",
        F.col("_psubj").isNull().alias("usable"),
    )


def mention_contexts(
    docs: DataFrame,
    term_types: dict[str, str],
    ctx_tokens: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, p, term, kind, left_ctx, right_ctx): every dictionary-token
    occurrence with its surrounding token window — the training-snippet
    extraction an entity-linking / NER-distillation pipeline runs over the
    corpus (mention + local context in, link decision out). ``p`` is the
    0-based token index; contexts are space-joined token slices clipped at
    document boundaries (empty string at the edge, never null).

    Scale shape: one posexplode filtered map-side to dictionary hits (the
    exploded stream carries only matches), context slices taken from the
    SAME carried token array — zero joins, zero shuffles; composes with
    any downstream groupBy. All-JVM slice/join expressions, no UDF.

    Ref: the reference extracts mention strings only
    (``BERT/predict.py``); context extraction is the SURVEY §2.12
    training-data extension."""
    terms = list(term_types)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    ).select(
        "doc_id", "t", F.posexplode(F.col("t")).alias("p", "tok")
    )
    hits = toks.filter(F.col("tok").isin(terms))
    kind_map = F.create_map(
        *[F.lit(x) for t, k in term_types.items() for x in (t, k)]
    )
    left_start = F.greatest(F.col("p") - ctx_tokens, F.lit(0))
    left = F.array_join(
        F.slice(F.col("t"), left_start + 1, F.col("p") - left_start), " "
    )
    right = F.array_join(
        F.slice(F.col("t"), F.col("p") + 2, ctx_tokens), " "
    )
    return hits.select(
        "doc_id",
        F.col("p").cast("long").alias("p"),
        F.col("tok").alias("term"),
        kind_map[F.col("tok")].alias("kind"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )


def merge_triple_counts(
    existing: DataFrame,
    delta: DataFrame,
    keys: tuple[str, ...] = ("subj", "pred", "obj"),
    count_col: str = "count",
) -> DataFrame:
    """Incremental KG maintenance: fold a delta batch's triple counts into
    the existing edges table by full-outer key join + coalesced sum. The
    count aggregates are doc-additive (every document contributes its
    pairs independently, including the per-doc "No Symptoms" fallback),
    so merge(existing, delta) over a doc partition EQUALS a full recount
    — the incremental-view-maintenance invariant the gate enforces
    value-for-value against a recount oracle.

    Scale shape: one shuffle on the triple key of two already-aggregated
    (edge-sized, not corpus-sized) tables; at 100 TB this is the nightly
    crawl-increment job that replaces re-reading the whole corpus."""
    e = existing.select(*keys, F.col(count_col).alias("_ce"))
    d = delta.select(*keys, F.col(count_col).alias("_cd"))
    return e.join(d, list(keys), "full_outer").select(
        *keys,
        (
            F.coalesce(F.col("_ce"), F.lit(0)) + F.coalesce(F.col("_cd"), F.lit(0))
        )
        .cast("long")
        .alias(count_col),
    )


def shape_violations(
    triples: DataFrame,
    allowed_preds: list,
    max_fanout: int,
    min_support: int,
    obj_min_len: int,
) -> DataFrame:
    """SHACL-style shape validation over a ``(subj, pred, obj, count)``
    triple store — the constraint report a KG publishes next to its
    integrity audit (that one checks GRAPH defects: orphans, dups,
    self-loops; this one checks SHAPE constraints: cardinality, closed
    predicates, evidence support, object form).  One row per violation::

        constraint_id  severity  subj  pred  obj   measured
        max_fanout     error     s     p     NULL  distinct-obj count
        closed_shape   warning   s     p     NULL  triple count
        min_support    warning   s     p     o     evidence count
        obj_min_length error     s     p     o     length(obj)

    Scale shape: the triple store is ``localCheckpoint``-materialized ONCE
    and fans into the four constraint branches (rule 23 — unmaterialized,
    each branch would re-run the full upstream dataflow); every branch is
    a map-side-combinable aggregate or a pure filter, and the union is
    column-aligned so Spark plans one job.  All measures BIGINT (rule 11).

    Ref: the reference ships no constraint layer (fixed single relation,
    ``ade_table/generate_table.py``) — SURVEY §2.12 KG-scale extension;
    constraint vocabulary after W3C SHACL (sh:maxCount, sh:closed,
    sh:minLength).
    """
    t = triples.select(
        "subj", "pred", "obj", F.col("count").cast("long").alias("count")
    ).localCheckpoint(eager=True)
    fanout = (
        t.groupBy("subj", "pred")
        .agg(F.countDistinct("obj").cast("long").alias("measured"))
        .filter(F.col("measured") > int(max_fanout))
        .select(
            F.lit("max_fanout").alias("constraint_id"),
            F.lit("error").alias("severity"),
            "subj",
            "pred",
            F.lit(None).cast("string").alias("obj"),
            "measured",
        )
    )
    closed = (
        t.filter(~F.col("pred").isin([str(p) for p in allowed_preds]))
        .groupBy("subj", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("measured"))
        .select(
            F.lit("closed_shape").alias("constraint_id"),
            F.lit("warning").alias("severity"),
            "subj",
            "pred",
            F.lit(None).cast("string").alias("obj"),
            "measured",
        )
    )
    support = t.filter(F.col("count") < int(min_support)).select(
        F.lit("min_support").alias("constraint_id"),
        F.lit("warning").alias("severity"),
        "subj",
        "pred",
        "obj",
        F.col("count").alias("measured"),
    )
    objlen = (
        t.filter(F.length("obj") < int(obj_min_len))
        .select("subj", "pred", "obj")
        .distinct()
        .select(
            F.lit("obj_min_length").alias("constraint_id"),
            F.lit("error").alias("severity"),
            "subj",
            "pred",
            "obj",
            F.length("obj").cast("long").alias("measured"),
        )
    )
    return fanout.unionByName(closed).unionByName(support).unionByName(objlen)
