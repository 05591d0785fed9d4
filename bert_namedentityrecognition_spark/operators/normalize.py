"""Entity normalization — one exact→fuzzy resolver, run where the surfaces are.

Re-expresses the EntityNormalizer family (``knowledge_bases/manbyo.py:52-85``,
``hyakuyaku.py:50-69``, ``OICI_database.py:22-41``) as one index-and-score
kernel, :func:`build_dim_index` + :func:`resolve_surfaces`:

1. **distinct surfaces** — normalize each distinct (word, type) once, not per
   mention (the reference normalizes per mention occurrence; same result,
   this is the scale-correct evaluation order).
2. **index** — the dimension is han_to_zen-normalized once and keyed per
   (surface_norm, kind), one row per key chosen by value.
3. **exact stage** — lookup of the han_to_zen-normalized surface (the OICI
   short-circuit, ``OICI_database.py:25-32``).
4. **fuzzy stage** — only the misses: the same-kind rows that pass a
   *length band* derived from the indel-ratio bound
   (``ratio ≤ 200·min(la,lb)/(la+lb)``; rows whose bound can't reach the
   threshold are never scored) are scored with the exact reference scorer
   (indel ratio == rapidfuzz.fuzz.ratio); top-1 by (score desc,
   surface_norm asc), the deterministic ``process.extractOne``.
5. **threshold + sentinel** — accept iff score > threshold else '' sentinel
   (``manbyo.py:63-71``); convert hook = the dimension row's canonical /
   code columns.
6. **join back** — mention stream joins the tiny surface→canonical map
   (broadcast); no shuffle of the big side.

Where the kernel runs is the only choice left, made from the observed
distinct-surface count (:func:`normalize_mentions`): on the driver over the
collected surfaces, or in one ``mapInPandas`` stage over the distinct
surfaces (:func:`normalize_surfaces`) against an index built once per
Python worker from broadcast dimension rows. The KG page stage
(``plans/page_stage.page_kg``, behind ``run_kg_pipeline`` and
``streaming_pairs``) resolves against the same per-worker index, inside
its own Arrow section.

Other semantics keep their own stages: :func:`oici_normalize_surfaces`
(raw-key exact branch with sentinels, one recursion) and the all-JVM
levenshtein scorer of :func:`search_candidates_topk` /
:func:`normalize_surfaces_lev`.

Skew note: surfaces are distinct before any expensive work, so a hot surface
("ロキソニン" in 30% of pages) costs ONE normalization; the join back is a
broadcast, so no skewed shuffle partition exists on this path at all.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ..oracle.fuzzy import ratio
from ..oracle.textproc import han_to_zen
from ..sources.dims import local_frame

SENTINEL = ""

# distinct (word, type) sets up to this size are resolved on the driver;
# larger ones in the distributed stage
MAX_DRIVER_SURFACES = 100_000

_RESOLVED_SCHEMA = (
    "word string, type string, canonical string, entity_id string, "
    "code string, score double, method string"
)
_RESOLVED_COLS = [f.split()[0] for f in _RESOLVED_SCHEMA.split(", ")]


@pandas_udf(T.StringType())
def han_to_zen_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: han_to_zen(x) if x is not None else None)


@pandas_udf(T.DoubleType())
def indel_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([ratio(x, y) for x, y in zip(a, b)], dtype="float64")


def _dim_row_sort_key(rr: dict) -> tuple:
    """min (canonical, entity_id, code) as strings, nulls last."""
    return tuple(
        (v is None, "" if v is None else str(v))
        for v in (rr.get("canonical"), rr.get("entity_id"), rr.get("code"))
    )


def build_dim_index(
    dim_rows: list[dict],
) -> tuple[dict[str, list[dict]], dict[tuple[str, str], dict]]:
    """(by_kind, exact_index) over the normalized dimension — the O(|dim|)
    part of :func:`resolve_surfaces`, built once per driver call or once
    per Python worker (:func:`_worker_dim_index`).

    One row per (surface_norm, kind), chosen VALUE-deterministically: the
    min (canonical, entity_id, code), strings, nulls last. Dictionaries
    with normalization-collapsed duplicates (e.g. half- and full-width
    variants of one term as separate rows) would otherwise fan out the
    exact hit, and a row-order pick would depend on how the dimension is
    partitioned."""
    chosen: dict[tuple[str, str], dict] = {}
    for r in dim_rows:
        sn = han_to_zen(r["surface"])
        rr = {**r, "surface_norm": sn}
        key = (sn, r["kind"])
        prev = chosen.get(key)
        if prev is None or _dim_row_sort_key(rr) < _dim_row_sort_key(prev):
            chosen[key] = rr
    by_kind: dict[str, list[dict]] = {}
    exact_index: dict[tuple[str, str], dict] = {}
    for (sn, kind), rr in chosen.items():
        by_kind.setdefault(kind, []).append(rr)
        exact_index[(sn, kind)] = rr
    return by_kind, exact_index


def resolve_surfaces(
    surface_rows,
    index: tuple[dict, dict],
    threshold: float = 70.0,
) -> list[tuple]:
    """(word, type) pairs → (word, type, canonical, entity_id, code, score,
    method) tuples, one per input pair, against a :func:`build_dim_index`
    result. ``type`` is the dimension ``kind`` the word is resolved in.

    Exact hit: score 100.0, method 'exact'. Otherwise method 'fuzzy': the
    top-1 band-passing candidate is accepted iff its score > ``threshold``.
    A rejection carries the '' sentinel, null ids and the best
    band-passing score, or 0.0 when the band leaves no candidate. That is
    not always the best score over the whole kind (which is what
    ``oracle.normalize.DictNormalizer`` reports): the band only prunes
    candidates that cannot pass the threshold, and one of them can still
    outscore every candidate the band keeps. Canonical, entity_id and code
    always agree with a per-kind ``DictNormalizer``. A null word is
    rejected with score 0.0, like a word the band leaves no candidate."""
    by_kind, exact_index = index
    out = []
    for word, kind in surface_rows:
        if word is None:
            out.append((word, kind, SENTINEL, None, None, 0.0, "fuzzy"))
            continue
        wn = han_to_zen(word)
        hit = exact_index.get((wn, kind))
        if hit is not None:
            out.append(
                (word, kind, hit["canonical"], hit["entity_id"], hit.get("code"), 100.0, "exact")
            )
            continue
        lw = len(wn)
        best: tuple[float, str, dict] | None = None
        for rr in by_kind.get(kind, []):
            ls = len(rr["surface_norm"])
            if 200.0 * min(lw, ls) / (lw + ls) <= threshold:
                continue  # banded prune: this row cannot score > threshold
            s = ratio(wn, rr["surface_norm"])
            if best is None or s > best[0] or (s == best[0] and rr["surface_norm"] < best[1]):
                best = (s, rr["surface_norm"], rr)
        if best is not None and best[0] > threshold:
            rr = best[2]
            out.append(
                (word, kind, rr["canonical"], rr["entity_id"], rr.get("code"), best[0], "fuzzy")
            )
        else:
            score = 0.0 if best is None else best[0]
            out.append((word, kind, SENTINEL, None, None, score, "fuzzy"))
    return out


# per-worker-process cache of built dim indexes, keyed by a driver-assigned
# sequence number (survives across tasks via spark.python.worker.reuse)
_WORKER_DIM_INDEX: dict[int, tuple] = {}
_DIM_SEQ = itertools.count()


def _broadcast_dim(sc, dim_rows: list[dict]) -> tuple:
    """Broadcast ``dim_rows`` under a fresh key for :func:`_worker_dim_index`.
    The key is taken driver-side: a worker-side ``Broadcast`` carries no
    ``.id``."""
    return next(_DIM_SEQ), sc.broadcast(dim_rows)


def _worker_dim_index(bdim: tuple) -> tuple:
    """The :func:`build_dim_index` of a :func:`_broadcast_dim` result,
    built once per Python worker process, not once per task. Call it from
    inside the stage function: this module-level function resolves
    ``_WORKER_DIM_INDEX`` in the worker's imported module, where a closure
    shipped by value would carry a fresh copy of the dict per task."""
    key, bc = bdim
    idx = _WORKER_DIM_INDEX.get(key)
    if idx is None:
        _WORKER_DIM_INDEX.clear()  # one live dimension per worker is the norm
        idx = _WORKER_DIM_INDEX[key] = build_dim_index(bc.value)
    return idx


def normalize_surfaces(
    surfaces: DataFrame,
    dim: DataFrame,
    threshold: float = 70.0,
) -> DataFrame:
    """surfaces(word, type) → (word, type, canonical, entity_id, code,
    score, method), one row per input row — pass distinct surfaces.

    The distributed placement of :func:`resolve_surfaces`: one
    ``mapInPandas`` stage over the surfaces, each worker resolving against
    an index built once from the broadcast dimension rows. No join, window
    or shuffle; rows equal the driver path's."""
    bdim = _broadcast_dim(
        surfaces.sparkSession.sparkContext, [r.asDict() for r in dim.collect()]
    )

    def run(batches):
        index = _worker_dim_index(bdim)
        for pdf in batches:
            yield pd.DataFrame(
                resolve_surfaces(zip(pdf["word"], pdf["type"]), index, threshold),
                columns=_RESOLVED_COLS,
            )

    return surfaces.select("word", "type").mapInPandas(run, schema=_RESOLVED_SCHEMA)


def normalize_mentions(
    mentions: DataFrame,
    dim: DataFrame,
    threshold: float = 70.0,
) -> DataFrame:
    """mentions + canonical columns. Distinct-surface dedup then broadcast
    join back — the mention stream itself is never shuffled.

    If the distinct (word, type) set has at most ``MAX_DRIVER_SURFACES``
    rows it is collected and resolved on the driver; larger sets go through
    :func:`normalize_surfaces`. Both run :func:`resolve_surfaces`, so the
    placement changes where the work runs, not the rows.

    The driver path adds zero Python stages: the resolved map is built with
    :func:`~..sources.dims.local_frame`, so every plan that broadcasts it
    (triples, nodes, edges) scans a ``LocalTableScan``, and the ``dim``
    collect is cheap when ``dim`` is one too. A map built by
    ``createDataFrame(list)`` would be a Python-RDD scan, one Python task
    per scan in each of those plans.
    """
    surfaces = mentions.select("word", "type").distinct()
    sample = surfaces.limit(MAX_DRIVER_SURFACES + 1).collect()
    if len(sample) <= MAX_DRIVER_SURFACES:
        index = build_dim_index([r.asDict() for r in dim.collect()])
        rows = resolve_surfaces([(r.word, r.type) for r in sample], index, threshold)
        resolved = local_frame(mentions.sparkSession, rows, _RESOLVED_SCHEMA)
    else:
        resolved = normalize_surfaces(surfaces, dim, threshold)
    return mentions.join(F.broadcast(resolved), ["word", "type"], "left")


OICI_AMBIGUOUS = "[AMB]"
OICI_REJECT = "-1"


def _oici_exact_result(checked, term):
    """The OICI exact-branch sentinel CASE (``OICI_database.py``): NULL
    (NaN) or '-1' → '' (rejected); '[AMB]' → the queried term itself;
    else the human_check value. ``term`` is the term OF THAT LOOKUP — in
    the post-fuzzy recursion that is the matched KEY, not the original
    query (the oracle kernel's ``normalize(surface)`` re-entry)."""
    return (
        F.when(checked.isNull() | (checked == OICI_REJECT), F.lit(SENTINEL))
        .when(checked == OICI_AMBIGUOUS, term)
        .otherwise(checked)
    )


def oici_normalize_surfaces(
    surfaces: DataFrame, mapping: DataFrame, threshold: float = 60.0
) -> DataFrame:
    """Distributed OICI normalization — exact lookup with sentinels, else
    fuzzy top-1 + one recursion level (``knowledge_bases/OICI_database.py``
    semantics; pure-Python twin: ``oracle.normalize.ExactThenFuzzyNormalizer``,
    parity pinned by tests/test_oici_gate.py).

    surfaces(term) × mapping(key, checked) → (term, normalized, score,
    method). Exact stage: broadcast equi-join on the RAW key, sentinel
    CASE. Misses: length-band-pruned broadcast theta-join against the
    candidate keys, exact indel-ratio scorer, top-1 by
    (score desc, candidate asc — the kernel's deterministic tie-break);
    score > threshold re-enters the exact branch ON THE MATCHED KEY (the
    reference recurses; one level terminates because the match is itself
    a dictionary key), else the '' sentinel.

    Like the kernel, a dictionary whose keys are not closed under
    han_to_zen would cycle (the zenkaku candidate never hits the exact
    branch) — checked once driver-side with a bounded action and failed
    loudly, instead of looping in the reference's manner. Past that check
    every key equals its han_to_zen form (a null key maps to null), so the
    fuzzy stage reads ``key`` itself and han_to_zen runs only in the check.

    Its own stage rather than :func:`resolve_surfaces`: the exact branch
    looks up the RAW key with sentinel values, and a fuzzy match recurses
    into it; ``indel_ratio_udf`` is its scorer."""
    mapn = mapping.withColumn("key_norm", han_to_zen_udf(F.col("key")))
    if mapn.filter(F.col("key") != F.col("key_norm")).limit(1).count():
        raise ValueError(
            "OICI dictionary keys are not closed under han_to_zen — the "
            "zenkaku candidate never hits the exact branch and the "
            "reference semantics recurse forever; pre-normalize the keys"
        )
    exact = surfaces.join(
        F.broadcast(mapping), surfaces.term == mapping.key, "left"
    )
    hits = exact.filter(F.col("key").isNotNull()).select(
        "term",
        _oici_exact_result(F.col("checked"), F.col("term")).alias("normalized"),
        F.lit(100.0).alias("score"),
        F.lit("exact").alias("method"),
    )
    misses = exact.filter(F.col("key").isNull()).select("term")
    lt = F.length("term").cast("double")
    lk = F.length("key").cast("double")
    band_ok = (200.0 * F.least(lt, lk) / (lt + lk)) > F.lit(threshold)
    cand = misses.join(F.broadcast(mapping), band_ok, "left").withColumn(
        "fscore",
        F.when(
            F.col("key").isNotNull(),
            indel_ratio_udf(F.col("term"), F.col("key")),
        ).otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("term").orderBy(
        F.col("fscore").desc(), F.col("key").asc_nulls_last()
    )
    fuzzy = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "term",
            F.when(
                F.col("fscore") > threshold,
                _oici_exact_result(F.col("checked"), F.col("key")),
            )
            .otherwise(F.lit(SENTINEL))
            .alias("normalized"),
            F.col("fscore").alias("score"),
            F.lit("fuzzy").alias("method"),
        )
    )
    return hits.unionByName(fuzzy)


def normalize_surfaces_lev(
    surfaces: DataFrame,
    dim: DataFrame,
    threshold: float = 50.0,
) -> DataFrame:
    """All-JVM fuzzy top-1 variant: score = 100·(1 − levenshtein/max(len)).

    :func:`search_candidates_topk` with ``k=1`` plus the threshold/sentinel
    select: the scorer is Spark's builtin ``levenshtein`` — zero Python on
    the path, fully codegen-able, and bit-identical to any ANSI engine's
    ``levenshtein`` (used by the driver's DuckDB oracle). Prefer this when
    indel-ratio parity with rapidfuzz is not required.

    surfaces(word) × dim(surface, canonical) → (word, canonical, score).
    Deterministic top-1: score desc, surface asc. Below-threshold → ''.
    """
    return search_candidates_topk(surfaces, dim, k=1).select(
        "word",
        F.when(F.col("score") > threshold, F.col("canonical"))
        .otherwise(F.lit(SENTINEL))
        .alias("canonical"),
        "score",
    )


def search_candidates_topk(
    surfaces: DataFrame,
    dim: DataFrame,
    k: int = 3,
    scorer: str = "levenshtein",
) -> DataFrame:
    """Top-k candidate retrieval per surface — the reference's ``searchTerm``
    (``knowledge_bases/manbyo.py:44-49``: score every dictionary row, sort
    desc, slice ``[:num_candidates]``) as a broadcast cross-score + ranked
    window.

    ``scorer`` picks the ranking function:

    - ``"levenshtein"`` (default) — normalized Levenshtein, all-JVM
      (builtin ``levenshtein``), so the driver's DuckDB oracle verifies
      exact (word, rank, surface, canonical, score) rows. **Deliberate
      substitution** vs the reference, which scores ``searchTerm`` with
      ``fuzz.token_set_ratio`` — candidate sets/ranks can differ for
      multi-token or reordered surfaces.
    - ``"token_set_ratio"`` — reference-parity scorer via the pure-Python
      oracle kernel (``oracle/fuzzy.py:token_set_ratio``) in a vectorized
      pandas UDF over the broadcast-joined pairs. For single-token
      (whitespace-free, e.g. Japanese) surfaces it equals ``fuzz.ratio``.

    surfaces(word) × dim(surface, canonical) →
    (word, rank 1..k, surface, canonical, score). Deterministic order:
    score desc, surface asc (same total order as the top-1 normalizers)."""
    d = dim.select("surface", "canonical")
    if scorer == "token_set_ratio":

        @pandas_udf("double")
        def _tsr(word: pd.Series, surface: pd.Series) -> pd.Series:
            from ..oracle.fuzzy import token_set_ratio

            return pd.Series(
                [token_set_ratio(w, s) for w, s in zip(word, surface)],
                dtype="float64",
            )

        # round JVM-side (HALF_UP), matching the DuckDB oracle's round();
        # Python's round() is banker's and can differ on exact 1e-6 ties
        score_col = F.round(_tsr(F.col("word"), F.col("surface")), 6)
    elif scorer == "levenshtein":
        score_col = F.round(
            100.0
            * (
                1.0
                - F.levenshtein(F.col("word"), F.col("surface"))
                / F.greatest(F.length("word"), F.length("surface")).cast("double")
            ),
            6,
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    scored = surfaces.join(F.broadcast(d)).withColumn("score", score_col)
    w = Window.partitionBy("word").orderBy(F.col("score").desc(), F.col("surface").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("word", F.col("rank").cast("long").alias("rank"),
                "surface", "canonical", "score")
    )


def disambiguate_mentions(
    docs: DataFrame,
    candidates: DataFrame,
    ctx_tokens: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, p, surface, entity_id, score): context-sensitive entity
    disambiguation — the step after dictionary lookup when a surface maps
    to SEVERAL entities. ``candidates`` carries (surface, entity_id,
    prior, signature) rows; every token occurrence of an ambiguous
    surface is linked to the candidate maximizing
    ``1000·|context ∩ signature| + prior`` over its ±``ctx_tokens``
    token window (integer score: context compatibility dominates, the
    prior breaks context ties, entity_id breaks exact ties). One row per
    occurrence — the linking decision itself.

    Scale shape: one posexplode filtered map-side to ambiguous surfaces,
    one BROADCAST join against the dictionary-sized candidate table
    (overlap counted JVM-side via filter+contains over the carried token
    array — no UDF), one per-occurrence window. Ref: the reference's
    normalizers are context-free one-hop lookups
    (``OICI_database.py:34-39``); context sensitivity is the SURVEY
    §2.12 extension."""
    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+").alias("t"),
    ).select("doc_id", "t", F.posexplode(F.col("t")).alias("p", "tok"))
    surfaces = [r["surface"] for r in candidates.select("surface").distinct().collect()]
    hits = pos.filter(F.col("tok").isin(surfaces))
    left_start = F.greatest(F.col("p") - ctx_tokens, F.lit(0))
    ctx = F.concat(
        F.slice(F.col("t"), left_start + 1, F.col("p") - left_start),
        F.slice(F.col("t"), F.col("p") + 2, ctx_tokens),
    )
    cand = candidates.select(
        F.col("surface").alias("tok"), "entity_id", "prior", "signature"
    )
    scored = hits.join(F.broadcast(cand), "tok").select(
        "doc_id",
        F.col("p").cast("long").alias("p"),
        F.col("tok").alias("surface"),
        "entity_id",
        (
            F.size(
                F.filter(
                    F.col("signature"),
                    lambda s: F.array_contains(ctx, s),
                )
            )
            * 1000
            + F.col("prior")
        )
        .cast("long")
        .alias("score"),
    )
    w = Window.partitionBy("doc_id", "p").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
