"""Entity normalization — the exact→fuzzy two-phase broadcast join.

Re-expresses the EntityNormalizer family (``knowledge_bases/manbyo.py:52-85``,
``hyakuyaku.py:50-69``, ``OICI_database.py:22-41``) as DataFrame stages:

1. **distinct surfaces** — normalize each distinct (word, type) once, not per
   mention (the reference normalizes per mention occurrence; same result,
   this is the scale-correct evaluation order).
2. **exact stage** — broadcast hash equi-join on han_to_zen-normalized
   surface (the OICI short-circuit, ``OICI_database.py:25-32``); JVM-side.
3. **fuzzy stage** — only the misses: broadcast theta-join against the
   dimension with a *length-band prune* derived from the indel-ratio bound
   (``ratio ≤ 200·min(la,lb)/(la+lb)``; pairs whose bound can't reach the
   threshold are never scored), then a vectorized Arrow UDF computes the
   exact reference scorer (indel ratio == rapidfuzz.fuzz.ratio), then
   ``row_number()`` over ``Window.partitionBy(word).orderBy(score desc,
   surface asc)`` picks the deterministic top-1 (``process.extractOne``).
4. **threshold + sentinel** — accept iff score > threshold else '' sentinel
   (``manbyo.py:63-71``); convert hook = taking the dimension's canonical /
   code columns in the join itself.
5. **join back** — mention stream joins the tiny surface→canonical map
   (broadcast); no shuffle of the big side.

Skew note: surfaces are distinct before any expensive work, so a hot surface
("ロキソニン" in 30% of pages) costs ONE normalization; the join back is a
broadcast, so no skewed shuffle partition exists on this path at all.
"""

from __future__ import annotations

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


@pandas_udf(T.StringType())
def han_to_zen_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: han_to_zen(x) if x is not None else None)


@pandas_udf(T.DoubleType())
def indel_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([ratio(x, y) for x, y in zip(a, b)], dtype="float64")


def normalized_dim(dim: DataFrame) -> DataFrame:
    """Dimension with han_to_zen-normalized surface (dict side of the join).

    Normalization must match the mention side exactly (manbyo.py:58) —
    both run the same ``han_to_zen`` oracle kernel.
    """
    return dim.withColumn("surface_norm", han_to_zen_udf(F.col("surface")))


def _dedup_dimn(dimn: DataFrame) -> DataFrame:
    """One row per (surface_norm, kind), chosen VALUE-deterministically
    (min (canonical, entity_id, code), strings, nulls last). Dictionaries
    with normalization-collapsed duplicates (e.g. half- and full-width
    variants of one term as separate rows) would otherwise fan out the
    exact equi-join — inflating every downstream count — and diverge from
    the driver kernel, which keys a dict per (surface_norm, kind). Both
    paths now pick the SAME row by value, not by row order (row order is
    not stable distributed)."""
    w = Window.partitionBy("surface_norm", "kind").orderBy(
        F.col("canonical").asc_nulls_last(),
        F.col("entity_id").cast("string").asc_nulls_last(),
        F.col("code").cast("string").asc_nulls_last(),
    )
    return (
        dimn.withColumn("_dn", F.row_number().over(w))
        .filter(F.col("_dn") == 1)
        .drop("_dn")
    )


def _dim_row_sort_key(rr: dict) -> tuple:
    """Driver twin of :func:`_dedup_dimn`'s ordering."""
    return tuple(
        (v is None, "" if v is None else str(v))
        for v in (rr.get("canonical"), rr.get("entity_id"), rr.get("code"))
    )


def normalize_surfaces(
    surfaces: DataFrame,
    dim: DataFrame,
    threshold: float = 70.0,
    type_to_kind: dict[str, str] | None = None,
) -> DataFrame:
    """surfaces(word, type) → (word, type, canonical, entity_id, score, method).

    ``type_to_kind`` maps mention types to dimension ``kind`` values
    (default: identity). Rejections carry the '' sentinel and score of the
    best (rejected) candidate, mirroring ``manbyo.py:68-71``.
    """
    spark = surfaces.sparkSession
    dimn = _dedup_dimn(
        normalized_dim(dim).select(
            "surface_norm", "canonical", "entity_id", "code", "kind"
        )
    )

    if type_to_kind:
        mapping = F.create_map(
            *[F.lit(x) for kv in type_to_kind.items() for x in kv]
        )
        surfaces = surfaces.withColumn("kind_key", mapping[F.col("type")])
    else:
        surfaces = surfaces.withColumn("kind_key", F.col("type"))

    surf = surfaces.withColumn("word_norm", han_to_zen_udf(F.col("word")))

    # --- exact stage: broadcast hash equi-join --------------------------------
    exact = surf.join(
        F.broadcast(dimn),
        (surf.word_norm == dimn.surface_norm) & (surf.kind_key == dimn.kind),
        "left",
    )
    hits = exact.filter(F.col("surface_norm").isNotNull()).select(
        "word",
        "type",
        F.col("canonical"),
        F.col("entity_id"),
        F.col("code"),
        F.lit(100.0).alias("score"),
        F.lit("exact").alias("method"),
    )
    misses = exact.filter(F.col("surface_norm").isNull()).select(
        "word", "type", "kind_key", "word_norm"
    )

    # --- fuzzy stage: banded broadcast theta-join + exact scorer --------------
    lw = F.length("word_norm").cast("double")
    ls = F.length("surface_norm").cast("double")
    band_ok = (200.0 * F.least(lw, ls) / (lw + ls)) > F.lit(threshold)
    cand = misses.join(
        F.broadcast(dimn),
        (misses.kind_key == dimn.kind) & band_ok,
        "left",
    ).withColumn(
        "score",
        F.when(
            F.col("surface_norm").isNotNull(),
            indel_ratio_udf(F.col("word_norm"), F.col("surface_norm")),
        ).otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("word", "type").orderBy(
        F.col("score").desc(), F.col("surface_norm").asc_nulls_last()
    )
    fuzzy = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "word",
            "type",
            F.when(F.col("score") > threshold, F.col("canonical"))
            .otherwise(F.lit(SENTINEL))
            .alias("canonical"),
            F.when(F.col("score") > threshold, F.col("entity_id"))
            .otherwise(F.lit(None).cast("string"))
            .alias("entity_id"),
            F.when(F.col("score") > threshold, F.col("code"))
            .otherwise(F.lit(None).cast("string"))
            .alias("code"),
            "score",
            F.lit("fuzzy").alias("method"),
        )
    )
    return hits.unionByName(fuzzy)


# per-worker-process cache of built dim indexes, keyed by a driver-assigned
# sequence number (survives across tasks via spark.python.worker.reuse)
import itertools as _it

_WORKER_DIM_INDEX: dict[int, tuple] = {}
_UDF_BC_SEQ = _it.count()


def normalize_mentions_udf(
    mentions: DataFrame,
    dim_rows: list[dict],
    threshold: float = 70.0,
    type_to_kind: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming-safe normalization: one Arrow stage resolving each mention
    against the broadcast dimension with the oracle kernels. The dim index
    is built ONCE per worker per broadcast (cached across reused workers —
    re-normalizing a 100k-row dictionary per batch would dominate the
    stage) and the per-task surface cache is bounded by the task's
    distinct surfaces. No shuffle, no window, no driver collect — legal on
    streaming DataFrames and exactly the batch semantics."""
    import pandas as pd

    from pyspark.sql import types as T

    sc = mentions.sparkSession.sparkContext
    bc = sc.broadcast((dim_rows, threshold, type_to_kind))
    # key captured DRIVER-side: the worker-side Broadcast object carries no
    # .id attribute
    bc_key = next(_UDF_BC_SEQ)
    schema = T.StructType(
        mentions.schema.fields
        + [
            T.StructField("canonical", T.StringType()),
            T.StructField("entity_id", T.StringType()),
            T.StructField("code", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("method", T.StringType()),
        ]
    )

    def run(batches):
        rows_dim, thr, t2k = bc.value
        # index cached per broadcast across REUSED workers (module-level,
        # spark.python.worker.reuse) — one O(|dim|) build per worker, not
        # one per task or per batch
        idx = _WORKER_DIM_INDEX.get(bc_key)
        if idx is None:
            idx = build_dim_index(rows_dim)
            _WORKER_DIM_INDEX.clear()  # one live dim per worker is the norm
            _WORKER_DIM_INDEX[bc_key] = idx
        cache: dict[tuple[str, str], tuple] = {}
        for pdf in batches:
            need = {
                (w, t)
                for w, t in zip(pdf["word"], pdf["type"])
                if (w, t) not in cache
            }
            if need:
                for rec in resolve_surfaces_driver(
                    sorted(need), rows_dim, thr, t2k, index=idx
                ):
                    cache[(rec[0], rec[1])] = rec[2:]
            res = [cache[(w, t)] for w, t in zip(pdf["word"], pdf["type"])]
            out = pdf.copy()
            out["canonical"] = [r[0] for r in res]
            out["entity_id"] = [r[1] for r in res]
            out["code"] = [r[2] for r in res]
            out["score"] = [r[3] for r in res]
            out["method"] = [r[4] for r in res]
            yield out

    return mentions.mapInPandas(run, schema=schema)


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
    han_to_zen'd candidate keys, exact indel-ratio scorer, top-1 by
    (score desc, candidate asc — the kernel's deterministic tie-break);
    score > threshold re-enters the exact branch ON THE MATCHED KEY (the
    reference recurses; one level terminates because the match is itself
    a dictionary key), else the '' sentinel.

    Like the kernel, a dictionary whose keys are not closed under
    han_to_zen would cycle (the zenkaku candidate never hits the exact
    branch) — checked once driver-side with a bounded action and failed
    loudly, instead of looping in the reference's manner."""
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
    lk = F.length("key_norm").cast("double")
    band_ok = (200.0 * F.least(lt, lk) / (lt + lk)) > F.lit(threshold)
    cand = misses.join(F.broadcast(mapn), band_ok, "left").withColumn(
        "fscore",
        F.when(
            F.col("key_norm").isNotNull(),
            indel_ratio_udf(F.col("term"), F.col("key_norm")),
        ).otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("term").orderBy(
        F.col("fscore").desc(), F.col("key_norm").asc_nulls_last()
    )
    fuzzy = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "term",
            F.when(
                F.col("fscore") > threshold,
                _oici_exact_result(F.col("checked"), F.col("key_norm")),
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
    surface_col: str = "surface",
) -> DataFrame:
    """All-JVM fuzzy top-1 variant: score = 100·(1 − levenshtein/max(len)).

    Same staging as ``normalize_surfaces`` but the scorer is Spark's builtin
    ``levenshtein`` — zero Python on the path, fully codegen-able, and
    bit-identical to any ANSI engine's ``levenshtein`` (used by the driver's
    DuckDB oracle). Prefer this when indel-ratio parity with rapidfuzz is
    not required.

    surfaces(word) × dim(surface, canonical) → (word, canonical, score).
    Deterministic top-1: score desc, surface asc. Below-threshold → ''.
    """
    d = dim.select(
        F.col(surface_col).alias("_surface"), F.col("canonical").alias("_canon")
    )
    scored = surfaces.join(F.broadcast(d)).withColumn(
        "score",
        F.round(
            100.0
            * (
                1.0
                - F.levenshtein(F.col("word"), F.col("_surface"))
                / F.greatest(F.length("word"), F.length("_surface")).cast("double")
            ),
            6,
        ),
    )
    w = Window.partitionBy("word").orderBy(F.col("score").desc(), F.col("_surface").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "word",
            F.when(F.col("score") > threshold, F.col("_canon"))
            .otherwise(F.lit(SENTINEL))
            .alias("canonical"),
            "score",
        )
    )


def search_candidates_topk(
    surfaces: DataFrame,
    dim: DataFrame,
    k: int = 3,
    surface_col: str = "surface",
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
    d = dim.select(
        F.col(surface_col).alias("surface"), F.col("canonical").alias("canonical")
    )
    if scorer == "token_set_ratio":
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

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


def build_dim_index(
    dim_rows: list[dict],
) -> tuple[dict[str, list[dict]], dict[tuple[str, str], dict]]:
    """(by_kind, exact_index) over the normalized dimension — the O(|dim|)
    part of :func:`resolve_surfaces_driver`, split out so long-lived
    workers (the streaming UDF) build it ONCE instead of re-normalizing
    the whole dictionary on every batch that carries a new surface.

    Value-deterministic dedup per (surface_norm, kind) — the twin of the
    distributed path's _dedup_dimn (last-row-wins depended on dim row
    order, which the distributed path cannot reproduce)."""
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


def resolve_surfaces_driver(
    surface_rows: list[tuple[str, str]],
    dim_rows: list[dict],
    threshold: float = 70.0,
    type_to_kind: dict[str, str] | None = None,
    index: tuple[dict, dict] | None = None,
) -> list[tuple]:
    """Driver-side twin of ``normalize_surfaces`` over collected surfaces.

    Bit-identical semantics (same han_to_zen, same banded prune, same indel
    scorer, same tie-break) via the oracle kernels. Used by the hybrid path
    when the distinct-surface set fits on the driver — the evaluation order
    the reference itself uses (in-memory normalizer dict), and at high core
    counts it avoids ~6 tiny python-UDF stages whose fixed cost dominates.

    ``index``: a prebuilt :func:`build_dim_index` result — pass it from
    long-lived callers so ``dim_rows`` isn't re-indexed per call.
    """
    by_kind, exact_index = index if index is not None else build_dim_index(dim_rows)
    out = []
    for word, mtype in surface_rows:
        kind = (type_to_kind or {}).get(mtype, mtype)
        wn = han_to_zen(word)
        hit = exact_index.get((wn, kind))
        if hit is not None:
            out.append(
                (word, mtype, hit["canonical"], hit["entity_id"], hit.get("code"), 100.0, "exact")
            )
            continue
        lw = len(wn)
        best: tuple[float, str, dict] | None = None
        for rr in by_kind.get(kind, []):
            ls = len(rr["surface_norm"])
            if 200.0 * min(lw, ls) / (lw + ls) <= threshold:
                continue  # banded prune, same bound as the distributed path
            s = ratio(wn, rr["surface_norm"])
            if best is None or s > best[0] or (s == best[0] and rr["surface_norm"] < best[1]):
                best = (s, rr["surface_norm"], rr)
        if best is None:
            out.append((word, mtype, SENTINEL, None, None, 0.0, "fuzzy"))
        elif best[0] > threshold:
            rr = best[2]
            out.append(
                (word, mtype, rr["canonical"], rr["entity_id"], rr.get("code"), best[0], "fuzzy")
            )
        else:
            out.append((word, mtype, SENTINEL, None, None, best[0], "fuzzy"))
    return out


_RESOLVED_SCHEMA = (
    "word string, type string, canonical string, entity_id string, "
    "code string, score double, method string"
)


def normalize_mentions(
    mentions: DataFrame,
    dim: DataFrame,
    threshold: float = 70.0,
    type_to_kind: dict[str, str] | None = None,
    max_driver_surfaces: int = 100_000,
) -> DataFrame:
    """mentions + canonical columns. Distinct-surface dedup then broadcast
    join back — the mention stream itself is never shuffled.

    Hybrid resolution: if the distinct (word, type) set fits under
    ``max_driver_surfaces`` it is collected and scored driver-side with the
    identical oracle kernels; larger sets go through the distributed
    exact→fuzzy broadcast-join path. Set ``max_driver_surfaces=0`` to force
    the distributed path.

    The driver path adds zero Python stages: the resolved map is built with
    :func:`~..sources.dims.local_frame`, so every plan that broadcasts it
    (triples, nodes, edges) scans a ``LocalTableScan``, and the ``dim``
    collect is cheap when ``dim`` is one too. A map built by
    ``createDataFrame(list)`` would be a Python-RDD scan, one Python task
    per scan in each of those plans.
    """
    spark = mentions.sparkSession
    surfaces = mentions.select("word", "type").distinct()
    if max_driver_surfaces > 0:
        sample = surfaces.limit(max_driver_surfaces + 1).collect()
        if len(sample) <= max_driver_surfaces:
            dim_rows = [r.asDict() for r in dim.collect()]
            rows = resolve_surfaces_driver(
                [(r.word, r.type) for r in sample], dim_rows, threshold, type_to_kind
            )
            resolved = local_frame(spark, rows, _RESOLVED_SCHEMA)
            return mentions.join(F.broadcast(resolved), ["word", "type"], "left")
    resolved = normalize_surfaces(surfaces, dim, threshold, type_to_kind)
    return mentions.join(F.broadcast(resolved), ["word", "type"], "left")


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
