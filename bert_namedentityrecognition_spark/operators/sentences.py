"""pages → sentences derivation.

Spark-first shape: null/empty filter (the NaN-skip path of
``scripts/predict/predict_for_xls_folder.py:56-58``) pushes down to the scan;
sentence splitting is a vectorized Arrow UDF returning ``array<string>`` that
is ``posexplode``d into ``(url, sent_id, sent)``; the 512-char drop filter
(``util/text_utils.py:50-61``) is a JVM-side ``length()`` predicate.

The split regex itself stays in Python (the reference regex relies on
Python ``re`` unicode word-class semantics in its lookbehinds; Java regex
``\\w`` is ASCII-only — running it JVM-side would silently change splits on
Japanese text). Parity beats the marginal JVM win here; the UDF is
Arrow-batched and O(text).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..oracle.textproc import html_to_text, preprocess_text, split_sentences


@pandas_udf(T.ArrayType(T.StringType()))
def split_sentences_udf(texts: pd.Series) -> pd.Series:
    return texts.map(
        lambda t: split_sentences(preprocess_text(t)) if t is not None else []
    )


def _html_to_text_batch(html: pd.Series) -> pd.Series:
    """``html_to_text`` over an Arrow batch of html bytes (null stays null).

    ``html_to_text_udf`` declares it non-deterministic only to keep
    Catalyst from copying it: a filter or projection over the filled text
    column (``_pages_text_source``'s ``has_text``, ``prepare_pages``' lang
    guess) would otherwise be pushed below the fill or collapsed into it
    with the UDF call inlined, and every copy is one more ArrowEvalPython
    node running ``html_to_text`` over the same rows. The kernel itself is
    a pure function of the bytes."""
    return html.map(lambda h: html_to_text(h) if h is not None else None)


html_to_text_udf = pandas_udf(_html_to_text_batch, T.StringType()).asNondeterministic()

# Attribute set on the one DataFrame object whose text column is already
# filled from html: re-running the html→text fallback on it changes no row.
# Every transformation returns a new object without it, so anything derived
# falls back to the UDF. Not carried as field metadata: a union keeps its
# first child's metadata, and html-only rows from the second child would
# then skip their fallback.
_TEXT_COMPLETE = "_kg_text_complete"


def _mark_text_complete(
    df: DataFrame, text_col: str = "text", html_col: str = "html"
) -> DataFrame:
    setattr(df, _TEXT_COMPLETE, (text_col, html_col))
    return df


def _is_text_complete(
    df: DataFrame, text_col: str = "text", html_col: str = "html"
) -> bool:
    return vars(df).get(_TEXT_COMPLETE) == (text_col, html_col)


def _has_text(text_col: str) -> Column:
    return F.col(text_col).isNotNull() & (F.col(text_col) != "")


def _text_from_html(pages: DataFrame, text_col: str, html_col: str | None) -> Column | None:
    """The html→text fallback of ``pages``' text column: text where it is
    non-empty, else the text of the html bytes (null-gated JVM-side, so the
    UDF only sees the bytes of rows that need it). None when there is
    nothing to fill: no html column, or a frame marked text-complete."""
    if (
        html_col is None
        or html_col not in pages.columns
        or _is_text_complete(pages, text_col, html_col)
    ):
        return None
    has_text = _has_text(text_col)
    return F.when(has_text, F.col(text_col)).otherwise(
        html_to_text_udf(F.when(~has_text, F.col(html_col)))
    )


def prepare_pages(
    pages: DataFrame,
    text_col: str = "text",
    html_col: str = "html",
    lang_col: str = "lang",
    overwrite_lang: bool = False,
) -> DataFrame:
    """One-off crawl prep: fill null ``text`` from html bytes and null
    ``lang`` via the n-gram heuristic (JVM expression) — the step that turns
    raw WARC ingest into a proper pages table, typically written back to
    storage once so the KG pipeline reads cleaned input thereafter.

    text: html→text fallback only where text is null/empty, in one Arrow
    stage; a frame marked text-complete (what ``read_warc`` returns) is
    taken as is and plans no Python UDF. lang: filled where null (or
    everywhere with ``overwrite_lang``); rows with neither text nor html
    pass through unchanged (null text).

    The output is marked text-complete: it is a fixed point of the
    fallback (a row whose html yields ``""`` keeps ``""``, and running
    the fallback again gives the same ``""``), so the consumers
    (``pages_to_sentences``, the mention stages) ship no html and plan no
    second fallback over it."""
    from ..functions.textstats import lang_guess

    filled = _text_from_html(pages, text_col, html_col)
    if filled is not None:
        pages = pages.withColumn(text_col, filled)
    guessed = lang_guess(F.col(text_col))
    if lang_col in pages.columns and not overwrite_lang:
        lang_val = F.coalesce(F.col(lang_col), guessed)
    else:
        lang_val = guessed
    # rows the text fill could not populate keep their pre-existing lang
    # (pass-through, per docstring) instead of being silently nulled
    keep = (
        F.col(lang_col)
        if lang_col in pages.columns
        else F.lit(None).cast("string")
    )
    out = pages.withColumn(
        lang_col, F.when(F.col(text_col).isNotNull(), lang_val).otherwise(keep)
    )
    return _mark_text_complete(out, text_col, html_col)


def pages_to_sentences(
    pages: DataFrame,
    max_length: int = 512,
    lang_filter: str | None = "ja",
    text_col: str = "text",
    key_col: str = "url",
    html_col: str | None = "html",
) -> DataFrame:
    """Returns (url, sent_id, sent). Deterministic per row; no shuffle.

    input_hint fallback: rows with null/empty ``text`` but non-null ``html``
    get text extracted from the html bytes (deterministic, so the
    byte-identical-text-per-url invariant holds for them too). The coalesce
    is conditional JVM-side, so the Python extractor only ever sees the
    html-only rows' bytes — pages with text never pay the UDF. A frame
    marked text-complete (``read_warc``'s or ``prepare_pages``' output)
    plans no fallback at all: only its rows with text are split."""
    has_text = _has_text(text_col)
    filled = _text_from_html(pages, text_col, html_col)
    if filled is None:
        df = pages.filter(has_text)
    else:
        # pushable disjunction FIRST (parquet row-group stats still prune),
        # THEN the coalesce — a computed text column would otherwise block
        # predicate pushdown for the all-text common case
        df = pages.filter(has_text | F.col(html_col).isNotNull())
    if lang_filter is not None and "lang" in pages.columns:
        # lang is an input column: filter before the fill, which no filter
        # passes (the UDF is non-deterministic), so other-language html is
        # never decoded
        df = df.filter(F.col("lang") == lang_filter)
    if filled is not None:
        df = df.withColumn(text_col, filled).filter(has_text)
    out = df.select(
        F.col(key_col).alias("url"),
        F.posexplode(split_sentences_udf(F.col(text_col))).alias("sent_id", "sent"),
    )
    if max_length is not None:
        out = out.filter(F.length("sent") <= max_length)
    return out
