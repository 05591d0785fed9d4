"""pages → sentences, and the one page contract every pages consumer runs.

The contract has two halves, both here:

- :func:`_pages_text_source` (JVM side): the pushable text-or-html filter,
  the null-gate that keeps html bytes out of the Arrow transfer for pages
  that carry text, and the lang filter. The schema decides the fallback:
  a pages frame without an ``html`` column (what ``read_warc`` returns)
  needs none, so only its rows with text pass.
- :func:`_page_sentences` (Python side): the html→text fallback for a page
  whose text is null or empty, preprocess + split, then the ``MAX_LEN`` cut
  (``util/text_utils.py:50-61``), with sent_ids assigned before the cut.

``pages_to_sentences``, the fused mention stages (``tagger.extract_mentions``,
``ner.ner_pages``) and the KG page stage (``plans.page_stage.page_kg``,
behind ``run_kg_pipeline`` and ``streaming_pairs``) all read pages through
these two, each in one Python section.

The split regex stays in Python (the reference regex relies on Python
``re`` unicode word-class semantics in its lookbehinds; Java regex ``\\w``
is ASCII-only — running it JVM-side would silently change splits on
Japanese text).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..oracle.textproc import html_to_text, preprocess_text, split_sentences

# pages paths drop sentences longer than MAX_LEN chars
# (``util/text_utils.py:50-61``); the model's position table holds MAX_LEN
# tokens including [CLS]
MAX_LEN = 512

SENTENCE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("sent_id", T.IntegerType(), False),
        T.StructField("sent", T.StringType(), True),
    ]
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


def _has_text(text_col: str) -> Column:
    return F.col(text_col).isNotNull() & (F.col(text_col) != "")


def _pages_text_source(
    pages: DataFrame,
    lang_filter: str | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(url, text, _html[, *extra_cols]) source for the pages stages.

    _html is null unless the row needs the html→text fallback (text null or
    empty): the pushable filter keeps text-or-html rows, and the JVM-side
    ``when`` gate keeps html bytes out of the Arrow transfer for text rows.
    A frame without an ``html`` column needs no fallback: it keeps its
    rows with text and ships no html at all.
    ``extra_cols`` carries additional passthrough columns (e.g. warc_ts
    for the streaming pair path)."""
    has_text = _has_text("text")
    if "html" in pages.columns:
        df = pages.filter(has_text | F.col("html").isNotNull())
        html_arg = F.when(~has_text, F.col("html"))
    else:
        df = pages.filter(has_text)
        html_arg = F.lit(None).cast("binary")
    if lang_filter is not None and "lang" in pages.columns:
        df = df.filter(F.col("lang") == lang_filter)
    return df.select("url", "text", html_arg.alias("_html"), *extra_cols)


def _page_sentences(text: str | None, html: bytes | None) -> list[tuple[int, str]]:
    """(sent_id, sent) of one page: the html→text fallback when ``text`` is
    null or empty, preprocess + split, then the ``MAX_LEN`` cut. sent_ids
    are assigned before the cut."""
    if not text:
        text = html_to_text(html) if html is not None else ""
    return [
        (sid, sent)
        for sid, sent in enumerate(split_sentences(preprocess_text(text)))
        if len(sent) <= MAX_LEN
    ]


def _page_rows(pdf: pd.DataFrame) -> list[tuple]:
    """(url, sent_id, sent) rows of a ``_pages_text_source`` batch."""
    return [
        (url, sid, sent)
        for url, text, html in zip(pdf["url"], pdf["text"], pdf["_html"])
        for sid, sent in _page_sentences(text, html)
    ]


def prepare_pages(pages: DataFrame) -> DataFrame:
    """One-off crawl prep: fill null ``text`` from html bytes and null
    ``lang`` via the n-gram heuristic (JVM expression) — the step that turns
    raw crawl pages into a proper pages table, typically written back to
    storage once so the KG pipeline reads cleaned input thereafter.

    text: where the frame has an ``html`` column, the html→text fallback
    fills rows whose text is null or empty and whose html is not null, in
    one Arrow stage; the output keeps the column. ``read_warc`` output has
    no html column (its text is already derived), so only the lang guess
    runs and no Python UDF is planned. lang: filled where null; rows
    without html keep their text (null or ``""``), so a second call changes
    nothing; a row with neither text nor html keeps the lang it had."""
    from ..functions.textstats import lang_guess

    if "html" in pages.columns:
        # the UDF argument is null except on rows that take the fallback,
        # so no other row ships html bytes to Python
        fill = ~_has_text("text") & F.col("html").isNotNull()
        pages = pages.withColumn(
            "text",
            F.when(fill, html_to_text_udf(F.when(fill, F.col("html")))).otherwise(
                F.col("text")
            ),
        )
    guessed = lang_guess(F.col("text"))
    if "lang" in pages.columns:
        lang_val = F.coalesce(F.col("lang"), guessed)
        # rows the text fill could not populate keep their pre-existing lang
        # instead of being silently nulled
        keep = F.col("lang")
    else:
        lang_val, keep = guessed, F.lit(None).cast("string")
    return pages.withColumn(
        "lang", F.when(F.col("text").isNotNull(), lang_val).otherwise(keep)
    )


def pages_to_sentences(pages: DataFrame, lang_filter: str | None = "ja") -> DataFrame:
    """Returns (url, sent_id, sent). Deterministic per row; no shuffle.

    One ``mapInPandas`` over :func:`_pages_text_source`, emitting the
    :func:`_page_sentences` rows of each page: the same contract as the
    fused mention stages, html→text fallback included (null-gated
    JVM-side, so pages with text never ship their html bytes). sent_ids
    are assigned before the ``MAX_LEN`` cut."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                _page_rows(pdf), columns=SENTENCE_SCHEMA.fieldNames()
            ).astype({"sent_id": "int32"})

    return _pages_text_source(pages, lang_filter).mapInPandas(run, schema=SENTENCE_SCHEMA)
