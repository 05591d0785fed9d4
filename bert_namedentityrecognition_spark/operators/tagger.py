"""Dictionary (gazetteer) NER tagger and the one mention-extraction stage.

The scale path of the reference's containment join
(``util/text_utils.py:154-192`` + ``knowledge_bases/hyakuyaku.py:71-88``):
instead of scanning the text once per dictionary term (O(|text|·|dict|)),
an Aho-Corasick automaton is built once per task from the (small)
broadcast dictionary, and each Arrow batch is scanned in O(|text|).
Longest-first overlap masking matches the reference greedy loop
exactly (property-tested in tests/test_oracle_text_fuzzy.py).

Matching happens on han_to_zen-normalized text — identical normalization to
the dictionary side (``knowledge_bases/manbyo.py:58``), the invariant that
keeps downstream joins consistent.

Output: mentions(url, sent_id, start, end, type, word) — char offsets into
the normalized sentence, end-exclusive.

``automaton_match`` already returns non-overlapping matches, so each match
is emitted as a span directly. Round-tripping them through char-level IOB
tags and the reference BIO FSM returns the same spans; that round trip is
the reference (``plans/oracle_pipeline.oracle_mentions``), property-tested
in tests/test_mention_stage.py.

Every mention path — gazetteer or model (``operators/ner.py``), over a
sentences table or over pages — is the same ``mapInPandas`` body,
:func:`_mention_stage`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..oracle.matcher import automaton_match, build_automaton
from ..oracle.textproc import han_to_zen
from .sentences import _page_rows, _pages_text_source

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_id", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("word", T.StringType(), False),
    ]
)


def matches_to_iob(text: str, matches: list[tuple[int, int, str]], types: dict[str, str]) -> list[str]:
    """Char-level IOB2 tags from non-overlapping matches."""
    tags = ["O"] * len(text)
    for s, e, term in matches:
        ttype = types[term]
        tags[s] = "B-" + ttype
        for i in range(s + 1, e):
            tags[i] = "I-" + ttype
    return tags


class _Gazetteer:
    """Dictionary tagger: ``term_types`` maps surface → entity type; with
    ``normalize`` surfaces and sentences are han_to_zen-normalized first."""

    def __init__(self, term_types: dict[str, str], normalize: bool):
        self.types = {
            (han_to_zen(k) if normalize else k): v for k, v in term_types.items()
        }
        self.normalize = normalize
        self.automaton = build_automaton(list(self.types))

    def spans(self, sent: str) -> list[tuple[int, int, str, str]]:
        """(start, end, type, word) of every match, offsets into the
        (normalized) ``sent``."""
        text = han_to_zen(sent) if self.normalize else sent
        return [
            (s, e, self.types[term], text[s:e])
            for s, e, term in automaton_match(text, self.automaton)
        ]

    def __call__(self, rows, out: dict[str, list]) -> None:
        for url, sid, sent in rows:
            for s, e, ttype, word in self.spans(sent):
                out["url"].append(url)
                out["sent_id"].append(sid)
                out["start"].append(s)
                out["end"].append(e)
                out["type"].append(ttype)
                out["word"].append(word)


def _mentions_frame(out: dict[str, list]) -> pd.DataFrame:
    """MENTION_SCHEMA pandas frame from per-column lists."""
    return pd.DataFrame(
        {
            f.name: pd.Series(
                out[f.name],
                dtype="int32" if isinstance(f.dataType, T.IntegerType) else "object",
            )
            for f in MENTION_SCHEMA
        }
    )


def _sentence_rows(pdf: pd.DataFrame) -> list[tuple]:
    """(url, sent_id, sent) rows of a sentences batch; a null or empty
    sentence has no mentions and is skipped."""
    return [row for row in zip(pdf["url"], pdf["sent_id"], pdf["sent"]) if row[2]]


def _mention_stage(
    src: DataFrame,
    rows_of: Callable[[pd.DataFrame], list[tuple]],
    make_tagger: Callable,
    *tagger_args,
) -> DataFrame:
    """The one Arrow stage behind every mention path: per batch,
    ``rows_of`` yields (url, sent_id, sent) rows and the tagger, built once
    per task as ``make_tagger(*tagger_args)`` from the broadcast args,
    appends their mentions to per-column lists. One Python runner section,
    no shuffle."""
    bc = src.sparkSession.sparkContext.broadcast(tagger_args)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag = make_tagger(*bc.value)
        for pdf in batches:
            out = {name: [] for name in MENTION_SCHEMA.fieldNames()}
            tag(rows_of(pdf), out)
            yield _mentions_frame(out)

    return src.mapInPandas(run, schema=MENTION_SCHEMA)


def tag_sentences(
    sentences: DataFrame,
    term_types: dict[str, str],
    normalize: bool = True,
) -> DataFrame:
    """sentences(url, sent_id, sent) → mentions. One Arrow stage, no shuffle.

    term_types: dictionary surface → entity type (e.g. 'drug'/'symptom').
    With ``normalize`` (reference behavior) text and surfaces are
    han_to_zen-normalized before matching; disable for ASCII corpora where
    surfaces should surface verbatim.
    """
    return _mention_stage(sentences, _sentence_rows, _Gazetteer, term_types, normalize)


def extract_mentions(
    pages: DataFrame,
    term_types: dict[str, str],
    lang_filter: str | None = "ja",
) -> DataFrame:
    """Fused pages → mentions: preprocess + sentence-split + 512-filter +
    han_to_zen + tag in ONE Arrow stage.

    Semantically identical to ``pages_to_sentences`` → ``tag_sentences``
    (sent_ids are assigned before the length filter, matching the oracle),
    but with a single Python runner section per Spark stage. Chaining two
    Python sections inside one stage serializes them through paired workers
    with blocking JVM handoffs — measured 10-15× slower at 32 local cores —
    so the fused form is the production path; the two-step form remains for
    when a sentences table is itself a wanted output.

    html→text fallback (input_hint): null/empty-text rows with html bytes
    are decoded inside the SAME Python section. The html argument is
    null-gated JVM-side (``when(NOT has_text, html)``) so Arrow never ships
    html bytes for pages that already carry text.
    """
    return _mention_stage(
        _pages_text_source(pages, lang_filter), _page_rows, _Gazetteer, term_types, True
    )
