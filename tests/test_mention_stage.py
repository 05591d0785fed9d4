"""The shared mention stage: the gazetteer's direct spans against the
reference char-IOB round trip, and null or empty sentences on the
sentences-table stages."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bert_namedentityrecognition_spark.operators.tagger import (
    _Gazetteer,
    matches_to_iob,
)
from bert_namedentityrecognition_spark.oracle.iob import iob_to_spans
from bert_namedentityrecognition_spark.oracle.matcher import (
    automaton_match,
    build_automaton,
)
from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

# ASCII letters widen under han_to_zen ('a' and 'ａ' collide), half-width
# kana with a dakuten fold two chars into one
ALPHABET = "abａｶﾞ頭痛"
TYPES = ["drug", "symptom", "a-b", ""]


def _round_trip(term_types: dict[str, str], normalize: bool, sent: str) -> list[tuple]:
    """The reference decode of ``oracle_mentions``: matches → char IOB
    tags → the BIO FSM."""
    types = {(han_to_zen(k) if normalize else k): v for k, v in term_types.items()}
    text = han_to_zen(sent) if normalize else sent
    matches = automaton_match(text, build_automaton(list(types)))
    return [
        (d["start"], d["end"], d["type"], d["word"])
        for d in iob_to_spans(list(text), matches_to_iob(text, matches, types))
    ]


@settings(max_examples=400, deadline=None)
@given(
    term_types=st.dictionaries(
        st.text(ALPHABET, min_size=1, max_size=3), st.sampled_from(TYPES), max_size=6
    ),
    sent=st.text(ALPHABET, max_size=24),
    normalize=st.booleans(),
)
def test_direct_spans_equal_iob_round_trip(term_types, sent, normalize):
    assert _Gazetteer(term_types, normalize).spans(sent) == _round_trip(
        term_types, normalize, sent
    )


@pytest.mark.parametrize(
    "term_types, sent, want",
    [
        # adjacent same-type terms stay two mentions
        ({"ab": "drug", "ba": "drug"}, "abba", [(0, 2, "drug"), (2, 4, "drug")]),
        # one-character terms, back to back
        ({"a": "x", "b": "x"}, "ab", [(0, 1, "x"), (1, 2, "x")]),
        # a dash inside the type survives the B-/I- prefix split
        ({"ab": "a-b"}, "cab", [(1, 3, "a-b")]),
        # the empty-string type is a type like any other
        ({"ab": "", "c": ""}, "abc", [(0, 2, ""), (2, 3, "")]),
    ],
)
@pytest.mark.parametrize("normalize", [False, True])
def test_direct_spans_named_cases(term_types, sent, want, normalize):
    got = _Gazetteer(term_types, normalize).spans(sent)
    assert got == _round_trip(term_types, normalize, sent)
    text = han_to_zen(sent) if normalize else sent
    assert got == [(s, e, t, text[s:e]) for s, e, t in want]


def test_sentence_stages_skip_null_and_empty_sentences(spark):
    """A null ``sent`` used to raise ``TypeError`` inside the Python worker
    (``han_to_zen(None)``); both sentences-table stages now skip null and
    empty sentences."""
    from bert_namedentityrecognition_spark.operators.ner import (
        DictionaryStubModel,
        label_vocab_for_types,
        ner_sentences,
    )
    from bert_namedentityrecognition_spark.operators.tagger import tag_sentences

    term_types = {"頭痛": "symptom", "ロキソニン": "drug"}
    sentences = spark.createDataFrame(
        [
            ("u0", 0, "頭痛が出現した。"),
            ("u0", 1, None),
            ("u1", 0, ""),
            ("u1", 1, "ロキソニン"),
        ],
        "url string, sent_id int, sent string",
    ).coalesce(1)
    want = {("u0", 0, 0, 2, "symptom", "頭痛"), ("u1", 1, 0, 5, "drug", "ロキソニン")}
    assert {tuple(r) for r in tag_sentences(sentences, term_types).collect()} == want
    vocab = label_vocab_for_types(list(term_types.values()))
    model = DictionaryStubModel(term_types, vocab)
    got = {tuple(r) for r in ner_sentences(sentences, model, vocab).collect()}
    assert got == want
