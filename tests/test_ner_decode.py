"""The NER stage's vectorized BIO decode against the reference FSM
(``oracle.iob.iob_to_spans``), the packed numpy forward's pickling and
dtype contract, and ``ner_pages`` and ``extract_mentions`` on degenerate
inputs."""

from __future__ import annotations

import pickle
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bert_namedentityrecognition_spark.operators.ner import (
    PAD,
    LabelVocab,
    _infer_rows,
    bio_spans,
    label_vocab_for_types,
)
from bert_namedentityrecognition_spark.operators.tagger import MENTION_SCHEMA
from bert_namedentityrecognition_spark.oracle.iob import iob_to_spans

VOCABS = [
    label_vocab_for_types(["drug", "symptom"]),
    label_vocab_for_types(["a", "b", "c"]),
    # irregular checkpoint labels: an unknown prefix, a dash-less tag, a
    # dashed type name, and [PAD] away from id 0
    LabelVocab.from_itos(["O", "B-x", "I-x", PAD, "E-x", "S", "I-y-z", "B-y-z"]),
]


def _reference_spans(vocab, pred, lengths):
    """Per-row reference: ids → labels ([PAD] → 'O'), trim to the row's
    length, ``iob_to_spans``."""
    out = []
    for r, n in enumerate(lengths):
        labels = [
            "O" if vocab.itos[i] == PAD else vocab.itos[i] for i in pred[r, :n]
        ]
        for s in iob_to_spans(None, labels):
            out.append((r, s["start"], s["end"], s["type"]))
    return out


def _vectorized_spans(vocab, pred, lengths):
    prefix, types, names = vocab.bio_tables()
    rows, starts, ends, codes = bio_spans(pred, np.array(lengths), prefix, types)
    return [
        (r, s, e, names[c])
        for r, s, e, c in zip(rows.tolist(), starts.tolist(), ends.tolist(), codes.tolist())
    ]


@st.composite
def label_matrices(draw):
    vocab = draw(st.sampled_from(VOCABS))
    B = draw(st.integers(1, 6))
    T = draw(st.integers(0, 24))
    o = vocab.stoi["O"]
    # bias towards O so chunks open and close often; ids past a row's
    # length are garbage the decode must ignore
    ids = st.one_of(st.just(o), st.integers(0, len(vocab.itos) - 1))
    pred = np.array(
        draw(st.lists(st.lists(ids, min_size=T, max_size=T), min_size=B, max_size=B)),
        np.int64,
    ).reshape(B, T)
    lengths = draw(st.lists(st.integers(0, T), min_size=B, max_size=B))
    return vocab, pred, lengths


@settings(max_examples=400, deadline=None)
@given(label_matrices())
def test_bio_spans_equals_reference_fsm(case):
    vocab, pred, lengths = case
    assert _vectorized_spans(vocab, pred, lengths) == _reference_spans(
        vocab, pred, lengths
    )


def test_bio_spans_named_cases():
    vocab = label_vocab_for_types(["drug", "symptom"])
    s = vocab.stoi
    O, Bd, Id, Bs, Is = s["O"], s["B-drug"], s["I-drug"], s["B-symptom"], s["I-symptom"]
    P = s[PAD]
    rows = [
        [O, Id, Id, O, O, O],  # I- after O opens a chunk (lenient)
        [Bd, Id, Is, Is, O, O],  # type switch inside a run
        [O, O, O, O, O, O],  # all O
        [Bs, Bd, Bd, Bd, Bd, Bd],  # length 1: the rest is padding
        [Id, P, Bd, Id, Id, Id],  # [PAD] decodes as O; run cut by the length
    ]
    lengths = [6, 6, 6, 1, 4]
    got = _vectorized_spans(vocab, np.array(rows), lengths)
    assert got == _reference_spans(vocab, np.array(rows), lengths)
    assert got == [
        (0, 1, 3, "drug"),
        (1, 0, 2, "drug"),
        (1, 2, 4, "symptom"),
        (3, 0, 1, "symptom"),
        (4, 0, 1, "drug"),
        (4, 2, 4, "drug"),
    ]


def test_typed_o_label_is_rejected():
    with pytest.raises(ValueError, match="not a BIO tag"):
        LabelVocab.from_itos([PAD, "O", "O-x", "B-x"]).bio_tables()


class _HashModel:
    """Deterministic stand-in whose argmax label at (text, position) is a
    hash: dense B/I/O/[PAD] mixes, and non-O labels on padded positions."""

    def __init__(self, tokenizer, num_labels):
        self.tokenizer = tokenizer
        self.num_labels = num_labels

    def logits(self, texts, padded_len):
        out = np.zeros((len(texts), padded_len, self.num_labels), np.float32)
        for b, t in enumerate(texts):
            for p in range(padded_len):
                out[b, p, zlib.crc32(f"{t}|{p}".encode()) % self.num_labels] = 1.0
        return out


def _reference_infer(rows, mdl, vocab, batch_size, max_len):
    """The stage's per-row decode, written against the reference FSM:
    same sub-batching, labels per token (char) or per piece (WordPiece),
    piece spans lifted to character offsets."""
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

    texts = [han_to_zen(r[2]) for r in rows]
    spanner = getattr(mdl.tokenizer, "tokenize_with_spans", None)
    order = sorted(range(len(texts)), key=lambda i: -len(texts[i]))
    out = []
    for ofs in range(0, len(order), batch_size):
        idxs = order[ofs : ofs + batch_size]
        chunk = [texts[i][: max_len - 1] for i in idxs]
        tbls = [spanner(c)[: max_len - 1] for c in chunk] if spanner else None
        lengths = [len(t) for t in tbls] if tbls else [len(c) for c in chunk]
        pred = mdl.logits(chunk, max(lengths, default=0) + 1).argmax(axis=2)[:, 1:]
        for (r, s, e, typ) in _reference_spans(vocab, pred, lengths):
            if tbls:
                s, e = tbls[r][s][1], tbls[r][e - 1][2]
            u, sid, _ = rows[idxs[r]]
            out.append((u, sid, s, e, typ, chunk[r][s:e]))
    return out


SENTS = [
    "ロキソニンを服用後、頭痛が出現した。",
    "発熱",
    "ﾊﾞﾌｧﾘﾝ内服中にめまいが見られた。経過は良好である。",
    "頭",
    "カロナールを処方した。",
    "",
    "ロキソニン頭痛ロキソニン頭痛ロキソニン頭痛",
]


@pytest.mark.parametrize("granularity", ["char", "wordpiece"])
@pytest.mark.parametrize("vocab_idx", range(len(VOCABS)))
def test_infer_rows_decode_matches_reference(granularity, vocab_idx):
    from bert_namedentityrecognition_spark.operators.ner import CharTokenizer
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen
    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    zen = [han_to_zen(s) for s in SENTS]
    if granularity == "char":
        tok = CharTokenizer(sorted({c for s in zen for c in s}))
    else:
        tok = WordPieceTokenizer(
            char_vocab_with_pieces(zen, extra_pieces=["ロキソ", "##ニン", "頭痛", "バファ"])
        )
    vocab = VOCABS[vocab_idx]
    mdl = _HashModel(tok, len(vocab.itos))
    rows = [(f"u{i % 3}", i, s) for i, s in enumerate(SENTS * 3)]
    for batch_size, max_len in [(1, 512), (3, 512), (8, 6)]:
        out = {k: [] for k in MENTION_SCHEMA.fieldNames()}
        _infer_rows(rows, mdl, vocab, batch_size, max_len, out)
        got = list(zip(*(out[k] for k in ("url", "sent_id", "start", "end", "type", "word"))))
        assert got == _reference_infer(rows, mdl, vocab, batch_size, max_len)
        assert got, "the hash model must emit some mentions"


# --- packed forward --------------------------------------------------------


def _toy_classifier():
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        CharTokenizer,
        NumpyTokenClassifier,
    )

    tok = CharTokenizer(list("頭痛発熱薬を服用した。"))
    sd = init_token_classifier_state(
        len(tok.itos), 5, hidden=32, layers=2, heads=4, intermediate=64, seed=5
    )
    return NumpyTokenClassifier(sd, tok)


def test_pickled_classifier_carries_no_packed_weights():
    mdl = _toy_classifier()
    texts = ["頭痛が発熱した。", "薬を服用"]
    before = mdl.logits(texts, 10)
    assert mdl._packed is not None
    blob = pickle.dumps(mdl)
    clone = pickle.loads(blob)
    assert clone._packed is None
    # the packed arrays are not in the bytes: the pickle is no larger than
    # one of a classifier that never ran
    assert len(blob) <= len(pickle.dumps(_toy_classifier()))
    assert np.array_equal(clone.logits(texts, 10), before)


def test_float64_state_dict_stays_float64():
    from bert_namedentityrecognition_spark.operators import bert_numpy as bn

    mdl = _toy_classifier()
    sd64 = {
        k: (v.astype(np.float64) if v.dtype == np.float32 else v)
        for k, v in mdl.state_dict.items()
    }
    for act in ("gelu", "gelu_new"):
        sd64["_meta.hidden_act"] = np.array([act])
        pk = bn.pack_state(sd64)
        assert all(
            a.dtype == np.float64
            for layer in pk["layers"]
            for pair in layer.values()
            for a in pair
        )
        h = np.linspace(-4, 4, 64, dtype=np.float64).reshape(2, 32)
        assert pk["act"](h).dtype == np.float64
        ids = np.array([[1, 4, 5, 6, 0]])
        mask = np.array([[1, 1, 1, 1, 0]], np.float64)
        out = bn.bert_token_logits(sd64, ids, mask, out_dtype=np.float64)
        assert out.dtype == np.float64
        # float64 end to end: agrees with the float32 forward only to float32
        # precision, so it was not computed in float32
        sd32 = dict(mdl.state_dict, **{"_meta.hidden_act": np.array([act])})
        out32 = bn.bert_token_logits(sd32, ids, mask.astype(np.float32))
        assert 0 < np.abs(out - out32).max() < 1e-4


def test_gelu_in_float64_is_float64_accurate():
    """A float64 activation keeps the A&S polynomial's own error (erf within
    1.5e-7, so GELU within ½|x|·1.5e-7), not float32 rounding on top."""
    import math

    from bert_namedentityrecognition_spark.operators.bert_numpy import _gelu_erf

    x = np.linspace(-8, 8, 4001)
    got = _gelu_erf(x)
    assert got.dtype == np.float64
    ref = np.array([0.5 * v * (1.0 + math.erf(v / math.sqrt(2.0))) for v in x])
    assert np.all(np.abs(got - ref) <= 0.5 * np.abs(x) * 1.5e-7 + 1e-15)


# --- ner_pages and extract_mentions on degenerate inputs --------------------

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
GAZETTEER = {"頭": "symptom", "頭痛": "symptom", "薬": "drug"}
NO_MENTIONS = {"ner_pages": [], "extract_mentions": []}


@pytest.fixture(scope="module")
def numpy_model():
    return _toy_classifier(), label_vocab_for_types(["drug", "symptom"])


def _mentions(spark, rows, model, vocab, partitions=None):
    """Mention tuples of each pages → mentions stage: the model path
    (``ner_pages``) and the gazetteer path (``extract_mentions``)."""
    from bert_namedentityrecognition_spark.operators.ner import ner_pages
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions

    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    if partitions is not None:
        pages = pages.repartition(partitions)
    got = {}
    for name, df in [
        ("ner_pages", ner_pages(pages, model, vocab)),
        ("extract_mentions", extract_mentions(pages, GAZETTEER)),
    ]:
        assert df.schema == MENTION_SCHEMA
        got[name] = [tuple(r) for r in df.collect()]
    return got


def test_ner_pages_empty_frame(spark, numpy_model):
    assert _mentions(spark, [], *numpy_model) == NO_MENTIONS


def test_ner_pages_all_null_text_and_html(spark, numpy_model):
    rows = [(f"u{i}", None, None, None, "ja") for i in range(4)]
    assert _mentions(spark, rows, *numpy_model) == NO_MENTIONS


def test_ner_pages_only_overlong_sentences(spark, numpy_model):
    rows = [("u0", None, None, "頭" * 600 + "。", "ja"), ("u1", None, None, "薬" * 513, "ja")]
    assert _mentions(spark, rows, *numpy_model) == NO_MENTIONS


def test_ner_pages_single_partition_equals_many(spark, numpy_model):
    rows = [
        (f"u{i}", None, None, "頭痛が発熱した。薬を服用した。" * (i + 1), "ja")
        for i in range(6)
    ]
    one = _mentions(spark, rows, *numpy_model, partitions=1)
    many = _mentions(spark, rows, *numpy_model, partitions=4)
    for name in NO_MENTIONS:
        assert sorted(one[name]) == sorted(many[name])
    assert one["extract_mentions"]


def test_ner_pages_one_character_sentence(spark, numpy_model):
    model, vocab = numpy_model
    got = _mentions(spark, [("u0", None, None, "頭", "ja")], model, vocab)
    out = {k: [] for k in MENTION_SCHEMA.fieldNames()}
    _infer_rows([("u0", 0, "頭")], model, vocab, 8, 512, out)
    want = list(zip(*(out[k] for k in ("url", "sent_id", "start", "end", "type", "word"))))
    assert got["ner_pages"] == want
    assert all((s, e, w) == (0, 1, "頭") for _, _, s, e, _, w in want)
    assert got["extract_mentions"] == [("u0", 0, 0, 1, "symptom", "頭")]
