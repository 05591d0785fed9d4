"""WordPiece in the e2e model path (VERDICT r2 item 7) + checkpoint file
round-trip (item 4) + config-driven GELU (ADVICE).

The char tokenizer is faithful for char-v2-style models (what the reference
uses), but ``normalize_tagged_dataset``'s B-duplication quirk and the
sub-token span alignment only fire on multi-piece expansion — these tests
drive both through real WordPiece tokenization end-to-end.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


def _wp_tokenizer():
    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    texts = ["ロキソニン 服用 頭痛", "カロナール 処方 発熱"]
    # multi-char pieces so some words expand to >1 piece mid-word
    return WordPieceTokenizer(
        char_vocab_with_pieces(texts, extra_pieces=["ロキソ", "##ニン", "カロ", "頭痛"])
    )


def test_tokenize_with_spans_alignment():
    tok = _wp_tokenizer()
    text = "ロキソニン 服用 頭痛"
    spans = tok.tokenize_with_spans(text)
    assert [p for p, _, _ in spans] == tok.tokenize(text)
    # offsets recover the surface (modulo the ## continuation marker)
    for p, s, e in spans:
        assert text[s:e] == p.replace("##", "", 1) if p != "[UNK]" else True
    # the multi-piece word: ロキソニン → ロキソ + ##ニン with contiguous spans
    assert spans[0][0] == "ロキソ" and (spans[0][1], spans[0][2]) == (0, 3)
    assert spans[1][0] == "##ニン" and (spans[1][1], spans[1][2]) == (3, 5)
    # unknown word → single [UNK] covering the whole word
    sp = tok.tokenize_with_spans("xyz 頭痛")
    assert sp[0] == ("[UNK]", 0, 3)


class _FixedPieceModel:
    """Deterministic piece-label model: tags pieces [1], [2] of every
    sentence B-drug, I-drug — isolates the decode/alignment from weights."""

    def __init__(self, tokenizer, label_vocab):
        self.tokenizer = tokenizer
        self.label_vocab = label_vocab

    def logits(self, texts, padded_len):
        L = len(self.label_vocab.itos)
        out = np.zeros((len(texts), padded_len, L), np.float32)
        out[:, :, self.label_vocab.stoi["O"]] = 0.5
        for bi in range(len(texts)):
            n = len(self.tokenizer.tokenize(texts[bi]))
            if n >= 2:
                out[bi, 2, self.label_vocab.stoi["B-drug"]] = 1.0  # piece 1 (+[CLS])
            if n >= 3:
                out[bi, 3, self.label_vocab.stoi["I-drug"]] = 1.0  # piece 2
        return out


def test_wordpiece_decode_lifts_piece_spans_to_char_offsets():
    from bert_namedentityrecognition_spark.operators.ner import (
        _infer_rows,
        label_vocab_for_types,
    )
    from bert_namedentityrecognition_spark.operators.tagger import MENTION_SCHEMA

    tok = _wp_tokenizer()
    vocab = label_vocab_for_types(["drug"])
    model = _FixedPieceModel(tok, vocab)
    sent = "ロキソニン 服用 頭痛"  # pieces: ロキソ ##ニン 服 ##用 頭痛
    out = {k: [] for k in MENTION_SCHEMA.fieldNames()}
    _infer_rows([("u", 0, sent)], model, vocab, batch_size=4, max_len=512, out=out)
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

    assert out["type"] == ["drug"]
    # offsets are into the han_to_zen'd sentence (ASCII space → 全角)
    # pieces [1],[2] = ##ニン + 服 → chars 3..5 and 6..7 → span 3..7
    assert (out["start"][0], out["end"][0]) == (3, 7)
    assert out["word"][0] == han_to_zen(sent)[3:7] == "ニン　服"


def test_ner_pages_wordpiece_spark_matches_local(spark):
    """ner_pages driven by the numpy BERT with a real WordPiece tokenizer:
    the Spark run reproduces the single-process mention set exactly."""
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        NumpyTokenClassifier,
        _infer_rows,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.operators.tagger import MENTION_SCHEMA
    from bert_namedentityrecognition_spark.oracle.textproc import (
        han_to_zen,
        preprocess_text,
        split_sentences,
    )
    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    texts = [
        "ロキソニンを服用後、頭痛が出現した。経過は良好である。",
        "発熱に対してカロナールを処方した。",
        "ﾊﾞﾌｧﾘﾝ内服中にめまいが見られた。",
    ]
    zen = [han_to_zen(t) for t in texts]
    tok = WordPieceTokenizer(
        char_vocab_with_pieces(zen, extra_pieces=["ロキソ", "##ニン", "頭痛", "バファ"])
    )
    vocab = label_vocab_for_types(["drug", "symptom"])
    sd = init_token_classifier_state(
        vocab_size=len(tok.itos), num_labels=len(vocab.itos), hidden=32,
        layers=2, heads=4, intermediate=64, seed=3,
    )
    model = NumpyTokenClassifier(sd, tok)

    pages = spark.createDataFrame(
        [(f"u{i}", None, None, t, "ja") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(1)
    got = {
        (r.url, r.sent_id, r.start, r.end, r.type, r.word)
        for r in ner_pages(pages, model, vocab, batch_size=2).collect()
    }

    rows = []
    for i, t in enumerate(texts):
        for sid, sent in enumerate(split_sentences(preprocess_text(t))):
            if len(sent) <= 512:
                rows.append((f"u{i}", sid, sent))
    out = {k: [] for k in MENTION_SCHEMA.fieldNames()}
    _infer_rows(rows, model, vocab, batch_size=2, max_len=512, out=out)
    want = set(
        zip(out["url"], out["sent_id"], out["start"], out["end"], out["type"], out["word"])
    )
    assert got == want
    # spans are char offsets into the processed sentence: word matches slice
    by_key = {}
    for i, t in enumerate(texts):
        for sid, sent in enumerate(split_sentences(preprocess_text(t))):
            by_key[(f"u{i}", sid)] = han_to_zen(sent)
    for url, sid, s, e, _typ, word in got:
        assert by_key[(url, sid)][s:e] == word


def test_gold_realignment_duplication_on_multi_piece_expansion():
    """The quirk only observable under expansion (``BERT/Model.py:377-381``):
    one char → 3 pieces duplicates its tag verbatim (reference's dead-code
    last_tag), while fix_b_duplication=True yields well-formed IOB2."""
    from bert_namedentityrecognition_spark.oracle.alignment import (
        normalize_tagged_dataset,
    )

    def expanding_tokenize(ch: str) -> list[str]:
        return ["セ", "##ン", "##チ"] if ch == "㌢" else [ch]

    # NOTE: han_to_zen is applied inside normalize_tagged_dataset; ㌢ is not
    # in its han table so it reaches the tokenizer unchanged
    sents = [["5", "㌢", "大"]]
    tags = [["O", "B-size", "I-size"]]
    toks, quirk = normalize_tagged_dataset(sents, tags, tokenize=expanding_tokenize)
    # '5' itself is widened by the in-loop han_to_zen
    assert toks == [["５", "セ", "##ン", "##チ", "大"]]
    assert quirk == [["O", "B-size", "B-size", "B-size", "I-size"]]
    _, fixed = normalize_tagged_dataset(
        sents, tags, tokenize=expanding_tokenize, fix_b_duplication=True
    )
    assert fixed == [["O", "B-size", "I-size", "I-size", "I-size"]]


def test_checkpoint_file_round_trip(spark, tmp_path):
    """save npz → load → tensors unchanged → identical mentions through
    ner_pages — the 'trained tensors load unchanged' claim end-to-end."""
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
        load_checkpoint,
        save_checkpoint,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        CharTokenizer,
        NumpyTokenClassifier,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

    texts = ["ロキソニンを服用後、頭痛が出現した。", "発熱に対してカロナールを処方した。"]
    tok = CharTokenizer(sorted({c for t in texts for c in han_to_zen(t)}))
    vocab = label_vocab_for_types(["drug", "symptom"])
    sd = init_token_classifier_state(
        vocab_size=len(tok.itos), num_labels=len(vocab.itos), hidden=32,
        layers=2, heads=4, intermediate=64, seed=11,
    )
    path = str(tmp_path / "ckpt.npz")
    save_checkpoint(sd, path)
    sd2 = load_checkpoint(path)
    assert set(sd2) == set(sd)
    for k in sd:
        assert np.array_equal(sd[k], sd2[k]), k

    pages = spark.createDataFrame(
        [(f"u{i}", None, None, t, "ja") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )

    def mentions(state):
        return {
            (r.url, r.sent_id, r.start, r.end, r.type, r.word)
            for r in ner_pages(
                pages, NumpyTokenClassifier(state, tok), vocab, batch_size=4
            ).collect()
        }

    assert mentions(sd2) == mentions(sd)


def test_classifier_from_checkpoint_self_describing(spark, tmp_path):
    """A single npz with bundled vocabularies is a complete inference
    artifact: classifier_from_checkpoint reproduces the in-process model's
    mentions exactly, for both tokenizer kinds; a tensor-only checkpoint
    fails with a clear error."""
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
        save_checkpoint,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        CharTokenizer,
        NumpyTokenClassifier,
        classifier_from_checkpoint,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen
    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    texts = ["ロキソニンを服用後、頭痛が出現した。", "発熱に対してカロナールを処方した。"]
    zen = [han_to_zen(t) for t in texts]
    pages = spark.createDataFrame(
        [(f"u{i}", None, None, t, "ja") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    vocab = label_vocab_for_types(["drug", "symptom"])

    def mentions(model, lv):
        return {
            (r.url, r.sent_id, r.start, r.end, r.type, r.word)
            for r in ner_pages(pages, model, lv, batch_size=4).collect()
        }

    for kind, tok in (
        ("char", CharTokenizer(sorted({c for t in zen for c in t}))),
        ("wordpiece", WordPieceTokenizer(char_vocab_with_pieces(zen, ["ロキソ", "##ニン"]))),
    ):
        sd = init_token_classifier_state(
            vocab_size=len(tok.itos), num_labels=len(vocab.itos), hidden=32,
            layers=1, heads=2, intermediate=64, seed=5,
        )
        path = str(tmp_path / f"{kind}.npz")
        save_checkpoint(
            sd, path, tokenizer_itos=tok.itos, label_itos=vocab.itos,
            tokenizer_kind=kind,
        )
        model2, vocab2 = classifier_from_checkpoint(path)
        assert type(model2.tokenizer).__name__ == (
            "CharTokenizer" if kind == "char" else "WordPieceTokenizer"
        )
        assert model2.tokenizer.itos == tok.itos and vocab2.itos == vocab.itos
        assert mentions(model2, vocab2) == mentions(
            NumpyTokenClassifier(sd, tok), vocab
        )

    bare = str(tmp_path / "bare.npz")
    save_checkpoint(
        init_token_classifier_state(10, 3, hidden=16, layers=1, heads=2,
                                    intermediate=32),
        bare,
    )
    with pytest.raises(ValueError, match="no bundled vocabularies"):
        classifier_from_checkpoint(bare)


def test_gelu_erf_matches_math_erf_and_config_switch():
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        _gelu_erf,
        _gelu_tanh,
        bert_config_of,
        bert_token_logits,
        init_token_classifier_state,
    )

    x = np.linspace(-6, 6, 4001, dtype=np.float32)
    ref = np.array(
        [0.5 * float(v) * (1.0 + math.erf(float(v) / math.sqrt(2.0))) for v in x],
        np.float32,
    )
    got = _gelu_erf(x).astype(np.float32)
    # A&S 7.1.26: within one float32 ulp of the stdlib-erf reference
    assert np.max(np.abs(got - ref)) <= 2e-6
    # the two activations genuinely differ (guards against silent aliasing)
    assert np.max(np.abs(_gelu_erf(x) - _gelu_tanh(x))) > 1e-4

    sd_erf = init_token_classifier_state(20, 3, hidden=16, layers=1, heads=2,
                                         intermediate=32, seed=2)
    assert bert_config_of(sd_erf)["hidden_act"] == "gelu"
    sd_tanh = init_token_classifier_state(20, 3, hidden=16, layers=1, heads=2,
                                          intermediate=32, seed=2,
                                          hidden_act="gelu_new")
    ids = np.array([[1, 4, 5, 6]])
    a = bert_token_logits(sd_erf, ids)
    b = bert_token_logits(sd_tanh, ids)
    assert a.shape == b.shape and not np.array_equal(a, b)
    # a checkpoint with no hidden_act meta (a real HF export) defaults to
    # exact gelu (keep _meta.heads: head count is a separate inference)
    bare = {k: v for k, v in sd_erf.items() if k != "_meta.hidden_act"}
    assert bert_config_of(bare)["hidden_act"] == "gelu"
    assert np.array_equal(bert_token_logits(bare, ids), a)


def test_tokenize_with_spans_properties():
    """Property sweep (pure Python): for random vocab/text combinations the
    span table is consistent — same pieces as tokenize(), offsets ascending
    and non-overlapping, each span's surface matches its piece (modulo the
    ## marker), UNK spans cover whole words."""
    import random

    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    rng = random.Random(99)
    alphabet = "abcdeあいうえ"
    for _ in range(200):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 5))
        ]
        text = " ".join(words)
        # random piece vocab: a random subset of chars + some 2-grams
        chars = [c for c in alphabet if rng.random() < 0.7]
        pieces2 = [
            "".join(rng.choice(alphabet) for _ in range(2)) for _ in range(3)
        ]
        tok = WordPieceTokenizer(
            char_vocab_with_pieces(["".join(chars)], extra_pieces=pieces2)
        )
        spans = tok.tokenize_with_spans(text)
        assert [p for p, _, _ in spans] == tok.tokenize(text)
        prev_end = 0
        for p, s, e in spans:
            assert 0 <= s < e <= len(text)
            assert s >= prev_end or p.startswith("##")  # contiguous inside word
            prev_end = e
            if p == "[UNK]":
                # covers a whole whitespace-delimited word
                assert (s == 0 or text[s - 1].isspace()) and (
                    e == len(text) or text[e].isspace()
                )
            else:
                assert text[s:e] == (p[2:] if p.startswith("##") else p)
