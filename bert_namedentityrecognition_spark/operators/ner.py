"""Model NER stage — iterator-of-pandas Arrow UDF with broadcast weights.

Re-expresses the reference inference path (``BERT/Model.py:295-351``,
``BERT/predict.py:1-7``) as one ``mapInPandas`` stage:

    sentences(url, sent_id, sent) → mentions(url, sent_id, start, end, type, word)

Per Arrow batch, inside the Python worker:
1. han_to_zen + tokenize + prepend [CLS] id      (``prepare_sentences``, :329-351)
2. sort indices by token length desc, sub-batch,
   right-pad each sub-batch to its own max ≤512  (``Batch``, data_utils.py:66-97
   — the padding-efficiency trick Catalyst can't know about)
3. model forward → argmax over label axis        (:311-318)
4. drop the [CLS] position; per sub-batch, map the [B, T] argmax ids
   through (prefix, type) lookup tables, stray [PAD]→'O', positions past
   each sentence's length → 'O'                  (:320-327, :391-397; predict.py:5)
5. BIO-decode the whole sub-batch at once: chunk-start/-end masks of the
   reference's lenient FSM (iob_util.py:62-94, ``oracle/iob.py``), spans
   by ``np.nonzero`` (``bio_spans``)

The model is pluggable: anything with ``logits(ids: list[list[int]]) ->
[B, T, num_labels] ndarray``. ``TorchTokenClassifier`` (gated import) wraps a
real ``BertForTokenClassification`` state_dict broadcast via
``SparkContext.broadcast`` and loaded once per executor worker.
``NumpyTokenClassifier`` runs the same forward in numpy.
``DictionaryStubModel`` is the test fake: same tensor shapes, same decode
path, logits derived from a gazetteer, so the model path's decode can be
checked against the gazetteer's mentions.

The stage body itself is ``operators/tagger._mention_stage``, shared with
the gazetteer paths; only the tagger differs (:func:`_infer_rows`).

At 100 TB the unit of work is the Arrow batch (bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``), so executor-python peak
memory is flat; weights ship once per executor, not per task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..oracle.iob import split_tag
from ..oracle.matcher import automaton_match, build_automaton
from ..oracle.textproc import han_to_zen
from .sentences import MAX_LEN, _page_rows, _pages_text_source
from .tagger import _mention_stage, _sentence_rows, matches_to_iob

PAD, CLS, UNK = "[PAD]", "[CLS]", "[UNK]"


class CharTokenizer:
    """Char-level tokenizer + vocab (stand-in for WordPiece; same interface)."""

    def __init__(self, alphabet: list[str] | None = None):
        self.itos = [PAD, CLS, UNK] + sorted(set(alphabet or []))
        self.stoi = {t: i for i, t in enumerate(self.itos)}

    @classmethod
    def from_itos(cls, itos: list[str]) -> "CharTokenizer":
        """Restore from a saved id→token table verbatim (checkpoint load
        path — ids must match the embedding rows they were trained with)."""
        tok = cls.__new__(cls)
        tok.itos = list(itos)
        tok.stoi = {t: i for i, t in enumerate(tok.itos)}
        return tok

    def tokenize(self, text: str) -> list[str]:
        return list(text)

    def encode(self, tokens: list[str]) -> list[int]:
        unk = self.stoi[UNK]
        return [self.stoi[CLS]] + [self.stoi.get(t, unk) for t in tokens]

    def decode(self, ids: list[int]) -> list[str]:
        return [self.itos[i] for i in ids[1:]]  # drop [CLS]


# BIO prefix codes of ``LabelVocab.bio_tables`` / ``bio_spans``
_P_O, _P_B, _P_I, _P_OTHER = 0, 1, 2, 3
_PREFIX_CODES = {"O": _P_O, "B": _P_B, "I": _P_I}


class LabelVocab:
    """[PAD]=0, first-seen order (``BERT/bert_utils.py:39-55``)."""

    def __init__(self, labels: list[str]):
        self.itos = [PAD]
        for l in labels:
            if l not in self.itos:
                self.itos.append(l)
        self.stoi = {l: i for i, l in enumerate(self.itos)}

    @classmethod
    def from_itos(cls, itos: list[str]) -> "LabelVocab":
        """Restore from a saved id→label table verbatim."""
        v = cls.__new__(cls)
        v.itos = list(itos)
        v.stoi = {l: i for i, l in enumerate(v.itos)}
        return v

    def bio_tables(self) -> tuple[np.ndarray, np.ndarray, list]:
        """(prefix code per label id, type code per label id, type names)
        for :func:`bio_spans`. ``[PAD]`` decodes as ``'O'``; prefixes other
        than O/B/I share one code, as ``oracle/iob.py`` treats them alike.
        Type code 0 is the ``None`` type of ``'O'``. A typed ``O-`` label
        is rejected: the reference FSM decodes it into spans that start at
        −1."""
        names: list = [None]
        prefix = np.empty(len(self.itos), np.int8)
        types = np.empty(len(self.itos), np.int32)
        for i, label in enumerate(self.itos):
            p, t = split_tag("O" if label == PAD else label)
            if p == "O" and t is not None:
                raise ValueError(f"label {label!r} is not a BIO tag")
            prefix[i] = _PREFIX_CODES.get(p, _P_OTHER)
            if t not in names:
                names.append(t)
            types[i] = names.index(t)
        return prefix, types, names


def bio_spans(
    pred: np.ndarray, lengths: np.ndarray, prefix: np.ndarray, types: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized ``oracle.iob.iob_to_spans`` over a sub-batch of label-id
    rows: ``pred`` [B, T] ids, row ``r`` valid for ``lengths[r]`` positions.
    Returns ``(row, start, end, type_code)`` arrays (end-exclusive, in
    row-major order — the order the per-row reference emits).

    Each row is framed by ``'O'`` sentinels, positions past its length
    read as ``'O'``, and the reference's lenient FSM becomes two masks:
    a chunk starts at ``B-``, at ``I-`` after ``O``, or on a type change;
    it ends before ``B-``, before ``O``, or before a type change. Every
    start is followed by exactly one end before the next start, so the
    k-th start pairs with the k-th end."""
    B, T = pred.shape
    valid = np.arange(T)[None, :] < np.asarray(lengths)[:, None]
    p = np.zeros((B, T + 2), np.int8)  # _P_O sentinels
    t = np.zeros((B, T + 2), np.int32)  # type code 0 = None
    p[:, 1:-1] = np.where(valid, prefix[pred], _P_O)
    t[:, 1:-1] = types[pred]  # types past a row's length are never read
    pp, pc, pn = p[:, :-2], p[:, 1:-1], p[:, 2:]
    tp, tc, tn = t[:, :-2], t[:, 1:-1], t[:, 2:]
    inside = pc != _P_O
    start = inside & ((pc == _P_B) | ((pp == _P_O) & (pc == _P_I)) | (tp != tc))
    end = inside & ((pn == _P_B) | (pn == _P_O) | (tc != tn))
    rows, starts = np.nonzero(start)
    end_rows, ends = np.nonzero(end)
    return rows, starts, ends + 1, tc[end_rows, ends]


def label_vocab_for_types(types: list[str]) -> LabelVocab:
    labels = ["O"]
    for t in sorted(set(types)):
        labels += [f"B-{t}", f"I-{t}"]
    return LabelVocab(labels)


class DictionaryStubModel:
    """Deterministic logits from a gazetteer — the test fake of a model.

    Produces a [B, T, L] float32 tensor with 1.0 at the IOB label of each
    char position (positions covered by a dictionary match) so that
    ``argmax`` recovers exactly the gazetteer tags through the full
    pad/trim/decode machinery.
    """

    def __init__(self, term_types: dict[str, str], label_vocab: LabelVocab):
        self.term_types = {han_to_zen(k): v for k, v in term_types.items()}
        self.label_vocab = label_vocab
        self._automaton = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_automaton"] = None  # rebuilt lazily on each executor
        return state

    def logits(self, texts: list[str], padded_len: int) -> np.ndarray:
        if self._automaton is None:
            self._automaton = build_automaton(list(self.term_types))
        out = np.zeros((len(texts), padded_len, len(self.label_vocab.itos)), np.float32)
        o_id = self.label_vocab.stoi["O"]
        out[:, :, o_id] = 0.5  # default O everywhere (incl. [CLS]/[PAD] pos)
        for bi, text in enumerate(texts):
            matches = automaton_match(text, self._automaton)
            tags = matches_to_iob(text, matches, self.term_types)
            for ti, tag in enumerate(tags):
                if tag != "O":
                    # +1: position 0 is [CLS]
                    out[bi, ti + 1, self.label_vocab.stoi[tag]] = 1.0
        return out


class NumpyTokenClassifier:
    """Executable real-model path: the BertForTokenClassification forward in
    numpy over a broadcast state dict (``operators/bert_numpy.py``), driven
    through the same tokenize → [CLS] → pad → forward → argmax machinery as
    the reference (``BERT/Model.py:295-327``). HF key names/shapes, so a
    trained checkpoint's tensors drop in unchanged; random-init works for
    structure/parity testing in this torch-less sandbox."""

    def __init__(self, state_dict: dict, tokenizer: "CharTokenizer"):
        self.state_dict = state_dict
        self.tokenizer = tokenizer
        self._packed = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_packed"] = None  # re-packed lazily on each executor
        return state

    def logits(self, texts: list[str], padded_len: int) -> np.ndarray:
        from .bert_numpy import pack_state, packed_token_logits

        B = len(texts)
        ids = np.zeros((B, padded_len), np.int64)  # [PAD]=0 right-padding
        mask = np.zeros((B, padded_len), np.float32)
        for bi, t in enumerate(texts):
            enc = self.tokenizer.encode(self.tokenizer.tokenize(t))[:padded_len]
            ids[bi, : len(enc)] = enc
            mask[bi, : len(enc)] = 1.0
        if self._packed is None:
            self._packed = pack_state(self.state_dict)
        return packed_token_logits(self._packed, ids, mask)


def classifier_from_checkpoint(path: str):
    """(NumpyTokenClassifier, LabelVocab) from a self-describing ``.npz``
    checkpoint (``bert_numpy.save_checkpoint`` with bundled vocabularies) —
    the file a training run exports and ``run_pipeline.py --checkpoint``
    loads at spark-submit time. The tensors are used exactly as stored;
    tokenizer/label id tables restore verbatim so ids line up with the
    trained embedding/classifier rows."""
    from .bert_numpy import load_checkpoint

    sd = load_checkpoint(path)
    try:
        tok_itos = [str(t) for t in sd.pop("_meta.tokenizer_itos")]
        label_itos = [str(t) for t in sd.pop("_meta.label_itos")]
    except KeyError as e:
        raise ValueError(
            f"{path}: checkpoint has no bundled vocabularies ({e}); save it "
            "with save_checkpoint(sd, path, tokenizer_itos=..., "
            "label_itos=...) or construct NumpyTokenClassifier directly"
        ) from None
    kind = (
        str(sd.pop("_meta.tokenizer_kind")[0])
        if "_meta.tokenizer_kind" in sd
        else "char"
    )
    if kind == "wordpiece":
        from ..oracle.wordpiece import WordPieceTokenizer

        tokenizer = WordPieceTokenizer.from_itos(tok_itos)
    elif kind == "char":
        tokenizer = CharTokenizer.from_itos(tok_itos)
    else:
        raise ValueError(f"{path}: unknown tokenizer_kind {kind!r}")
    return NumpyTokenClassifier(sd, tokenizer), LabelVocab.from_itos(label_itos)


class TorchTokenClassifier:
    """torch adapter (torch absent in this sandbox — see
    :class:`NumpyTokenClassifier` for the executable twin with identical
    state-dict layout).

    Holds a broadcastable state_dict + config; loads the module once per
    executor python worker (module-level cache), runs ``no_grad`` forward.
    """

    def __init__(self, state_dict_bytes: bytes, num_labels: int):
        self.state_dict_bytes = state_dict_bytes
        self.num_labels = num_labels
        self._model = None

    def logits(self, texts: list[str], padded_len: int) -> np.ndarray:
        raise NotImplementedError(
            "torch is not available in this environment; use "
            "NumpyTokenClassifier (same BertForTokenClassification state-dict "
            "layout, numpy forward) or DictionaryStubModel. This adapter "
            "exists so a trained torch checkpoint can be dropped in without "
            "touching the pipeline."
        )


def _infer_rows(rows, mdl, vocab, batch_size: int, max_len: int, out: dict):
    """Shared batched-inference kernel over (url, sent_id, raw_sent) rows.

    Applies han_to_zen, length-sorted sub-batching (padding-efficiency trick
    of ``BERT/data_utils.py:66-97``), forward, argmax, [CLS] drop, trim,
    BIO decode; appends mention fields into ``out`` column lists.

    Sub-token alignment: when the model's tokenizer exposes
    ``tokenize_with_spans`` (the WordPiece path — a char can expand to 2+
    pieces, ``BERT/Model.py:377-381``), labels come back per PIECE; the
    decode runs at piece granularity and the spans are lifted to character
    offsets through the tokenizer's alignment table, so the emitted mention
    schema is identical to the char path (char start/end into the processed
    sentence, word = the covered text).
    """
    texts = [han_to_zen(r[2]) for r in rows]
    spanner = getattr(getattr(mdl, "tokenizer", None), "tokenize_with_spans", None)
    prefix, types, type_names = vocab.bio_tables()
    order = sorted(range(len(texts)), key=lambda i: -len(texts[i]))
    for ofs in range(0, len(order), batch_size):
        idxs = order[ofs : ofs + batch_size]
        chunk = [texts[i][: max_len - 1] for i in idxs]
        if spanner is not None:
            # cap at max_len-1 PIECES (position table is max_len long incl.
            # [CLS]); the same truncated id sequence is what mdl.logits
            # builds from chunk, so labels and alignment stay in lockstep
            chunk_spans = [spanner(c)[: max_len - 1] for c in chunk]
            lengths = [len(s) for s in chunk_spans]
        else:
            chunk_spans = None
            lengths = [len(c) for c in chunk]
        padded = max(lengths, default=0) + 1  # +[CLS]
        logits = mdl.logits(chunk, padded)
        pred_ids = logits.argmax(axis=2)[:, 1:]  # drop [CLS] position
        span_rows, starts, ends, tcodes = bio_spans(pred_ids, lengths, prefix, types)
        for row, s, e, tc in zip(
            span_rows.tolist(), starts.tolist(), ends.tolist(), tcodes.tolist()
        ):
            if chunk_spans is not None:  # piece offsets -> char offsets
                tbl = chunk_spans[row]
                s, e = tbl[s][1], tbl[e - 1][2]
            url, sent_id, _ = rows[idxs[row]]
            out["url"].append(url)
            out["sent_id"].append(int(sent_id))
            out["start"].append(s)
            out["end"].append(e)
            out["type"].append(type_names[tc])
            out["word"].append(chunk[row][s:e])


def _model_tagger(model, label_vocab: LabelVocab, batch_size: int):
    """The model as a ``_mention_stage`` tagger."""

    def tag(rows: list[tuple], out: dict[str, list]) -> None:
        _infer_rows(rows, model, label_vocab, batch_size, MAX_LEN, out)

    return tag


def ner_sentences(
    sentences: DataFrame,
    model,
    label_vocab: LabelVocab,
    batch_size: int = 8,
) -> DataFrame:
    """The NER mapInPandas stage over a sentences table. Null and empty
    sentences are skipped; a sentence longer than ``MAX_LEN - 1`` tokens is
    truncated, not dropped."""
    return _mention_stage(
        sentences, _sentence_rows, _model_tagger, model, label_vocab, batch_size
    )


def ner_pages(
    pages: DataFrame,
    model,
    label_vocab: LabelVocab,
    batch_size: int = 8,
    lang_filter: str | None = "ja",
) -> DataFrame:
    """Fused pages → mentions via the model path: preprocess + sentence
    split + batched inference + BIO decode in ONE Arrow stage (one Python
    runner section per Spark stage — see operators/tagger.extract_mentions
    for why fusion matters at high parallelism). html→text fallback for
    null-text rows happens inside the same section (null-gated JVM-side, so
    text rows never ship html bytes through Arrow)."""
    return _mention_stage(
        _pages_text_source(pages, lang_filter),
        _page_rows,
        _model_tagger,
        model,
        label_vocab,
        batch_size,
    )
