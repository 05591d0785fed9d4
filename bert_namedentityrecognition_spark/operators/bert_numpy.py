"""Numpy BERT-for-token-classification forward — the executable model path.

The reference's inference core is ``BertForTokenClassification`` driven by
``BERT/Model.py:295-327``. torch is absent from this container, so this
module implements the same forward in numpy over a plain ``dict[str,
ndarray]`` state dict using the exact HF parameter names/shapes — a trained
checkpoint's tensors can be loaded into it unchanged, and the random-init
path makes the §2.6 operator genuinely executable and testable here.

Design for Spark:
- the state dict is broadcast once per executor (``SparkContext.broadcast``
  inside ``ner_sentences``/``ner_pages``); workers never re-deserialize per
  task;
- the weights are packed once per model (``pack_state``): Q/K/V fused into
  one ``[H, 3H]`` weight and ``[3H]`` bias, the dense/FFN/classifier
  weights pre-transposed and contiguous. Every linear is then one 2-D GEMM
  over the ``[B·T, H]`` activations. ``NumpyTokenClassifier`` packs lazily
  on the worker and leaves the packed arrays out of its pickle, so the
  broadcast carries the state dict only; ``bert_token_logits(sd, …)``
  packs per call and runs the same forward;
- all math is batched numpy (BLAS pinned to 1 thread in
  ``plans/session.py`` — rule: one math thread per Spark task);
- eval-mode semantics only (no dropout), matching ``model.eval()`` at
  ``BERT/Model.py:308``.

The activation follows the checkpoint's config: ``_meta.hidden_act`` in the
state dict (default ``"gelu"`` — the exact erf GELU stock
``BertForTokenClassification`` configs use; ``"gelu_new"`` selects the tanh
approximation some configs request). The exact GELU's erf is the
Abramowitz–Stegun 7.1.26 polynomial (max abs error 1.5e-7 ≈ float32 eps),
evaluated in the activation's own dtype — float32 on executors, float64 end to end for a
float64 state dict such as the SQL oracle's — so no scipy is needed and no
dtype round trip is paid.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "init_token_classifier_state",
    "bert_token_logits",
    "pack_state",
    "packed_token_logits",
    "bert_config_of",
    "save_checkpoint",
    "load_checkpoint",
]


def init_token_classifier_state(
    vocab_size: int,
    num_labels: int,
    hidden: int = 64,
    layers: int = 2,
    heads: int = 4,
    intermediate: int = 256,
    max_position: int = 512,
    seed: int = 0,
    hidden_act: str = "gelu",
) -> dict[str, np.ndarray]:
    """Random-init state dict with ``BertForTokenClassification`` key names
    and shapes (HF convention: Linear weights are [out, in]).
    ``hidden_act`` mirrors ``config.hidden_act`` and is carried in the state
    dict (``_meta.hidden_act``) so the forward replays the checkpoint's own
    activation."""
    rng = np.random.RandomState(seed)

    def w(*shape):
        return (rng.randn(*shape) * 0.02).astype(np.float32)

    def zeros(*shape):
        return np.zeros(shape, np.float32)

    def ones(*shape):
        return np.ones(shape, np.float32)

    sd: dict[str, np.ndarray] = {
        "bert.embeddings.word_embeddings.weight": w(vocab_size, hidden),
        "bert.embeddings.position_embeddings.weight": w(max_position, hidden),
        "bert.embeddings.token_type_embeddings.weight": w(2, hidden),
        "bert.embeddings.LayerNorm.weight": ones(hidden),
        "bert.embeddings.LayerNorm.bias": zeros(hidden),
        "classifier.weight": w(num_labels, hidden),
        "classifier.bias": zeros(num_labels),
    }
    for i in range(layers):
        p = f"bert.encoder.layer.{i}."
        for name in ("query", "key", "value"):
            sd[p + f"attention.self.{name}.weight"] = w(hidden, hidden)
            sd[p + f"attention.self.{name}.bias"] = zeros(hidden)
        sd[p + "attention.output.dense.weight"] = w(hidden, hidden)
        sd[p + "attention.output.dense.bias"] = zeros(hidden)
        sd[p + "attention.output.LayerNorm.weight"] = ones(hidden)
        sd[p + "attention.output.LayerNorm.bias"] = zeros(hidden)
        sd[p + "intermediate.dense.weight"] = w(intermediate, hidden)
        sd[p + "intermediate.dense.bias"] = zeros(intermediate)
        sd[p + "output.dense.weight"] = w(hidden, intermediate)
        sd[p + "output.dense.bias"] = zeros(hidden)
        sd[p + "output.LayerNorm.weight"] = ones(hidden)
        sd[p + "output.LayerNorm.bias"] = zeros(hidden)
    sd["_meta.heads"] = np.array([heads], np.int64)
    sd["_meta.hidden_act"] = np.array([hidden_act])
    return sd


def bert_config_of(sd: dict[str, np.ndarray]) -> dict:
    """Infer (layers, heads, hidden, num_labels, hidden_act) from a state
    dict. ``hidden_act`` defaults to ``"gelu"`` (exact erf — the stock
    ``BertConfig`` default) when the checkpoint carries no meta entry, as a
    real HF state dict won't."""
    layers = 0
    while f"bert.encoder.layer.{layers}.attention.self.query.weight" in sd:
        layers += 1
    hidden = sd["bert.embeddings.word_embeddings.weight"].shape[1]
    heads = int(sd["_meta.heads"][0]) if "_meta.heads" in sd else max(1, hidden // 64)
    act = str(sd["_meta.hidden_act"][0]) if "_meta.hidden_act" in sd else "gelu"
    return {
        "layers": layers,
        "heads": heads,
        "hidden": hidden,
        "num_labels": sd["classifier.weight"].shape[0],
        "hidden_act": act,
    }


def save_checkpoint(
    sd: dict[str, np.ndarray],
    path: str,
    tokenizer_itos: list[str] | None = None,
    label_itos: list[str] | None = None,
    tokenizer_kind: str | None = None,
) -> None:
    """Persist a state dict to ``.npz`` with key names preserved verbatim —
    the file-interchange twin of ``torch.save(model.state_dict())``. A torch
    checkpoint converted tensor-by-tensor to ndarrays round-trips through
    this format unchanged.

    Optionally bundles the tokenizer/label vocabularies
    (``_meta.tokenizer_itos`` / ``_meta.label_itos`` /
    ``_meta.tokenizer_kind`` ∈ {'char','wordpiece'}) so a single file is a
    complete, self-describing inference artifact — what
    ``classifier_from_checkpoint`` (operators/ner.py) and the
    ``run_pipeline.py --checkpoint`` launch mode consume."""
    extra: dict[str, np.ndarray] = {}
    if tokenizer_itos is not None:
        extra["_meta.tokenizer_itos"] = np.array(tokenizer_itos)
        extra["_meta.tokenizer_kind"] = np.array([tokenizer_kind or "char"])
    if label_itos is not None:
        extra["_meta.label_itos"] = np.array(label_itos)
    # Merge (explicit args win) so re-saving a dict that already carries
    # _meta.* keys from load_checkpoint doesn't raise duplicate-kwarg.
    np.savez_compressed(path, **{**sd, **extra})


def load_checkpoint(path: str) -> dict[str, np.ndarray]:
    """Load a ``.npz`` checkpoint back into a plain state dict; the arrays
    are materialized (no lazy file handle) so the dict is broadcast-safe."""
    with np.load(path, allow_pickle=False) as z:
        return {k: np.array(z[k]) for k in z.files}


def _layer_norm(x: np.ndarray, weight: np.ndarray, bias: np.ndarray, eps: float = 1e-12):
    n = x.shape[-1]
    x = x - np.add.reduce(x, axis=-1, keepdims=True) / n
    var = np.add.reduce(x * x, axis=-1, keepdims=True)
    var /= n
    var += eps
    x /= np.sqrt(var, out=var)
    x *= weight
    x += bias
    return x


# Abramowitz–Stegun 7.1.26: erfc(a) ≈ (a1·t + … + a5·t⁵)·exp(−a²) with
# t = 1/(1 + p·a), a ≥ 0 — max abs error 1.5e-7 ≈ float32 eps. The a_i are
# stored pre-divided by √2, the factor that turns a = |x|/√2 into ½|x|.
_AS_P = 0.3275911
_AS_A = tuple(
    c / math.sqrt(2.0)
    for c in (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
)


def _gelu_erf(x: np.ndarray) -> np.ndarray:
    """Exact GELU (HF ``"gelu"`` — the stock BertConfig default):
    ``x·Φ(x) = relu(x) − ½|x|·erfc(|x|/√2)`` with the A&S 7.1.26 erfc,
    evaluated in ``x``'s own dtype with in-place temporaries (this runs on
    the largest activation of the forward). Agrees with stdlib
    ``math.erf`` to within a few float32 ulp (asserted in tests); no scipy
    needed."""
    a = x * (1.0 / math.sqrt(2.0))
    np.abs(a, out=a)
    t = a * _AS_P
    t += 1.0
    np.reciprocal(t, out=t)
    q = t * _AS_A[4]
    for c in _AS_A[3::-1]:
        q += c
        q *= t
    e = np.square(a)
    np.negative(e, out=e)
    np.exp(e, out=e)
    q *= e
    q *= a  # ½|x|·erfc(|x|/√2)
    y = np.maximum(x, 0.0)
    y -= q
    return y


def _gelu_tanh(x: np.ndarray) -> np.ndarray:
    """Tanh approximation (HF ``"gelu_new"`` / ``"gelu_pytorch_tanh"``)."""
    return 0.5 * x * (1.0 + np.tanh(0.7978845608028654 * (x + 0.044715 * x**3)))


_ACTIVATIONS = {
    "gelu": _gelu_erf,
    "gelu_new": _gelu_tanh,
    "gelu_pytorch_tanh": _gelu_tanh,
    "relu": lambda x: np.maximum(x, 0.0),
}


def _dense(sd: dict, prefix: str) -> tuple[np.ndarray, np.ndarray]:
    """HF Linear ``[out, in]`` weight → contiguous ``[in, out]`` plus bias."""
    return np.ascontiguousarray(sd[prefix + ".weight"].T), sd[prefix + ".bias"]


def pack_state(sd: dict[str, np.ndarray]) -> dict:
    """Inference layout of a state dict, built once per model: per layer a
    fused Q/K/V weight ``[H, 3H]`` with bias ``[3H]`` and pre-transposed
    contiguous dense/FFN weights, plus the transposed classifier, so every
    linear of the forward is one 2-D GEMM over ``[B·T, H]``. The arrays
    keep the state dict's dtype."""
    cfg = bert_config_of(sd)
    try:
        act = _ACTIVATIONS[cfg["hidden_act"]]
    except KeyError:
        raise ValueError(
            f"unsupported hidden_act {cfg['hidden_act']!r}; "
            f"known: {sorted(_ACTIVATIONS)}"
        ) from None
    scale = math.sqrt(cfg["hidden"] // cfg["heads"])
    layers = []
    for i in range(cfg["layers"]):
        p = f"bert.encoder.layer.{i}."
        q, k, v = (p + f"attention.self.{n}" for n in ("query", "key", "value"))
        layers.append(
            {
                # the 1/√dh score scale folded into the query projection
                # (exact when √dh is a power of two, as for dh = 16 or 64)
                "qkv": (
                    np.ascontiguousarray(
                        np.concatenate(
                            [sd[q + ".weight"] / scale, sd[k + ".weight"], sd[v + ".weight"]]
                        ).T
                    ),
                    np.concatenate(
                        [sd[q + ".bias"] / scale, sd[k + ".bias"], sd[v + ".bias"]]
                    ),
                ),
                "attn_out": _dense(sd, p + "attention.output.dense"),
                "attn_ln": (
                    sd[p + "attention.output.LayerNorm.weight"],
                    sd[p + "attention.output.LayerNorm.bias"],
                ),
                "ffn_in": _dense(sd, p + "intermediate.dense"),
                "ffn_out": _dense(sd, p + "output.dense"),
                "out_ln": (
                    sd[p + "output.LayerNorm.weight"],
                    sd[p + "output.LayerNorm.bias"],
                ),
            }
        )
    return {
        "heads": cfg["heads"],
        "act": act,
        "word": sd["bert.embeddings.word_embeddings.weight"],
        "position": sd["bert.embeddings.position_embeddings.weight"],
        "token_type0": sd["bert.embeddings.token_type_embeddings.weight"][0],
        "emb_ln": (
            sd["bert.embeddings.LayerNorm.weight"],
            sd["bert.embeddings.LayerNorm.bias"],
        ),
        "layers": layers,
        "classifier": _dense(sd, "classifier"),
    }


def packed_token_logits(
    pk: dict,
    ids: np.ndarray,
    attention_mask: np.ndarray | None = None,
    out_dtype: np.dtype = np.float32,
) -> np.ndarray:
    """The forward over :func:`pack_state` weights; see
    :func:`bert_token_logits` for the contract."""
    B, T = ids.shape
    H = pk["word"].shape[1]
    heads = pk["heads"]
    dh = H // heads
    x = pk["word"][ids] + pk["position"][:T][None, :, :] + pk["token_type0"]
    x = _layer_norm(x.reshape(B * T, H), *pk["emb_ln"])
    if attention_mask is None:
        attention_mask = np.ones((B, T), x.dtype)
    ext_mask = (1.0 - attention_mask[:, None, None, :].astype(x.dtype)) * -10000.0

    for layer in pk["layers"]:
        w, b = layer["qkv"]
        qkv = x @ w
        qkv += b
        # [B·T, 3H] -> 3 × [B, heads, T, dh]
        q, k, v = qkv.reshape(B, T, 3, heads, dh).transpose(2, 0, 3, 1, 4)
        scores = q @ k.transpose(0, 1, 3, 2)
        scores += ext_mask
        scores -= scores.max(axis=-1, keepdims=True)
        np.exp(scores, out=scores)
        scores /= scores.sum(axis=-1, keepdims=True)
        ctx = (scores @ v).transpose(0, 2, 1, 3).reshape(B * T, H)
        w, b = layer["attn_out"]
        h = ctx @ w
        h += b
        h += x
        attn = _layer_norm(h, *layer["attn_ln"])
        w, b = layer["ffn_in"]
        inter = attn @ w
        inter += b
        inter = pk["act"](inter)
        w, b = layer["ffn_out"]
        h = inter @ w
        h += b
        h += attn
        x = _layer_norm(h, *layer["out_ln"])

    w, b = pk["classifier"]
    logits = x @ w
    logits += b
    return logits.reshape(B, T, -1).astype(out_dtype, copy=False)


def bert_token_logits(
    sd: dict[str, np.ndarray],
    ids: np.ndarray,
    attention_mask: np.ndarray | None = None,
    out_dtype: np.dtype = np.float32,
) -> np.ndarray:
    """ids [B, T] int → logits [B, T, num_labels] (``out_dtype``, default
    float32 — the executor dtype; the SQL-oracle margin check passes
    float64 so the asserted margins bound the PRE-cast gaps).

    Standard BERT encoder: (word + position + type-0) embeddings → LayerNorm
    → per layer (multi-head self-attention with additive −10⁴ pad mask,
    residual + LN, GELU FFN, residual + LN) → token classifier head —
    the ``BertForTokenClassification`` dataflow of ``BERT/Model.py:311-318``.
    Packs the weights (:func:`pack_state`) on every call; a caller that
    runs many batches packs once and calls :func:`packed_token_logits`.
    """
    return packed_token_logits(pack_state(sd), ids, attention_mask, out_dtype)
