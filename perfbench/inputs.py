"""Seeded benchmark inputs and the expectations their outputs are checked
against. Pure Python plus pyarrow: nothing here starts Spark, so input
generation stays outside every timed region and outside ``setup_s``.

Inputs are cached under the work directory by (kind, pages, seed); the
program only ever receives the files written here.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

from bert_namedentityrecognition_spark.oracle.ade import ade_pairs_from_lists
from bert_namedentityrecognition_spark.oracle.matcher import (
    automaton_match,
    build_automaton,
)
from bert_namedentityrecognition_spark.oracle.normalize import DictNormalizer
from bert_namedentityrecognition_spark.oracle.textproc import (
    han_to_zen,
    preprocess_text,
    split_sentences,
)
from bert_namedentityrecognition_spark.sources import fixtures

PRED = "HAS_ADVERSE_EVENT"  # build_triples' default predicate
NORMALIZE_THRESHOLD = 70.0  # run_kg_pipeline / resume_run default
PARQUET_PARTS = 8
WARC_SEGMENT_PAGES = 500
BENCH_SENTENCES = 2048  # sentences kept for the driver-side forward microbench
DONE = "_DONE"


def input_dir(work: str, kind: str, n_pages: int, seed: int) -> str:
    return os.path.join(work, "inputs", f"{kind}-{n_pages}-{seed}")


def ensure_inputs(work: str, kind: str, n_pages: int, seed: int) -> str:
    """Write the seeded input once; later runs with the same key reuse it."""
    d = input_dir(work, kind, n_pages, seed)
    if os.path.exists(os.path.join(d, DONE)):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "pages"))
    if kind == "parquet":
        texts = _write_parquet_pages(os.path.join(d, "pages"), n_pages, seed)
    elif kind == "warc":
        texts = _write_warc_pages(os.path.join(d, "pages"), n_pages, seed, d)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    with open(os.path.join(d, "sentences.json"), "w") as f:
        json.dump(_first_sentences(texts), f, ensure_ascii=False)
    open(os.path.join(d, DONE), "w").close()
    return d


def _first_sentences(texts) -> list[str]:
    """The pipeline's sentence split of the first pages, han_to_zen-folded,
    up to ``BENCH_SENTENCES`` sentences of at most 512 chars."""
    out: list[str] = []
    for text in texts:
        for sent in split_sentences(preprocess_text(text or "")):
            if len(sent) <= 512:
                out.append(han_to_zen(sent))
        if len(out) >= BENCH_SENTENCES:
            break
    return out[:BENCH_SENTENCES]


def _write_parquet_pages(d: str, n_pages: int, seed: int) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    rows = fixtures.generate_pages(n_pages, seed, min_sents=4, max_sents=12)
    for k in range(PARQUET_PARTS):
        part = rows[k::PARQUET_PARTS]
        pq.write_table(
            pa.Table.from_pylist(part, schema=schema),
            os.path.join(d, f"part-{k:03d}.parquet"),
        )
    return [r["text"] for r in rows]


def _write_warc_pages(d: str, n_pages: int, seed: int, meta_dir: str) -> list:
    """WARC segments of ``WARC_SEGMENT_PAGES`` records, every second one
    gzipped, plus ``expected_triples.json`` computed from the generator's
    ground-truth sentences."""
    rows = fixtures.generate_warc_corpus(n_pages, seed)
    for idx, start in enumerate(range(0, n_pages, WARC_SEGMENT_PAGES)):
        blob = b"".join(
            fixtures.warc_record_bytes(r["url"], r["ts"], r["html"])
            for r in rows[start : start + WARC_SEGMENT_PAGES]
        )
        if idx % 2:
            path, data = f"seg{idx:04d}.warc.gz", gzip.compress(blob, mtime=0)
        else:
            path, data = f"seg{idx:04d}.warc", blob
        with open(os.path.join(d, path), "wb") as f:
            f.write(data)
    with open(os.path.join(meta_dir, "expected_triples.json"), "w") as f:
        json.dump(expected_warc_triples(rows), f, ensure_ascii=False)
    return [r["text"] for r in rows]


def _dictionary():
    """(automaton, surface → type, kind → normalizer, surface → canonical)
    over the dictionary the pipeline runs with."""
    term_types = {han_to_zen(k): v for k, v in fixtures.pipeline_term_types().items()}
    dim = fixtures.generate_entity_dim()
    canonical = {han_to_zen(r["surface"]): r["canonical"] for r in dim}
    normalizers = {
        kind: DictNormalizer(
            {r["surface"] for r in dim if r["kind"] == kind},
            threshold=NORMALIZE_THRESHOLD,
        )
        for kind in {r["kind"] for r in dim}
    }
    return build_automaton(list(term_types)), term_types, normalizers, canonical


def _canonical_of(normalizers, canonical, word: str, kind: str) -> str:
    surface, _ = normalizers[kind].normalize(word)
    return canonical[surface] if surface else ""


def triples_from_mentions(per_doc: list[tuple[list[str], list[str]]]) -> list[list]:
    """Oracle triples from per-document (drug words, symptom words) lists:
    symptoms resolve to their canonical name through the fuzzy top-1
    normalizer, drugs pair by their raw surface."""
    _, _, normalizers, canonical = _dictionary()
    cache: dict[str, str] = {}

    def norm(word: str) -> str:
        if word not in cache:
            cache[word] = _canonical_of(normalizers, canonical, word, "symptom")
        return cache[word]

    counts = ade_pairs_from_lists(
        [d for d, _ in per_doc],
        [s for _, s in per_doc],
        remove_duplicates=True,
        normalize=norm,
    )
    return sorted([subj, PRED, obj, n] for (subj, obj), n in counts.items())


def expected_warc_triples(rows: list[dict]) -> list[list]:
    """Triples the gazetteer pipeline must produce from the WARC corpus,
    derived from the ground-truth title and sentence strings (never from
    the extractor) with the pure-Python matcher and ADE kernels."""
    automaton, term_types, _, _ = _dictionary()
    per_doc = []
    for r in rows:
        drugs, syms = [], []
        for sent in [r["title"]] + r["sents"]:
            for _, _, term in automaton_match(han_to_zen(sent), automaton):
                (drugs if term_types[term] == "drug" else syms).append(term)
        if drugs or syms:
            per_doc.append((drugs, syms))
    return triples_from_mentions(per_doc)
