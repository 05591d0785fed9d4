"""Tests for the scale-path variants: fused extractors, hybrid normalizer,
single-shuffle triples, streaming."""

import pytest

from bert_namedentityrecognition_spark.sources import fixtures


@pytest.fixture(scope="module")
def corpus():
    return fixtures.generate_pages(n_docs=120, seed=11)


@pytest.fixture(scope="module")
def term_types():
    return fixtures.pipeline_term_types()


def test_fused_extract_equals_two_step(spark, corpus, term_types):
    from bert_namedentityrecognition_spark.operators.sentences import pages_to_sentences
    from bert_namedentityrecognition_spark.operators.tagger import (
        extract_mentions,
        tag_sentences,
    )

    pages = fixtures.pages_to_spark(spark, corpus)
    fused = {tuple(r) for r in extract_mentions(pages, term_types).collect()}
    two_step = {
        tuple(r) for r in tag_sentences(pages_to_sentences(pages), term_types).collect()
    }
    assert fused == two_step
    assert len(fused) > 50


def test_ner_pages_equals_extract_mentions(spark, corpus, term_types):
    from bert_namedentityrecognition_spark.operators.ner import (
        DictionaryStubModel,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions

    pages = fixtures.pages_to_spark(spark, corpus)
    vocab = label_vocab_for_types(list(term_types.values()))
    model = DictionaryStubModel(term_types, vocab)
    via_model = {tuple(r) for r in ner_pages(pages, model, vocab).collect()}
    via_gazetteer = {tuple(r) for r in extract_mentions(pages, term_types).collect()}
    assert via_model == via_gazetteer


def test_hybrid_normalizer_driver_equals_distributed(spark, corpus, term_types):
    from bert_namedentityrecognition_spark.operators.normalize import (
        normalize_mentions,
        normalize_surfaces,
    )
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions

    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    mentions = extract_mentions(pages, term_types)
    cols = ["word", "type", "canonical", "entity_id", "code", "score", "method"]
    driver_side = {
        tuple(r)
        for r in normalize_mentions(mentions, dim, 70.0).select(*cols).distinct().collect()
    }
    surfaces = mentions.select("word", "type").distinct()
    distributed = [tuple(r) for r in normalize_surfaces(surfaces, dim, 70.0).collect()]
    assert len(distributed) == len(set(distributed))  # one row per surface
    assert driver_side == set(distributed)
    assert any(r[6] == "fuzzy" and r[2] != "" for r in driver_side)


def test_triples_multiplicity_without_dedup(spark):
    """Without remove_duplicates the per-doc multiplicities multiply
    (reference from_lists counts every co-occurrence)."""
    from bert_namedentityrecognition_spark.operators.triples import build_triples

    mentions = spark.createDataFrame(
        [
            ("u1", 0, 0, 2, "drug", "薬A"),
            ("u1", 0, 5, 7, "drug", "薬A"),
            ("u1", 1, 0, 2, "symptom", "頭痛"),
            ("u1", 2, 0, 2, "symptom", "頭痛"),
            ("u1", 3, 0, 2, "symptom", "発熱"),
        ],
        ["url", "sent_id", "start", "end", "type", "word"],
    )
    got = {
        (r.subj, r.obj): r["count"]
        for r in build_triples(
            mentions, remove_duplicates=False, use_canonical=False
        ).collect()
    }
    assert got == {("薬A", "頭痛"): 4, ("薬A", "発熱"): 2}
    got_dedup = {
        (r.subj, r.obj): r["count"]
        for r in build_triples(
            mentions, remove_duplicates=True, use_canonical=False
        ).collect()
    }
    assert got_dedup == {("薬A", "頭痛"): 1, ("薬A", "発熱"): 1}


def test_triples_sentence_scope(spark):
    from bert_namedentityrecognition_spark.operators.triples import build_triples

    mentions = spark.createDataFrame(
        [
            ("u1", 0, 0, 2, "drug", "薬A"),
            ("u1", 0, 5, 7, "symptom", "頭痛"),
            ("u1", 1, 0, 2, "symptom", "発熱"),  # other sentence → not paired
        ],
        ["url", "sent_id", "start", "end", "type", "word"],
    )
    got = {
        (r.subj, r.obj)
        for r in build_triples(
            mentions, scope="sentence", use_canonical=False, emit_no_symptoms=False
        ).collect()
    }
    assert got == {("薬A", "頭痛")}


def test_streaming_triples_available_now(spark, tmp_path, corpus, term_types):
    """Structured Streaming variant: file stream → mentions parquet sink with
    checkpoint; availableNow drains the source exactly once."""
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
        start_mentions_sink,
        stream_pages,
        streaming_mentions,
    )

    pages = fixtures.pages_to_spark(spark, corpus)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    stream = stream_pages(spark, src, pages.schema)
    mentions_stream = streaming_mentions(stream, term_types)
    q = start_mentions_sink(
        mentions_stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {tuple(r) for r in extract_mentions(pages, term_types).collect()}
    assert got == want

    # resume idempotency: restarting with the same checkpoint adds nothing
    q2 = start_mentions_sink(
        streaming_mentions(stream_pages(spark, src, pages.schema), term_types),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    again = {tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert again == want


def test_worker_dim_index_built_once_per_worker(spark):
    """The per-worker dimension index behind ``normalize_surfaces`` and
    ``streaming_pairs`` is built once per Python worker process: every task
    a reused worker runs sees the same index object, not a rebuild."""
    import os

    import pandas as pd

    from bert_namedentityrecognition_spark.operators.normalize import (
        _broadcast_dim,
        _worker_dim_index,
    )

    bdim = _broadcast_dim(spark.sparkContext, fixtures.generate_entity_dim())

    def run(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "idx": [id(_worker_dim_index(bdim))]})

    # idle workers are taken first-in first-out, so the task count must
    # exceed the idle pool earlier stages left behind for any to be reused
    rows = spark.range(0, 96, numPartitions=96).mapInPandas(
        run, "pid long, idx long"
    ).collect()
    assert len(rows) == 96
    by_pid: dict[int, set[int]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, set()).add(r.idx)
    assert len(by_pid) < len(rows), "no worker ran two tasks; nothing was checked"
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


def test_html_fallback_parity_across_paths(spark):
    """The three pages→mentions paths (two-step sentences→tagger, fused
    gazetteer, fused model) must agree on html-only pages too."""
    from bert_namedentityrecognition_spark.operators.ner import (
        DictionaryStubModel,
        label_vocab_for_types,
        ner_pages,
    )
    from bert_namedentityrecognition_spark.operators.sentences import (
        pages_to_sentences,
    )
    from bert_namedentityrecognition_spark.operators.tagger import (
        extract_mentions,
        tag_sentences,
    )
    from bert_namedentityrecognition_spark.sources import fixtures

    tt = fixtures.pipeline_term_types()
    terms = list(tt.items())
    d = terms[0][0]
    s = [t for t, k in terms if k != terms[0][1]][0]
    html = f"<html><body><p>{d}を飲んだ。</p><p>{s}が出た。</p></body></html>".encode()
    pages = spark.createDataFrame(
        [("h1", None, html, None, "ja"), ("t1", None, None, f"{d}と{s}。", "ja")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    key = lambda r: (r.url, r.sent_id, r.start, r.end, r.type, r.word)
    two_step = sorted(
        map(key, tag_sentences(pages_to_sentences(pages), tt).collect())
    )
    fused = sorted(map(key, extract_mentions(pages, tt).collect()))
    vocab = label_vocab_for_types(list(tt.values()))
    model = DictionaryStubModel(tt, vocab)
    model_path = sorted(map(key, ner_pages(pages, model, vocab).collect()))
    assert two_step == fused == model_path
    assert any(r[0] == "h1" for r in fused), "html-only page missing"
