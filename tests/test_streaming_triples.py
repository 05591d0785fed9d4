"""Streaming windowed triple counts: watermark + window aggregation."""


from bert_namedentityrecognition_spark.sources import fixtures


def test_streaming_triples_windowed_counts(spark, tmp_path):
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
        stream_pages,
        streaming_triples,
    )

    corpus = fixtures.generate_pages(100, seed=9)
    pages = fixtures.pages_to_spark(spark, corpus)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()

    agg = streaming_triples(
        stream_pages(spark, src, pages.schema), dim, tt, window="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("triples_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "select subj, obj, sum(count) as c from triples_stream group by subj, obj"
    ).collect()
    got_map = {(r.subj, r.obj): r.c for r in got}
    assert got_map, "stream produced no windowed counts"

    # batch equivalent over the same pages (document scope, dedup, canonical)
    from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline

    batch = run_kg_pipeline(pages, dim, tt)["triples"]
    want = {(r.subj, r.obj): r["count"] for r in batch.collect()}
    # summed across time windows, streaming counts must equal batch counts
    assert got_map == want


def _tiny_model(corpus):
    """Random-init numpy BERT over the corpus alphabet: 1 layer, hidden 32."""
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        CharTokenizer,
        NumpyTokenClassifier,
        label_vocab_for_types,
    )
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

    alphabet = sorted(
        {c for r in corpus if r["text"] for c in han_to_zen(r["text"])}
    )
    tok = CharTokenizer(alphabet)
    vocab = label_vocab_for_types(["drug", "symptom"])
    sd = init_token_classifier_state(
        vocab_size=len(tok.itos), num_labels=len(vocab.itos), hidden=32,
        layers=1, heads=2, intermediate=64, seed=13,
    )
    return NumpyTokenClassifier(sd, tok), vocab


def test_streaming_model_path_equals_batch(spark, tmp_path):
    """The real-model NER stage streams unchanged: streaming_mentions with
    a numpy-BERT checkpoint over micro-batches produces exactly the batch
    mention set (mapInPandas is stateless, weights broadcast once)."""
    from bert_namedentityrecognition_spark.operators.ner import ner_pages
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
        stream_pages,
        streaming_mentions,
    )

    corpus = fixtures.generate_pages(40, seed=3)
    pages = fixtures.pages_to_spark(spark, corpus)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    model, vocab = _tiny_model(corpus)

    m = streaming_mentions(
        stream_pages(spark, src, pages.schema), {}, model=model, label_vocab=vocab
    )
    q = (
        m.writeStream.format("memory")
        .queryName("model_mentions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.url, r.sent_id, r.start, r.end, r.type, r.word)
        for r in spark.sql("select * from model_mentions_stream").collect()
    }
    want = {
        (r.url, r.sent_id, r.start, r.end, r.type, r.word)
        for r in ner_pages(pages, model, vocab).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_model_tagger_counts_equal_batch(spark, tmp_path):
    """The page stage with the model tagger streams: its per-page pairs,
    counted in watermarked windows, sum to the batch pipeline's triples
    over the same pages and model."""
    from bert_namedentityrecognition_spark.plans.page_stage import page_kg
    from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
        page_pairs,
        stream_pages,
        windowed_counts,
    )

    corpus = fixtures.generate_pages(40, seed=3)
    pages = fixtures.pages_to_spark(spark, corpus)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)
    model, vocab = _tiny_model(corpus)
    dim = fixtures.entity_dim_to_spark(spark)

    page = page_kg(
        stream_pages(spark, src, pages.schema), [r.asDict() for r in dim.collect()], {},
        model=model, label_vocab=vocab, extra_cols=("warc_ts",),
    )
    q = (
        windowed_counts(page_pairs(page))
        .writeStream.format("memory")
        .queryName("model_triples_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.subj, r.obj): r.c
        for r in spark.sql(
            "select subj, obj, sum(count) as c from model_triples_stream group by subj, obj"
        ).collect()
    }
    batch = run_kg_pipeline(pages, dim, {}, model=model, label_vocab=vocab)
    want = {(r.subj, r.obj): r["count"] for r in batch["triples"].collect()}
    batch["page_kg"].unpersist()
    batch["triples"].unpersist()
    assert got == want and got


def test_streaming_pairs_follow_the_ade_oracle(spark):
    """``streaming_pairs`` pairs each page by ``oracle/ade.ade_pairs_from_lists``:
    a drug-only page gives (drug, No Symptoms), a symptom-only page gives
    nothing, and a page with duplicate mentions counts each distinct raw
    surface once with ``remove_duplicates`` (before normalization, so two
    surfaces of one symptom still count twice) and every occurrence
    without it. Both equal the oracle's document-scope counts."""
    from collections import Counter

    from bert_namedentityrecognition_spark.plans.oracle_pipeline import oracle_triples
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import streaming_pairs

    rows = [
        {"url": "u/drug-only", "text": "アスピリンを服用した。", "html": None},
        {"url": "u/symptom-only", "text": "頭痛がする。", "html": None},
        {
            "url": "u/duplicates",
            "text": "ロキソニンを服用後、頭痛が出現した。ロキソニンを再開し頭痛い状態が続き、発熱した。",
            "html": None,
        },
        {
            "url": "u/html-only",
            "text": None,
            "html": "<p>カロナールで嘔吐した。</p>".encode(),
        },
    ]
    for r in rows:
        r["lang"], r["warc_ts"] = "ja", None
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    dim_rows, tt = fixtures.generate_entity_dim(), fixtures.pipeline_term_types()
    for remove_duplicates in (True, False):
        got = Counter(
            (r.subj, r.obj)
            for r in streaming_pairs(
                pages, dim_rows, tt, remove_duplicates=remove_duplicates
            ).collect()
        )
        want = oracle_triples(rows, dim_rows, tt, remove_duplicates=remove_duplicates)
        assert got == Counter(want), remove_duplicates
        assert want[("アスピリン", "No Symptoms")] == 1
    assert want[("ロキソニン", "頭痛")] == 4  # 2 drug × 2 symptom occurrences
