"""Structured Streaming variant of the KG pipeline.

The reference is pure batch; its closest analogue is the chunked
append-per-1000-lines loop (``scripts/predict/predict_for_jst_data_parallel.py:57-79``)
— micro-batching with an append sink. Here that becomes a real
``readStream → transform → writeStream`` pipeline:

- source: file stream over a pages directory (parquet), i.e. new WARC drops
- the stateless stages (sentences → mentions → normalize) are the *same
  operator functions* as batch — they're plan builders, so they compose with
  streaming DataFrames unchanged
- triple counting is a watermarked windowed aggregation on ``warc_ts``
  (late pages beyond the watermark are dropped deterministically)
- sink: parquet append with checkpointLocation — the exactly-once
  resume/checkpoint story the reference's XML-append loop lacked
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tagger import extract_mentions


def stream_pages(spark: SparkSession, pages_dir: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def streaming_mentions(
    pages_stream: DataFrame,
    term_types: dict[str, str],
    model=None,
    label_vocab=None,
) -> DataFrame:
    """Stateless stages compose identically on a streaming DataFrame.

    With ``model``/``label_vocab`` the NER stage is the real model path
    (``ner_pages`` — fused preprocess + split + batched forward + BIO
    decode in one Arrow section, broadcast weights): ``mapInPandas`` is
    stateless, so the identical operator runs on micro-batches unchanged
    and the streaming mention set equals the batch one
    (tests/test_streaming_triples.py)."""
    if model is not None:
        from ..operators.ner import ner_pages

        return ner_pages(pages_stream, model, label_vocab)
    return extract_mentions(pages_stream, term_types)


def streaming_pairs(
    pages_stream: DataFrame,
    dim_rows: list[dict],
    term_types: dict[str, str],
    threshold: float = 70.0,
    remove_duplicates: bool = True,
    lang_filter: str | None = "ja",
) -> DataFrame:
    """pages stream → (warc_ts, subj, obj) pair rows, ONE Arrow stage.

    Streaming needs no pairing join at all: a page is a single row, so
    extract → normalize (``resolve_surfaces`` against the dimension index
    built once per worker) → per-doc dedup → all-pairs (+No Symptoms) are
    row-local. The pairing rules are the oracle's
    (``oracle/ade.ade_pairs_from_lists``, called per page), so they exist
    once. The only stateful operator left downstream is the windowed
    count — exactly the shape Structured Streaming supports without
    stream-stream joins.
    """
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.normalize import (
        _broadcast_dim,
        _worker_dim_index,
        resolve_surfaces,
    )
    from ..operators.sentences import _page_sentences, _pages_text_source
    from ..operators.tagger import _Gazetteer
    from ..oracle.ade import ade_pairs_from_lists

    sc = pages_stream.sparkSession.sparkContext
    bc = sc.broadcast(term_types)
    bdim = _broadcast_dim(sc, dim_rows)

    # the shared pages contract (rule 10): html→text fallback rows pass
    # through with _html set — a WARC-sourced stream carries text=None by
    # design, and a bare text filter would silently drop every page
    src = _pages_text_source(pages_stream, lang_filter, extra_cols=("warc_ts",))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gazetteer = _Gazetteer(bc.value, True)
        idx = _worker_dim_index(bdim)
        cache: dict[tuple[str, str], tuple] = {}

        def canon(word: str, mtype: str) -> str:
            key = (word, mtype)
            if key not in cache:
                cache[key] = resolve_surfaces([key], idx, threshold)[0]
            return cache[key][2] or ""

        def norm(word: str) -> str:
            return canon(word, "symptom").strip()

        for pdf in batches:
            ts_out, subj_out, obj_out = [], [], []
            for ts, text, hb in zip(pdf["warc_ts"], pdf["text"], pdf["_html"]):
                drugs: list[str] = []
                syms: list[str] = []
                for _, sent in _page_sentences(text, hb):
                    for _, _, ttype, word in gazetteer.spans(sent):
                        (drugs if ttype == "drug" else syms).append(word)
                pairs = ade_pairs_from_lists(
                    [drugs], [syms], remove_duplicates=remove_duplicates, normalize=norm
                )
                for (subj, obj), n in pairs.items():
                    ts_out += [ts] * n
                    subj_out += [subj] * n
                    obj_out += [obj] * n
            # explicit dtypes: a batch with no pair would otherwise infer
            # float64 columns, which Arrow cannot cast to timestamp
            yield pd.DataFrame(
                {
                    "warc_ts": pd.Series(ts_out, dtype="datetime64[ns]"),
                    "subj": pd.Series(subj_out, dtype=object),
                    "obj": pd.Series(obj_out, dtype=object),
                }
            )

    return src.mapInPandas(run, schema="warc_ts timestamp, subj string, obj string")


def streaming_triples(
    pages_stream: DataFrame,
    dim: DataFrame,
    term_types: dict[str, str],
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Windowed (subj, obj) counts with late-data handling: the row-local
    pair extraction above + exactly one watermarked streaming aggregation."""
    pairs = streaming_pairs(
        pages_stream, [r.asDict() for r in dim.collect()], term_types
    )
    return (
        pairs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "subj", "obj")
        .agg(F.count("*").alias("count"))
    )


def start_mentions_sink(
    mentions: DataFrame, out_dir: str, checkpoint_dir: str, trigger_once: bool = True
):
    """Append mentions to parquet with exactly-once checkpointing."""
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
