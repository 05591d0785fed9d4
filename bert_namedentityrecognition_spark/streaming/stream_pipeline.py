"""Structured Streaming variant of the KG pipeline.

The reference is pure batch; its closest analogue is the chunked
append-per-1000-lines loop (``scripts/predict/predict_for_jst_data_parallel.py:57-79``)
— micro-batching with an append sink. Here that becomes a real
``readStream → transform → writeStream`` pipeline:

- source: file stream over a pages directory (parquet), i.e. new WARC drops
- the stateless stages are the *same operator functions* as batch —
  they're plan builders, so they compose with streaming DataFrames
  unchanged: the mention stage, and the batch pipeline's page stage
  (tag → resolve → per-page dedup), whose per-page lists pair row-locally
- triple counting is a watermarked windowed aggregation on ``warc_ts``
  (late pages beyond the watermark are dropped deterministically)
- sink: parquet append with checkpointLocation — the exactly-once
  resume/checkpoint story the reference's XML-append loop lacked
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tagger import extract_mentions
from ..operators.triples import explode_pairs
from ..plans.page_stage import page_kg


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
    """pages stream → (warc_ts, subj, obj) pair rows.

    The batch pipeline's page stage (``plans/page_stage.page_kg``: tag,
    resolve against the dimension index built once per worker, per-page
    dedup) with ``warc_ts`` passed through, then
    ``triples.explode_pairs`` over each page row: a page is one row here,
    so no url merge and no pairing join. The only stateful operator left
    downstream is the windowed count — exactly the shape Structured
    Streaming supports without stream-stream joins.
    """
    page = page_kg(
        pages_stream, dim_rows, term_types, threshold=threshold, lang_filter=lang_filter,
        remove_duplicates=remove_duplicates, extra_cols=("warc_ts",),
    )
    return page_pairs(page)


def page_pairs(page: DataFrame) -> DataFrame:
    """(warc_ts, subj, obj) pair rows of each row of a ``page_kg`` frame
    built with ``extra_cols=("warc_ts",)``."""
    return explode_pairs(page.select("warc_ts", F.inline("scopes")), keep=("warc_ts",))


def windowed_counts(pairs: DataFrame, watermark: str = "1 hour", window: str = "1 hour") -> DataFrame:
    """(warc_ts, subj, obj) pair rows → windowed (subj, obj) counts, late
    rows beyond the watermark dropped."""
    return (
        pairs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "subj", "obj")
        .agg(F.count("*").alias("count"))
    )


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
    return windowed_counts(pairs, watermark, window)


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
