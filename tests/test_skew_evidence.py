"""Skew-handling evidence (SURVEY §4 / north rule): a deliberately skewed
corpus — one drug surface in ~30% of pages and one hot (drug, symptom) cell
— must produce identical triples with and without explicit two-phase
salting, and the skew must actually be present in the data."""

from __future__ import annotations


def _skewed_pages(n: int = 1500, hot_share: float = 0.3):
    import random

    from bert_namedentityrecognition_spark.sources import fixtures

    rng = random.Random(11)
    rows = []
    n_hot = int(n * hot_share)
    for i in range(n):
        if i < n_hot:
            # the hot cell: same drug AND same symptom
            text = f"{fixtures.HOT_DRUG}を服用後、頭痛が出現した。"
        else:
            d = rng.choice(fixtures.DRUGS[1:])
            s = rng.choice(fixtures.SYMPTOMS[1:])
            text = f"{d}の投与により{s}を認めた。"
        rows.append((f"https://s/{i}", None, None, text, "ja"))
    return rows


def test_salted_pipeline_identical_on_skewed_corpus(spark):
    from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline
    from bert_namedentityrecognition_spark.sources import fixtures

    pages = spark.createDataFrame(
        _skewed_pages(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(8)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()

    plain = {
        (r.subj, r.obj): r["count"]
        for r in run_kg_pipeline(pages, dim, tt, salt_buckets=0, persist=False)[
            "triples"
        ].collect()
    }
    salted = {
        (r.subj, r.obj): r["count"]
        for r in run_kg_pipeline(pages, dim, tt, salt_buckets=16, persist=False)[
            "triples"
        ].collect()
    }
    assert plain == salted
    # the skew is real: one cell carries ~30% of all pages
    assert plain[(fixtures.HOT_DRUG, "頭痛")] >= 0.29 * 1500
    total = sum(plain.values())
    assert plain[(fixtures.HOT_DRUG, "頭痛")] / total >= 0.25


def test_reducer_split_salting_direction(spark):
    """r3 VERDICT #4: the salting claim rests on the per-reducer shuffle-row
    split, which is deterministic partitioner math (pmod(murmur3(keys), P)
    — exactly Spark's hash partitioning) and therefore cannot flip with
    host windows the way wall time did. Plain keys pin the hot cell's rows
    on one reducer; salted keys flatten max toward median."""
    import os
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _reducer_split

    from bert_namedentityrecognition_spark.operators.normalize import (
        normalize_mentions,
    )
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions
    from bert_namedentityrecognition_spark.operators.triples import build_pairs
    from bert_namedentityrecognition_spark.sources import fixtures

    pages = spark.createDataFrame(
        _skewed_pages(),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(8)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    pairs = build_pairs(
        normalize_mentions(extract_mentions(pages, tt), dim)
    ).persist()

    n_parts = 8
    plain = _reducer_split(pairs, ["subj", "obj"], n_parts)
    salted_pairs = pairs.withColumn("_salt", (F.rand(seed=42) * 32).cast("int"))
    salted = _reducer_split(salted_pairs, ["subj", "obj", "_salt"], n_parts)
    pairs.unpersist()

    assert plain["total_rows"] == salted["total_rows"] > 0
    # hot cell (~30% of rows) lands whole on one reducer under plain keys
    assert plain["max_share"] >= 0.29
    # salting strictly flattens: max drops, and lands near the median
    assert salted["max_rows"] < plain["max_rows"]
    assert salted["max_share"] < 0.25
    assert salted["max_rows"] <= 2 * max(salted["median_rows"], 1)
