"""The traced run: each layer boundary of the pipeline is materialized
(persisted and counted) inside its own span, so a layer's busy time is the
work of that layer alone. The traced chain is timed as a whole and
compared with an untraced pass for ``trace.overhead_ratio``.

After the chain, side spans measure the layers the workload's own path
does not run, on the same pages: the other extractor (gazetteer on
``kg_bert``, the numpy BERT on the WARC workloads — the model-versus-
gazetteer contrast), ``prepare_pages`` on parquet pages, a single-thread
driver microbench of ``NumpyTokenClassifier.logits``, and a crash plus
resume through ``plans.ledger.resume_run``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from child import build_model, check_ledger
from inputs import WARC_SEGMENT_PAGES
from tracing import (
    LAYER_METRICS,
    OUTPUT_ROWS,
    PY_BOOT,
    PY_RECV,
    PY_RUN,
    PY_SENT,
    PYTHON_NODES,
    SHUFFLE_WRITTEN,
    SqlMetrics,
    Tracer,
)

MB = 1e6
BERT_BATCH = 8  # ner_pages' default batch size
BERT_REPEATS = 3
CONTRAST_SEGMENTS = 8  # WARC segments the model contrast runs on


def _keep(kept: list, df):
    df = df.persist()
    kept.append(df)
    return df


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


def _extract(wl, extractor: str, pages, model=None, vocab=None):
    if extractor == "ner":
        from bert_namedentityrecognition_spark.operators.ner import ner_pages

        return ner_pages(pages, model, vocab, lang_filter=wl.lang)
    from bert_namedentityrecognition_spark.operators.tagger import extract_mentions

    return extract_mentions(pages, wl.term_types, lang_filter=wl.lang)


def traced_chain(wl, tr: Tracer, out: str, m: dict) -> list:
    """The workload's pipeline, one materialized boundary per span."""
    from bert_namedentityrecognition_spark.operators.normalize import normalize_mentions
    from bert_namedentityrecognition_spark.operators.sentences import prepare_pages
    from bert_namedentityrecognition_spark.operators.triples import (
        build_graph,
        build_triples,
    )
    from bert_namedentityrecognition_spark.plans.pipeline import write_outputs
    from bert_namedentityrecognition_spark.sources.readers import read_warc

    kept: list = []
    warc = wl.cfg["kind"] == "warc"
    with tr.span("readers"):
        raw = read_warc(wl.spark, wl.pages_dir) if warc else wl.spark.read.parquet(wl.pages_dir)
        pages = _keep(kept, raw)
        m["readers.pages"] = pages.count()
    if warc:
        with tr.span("sentences"):
            pages = _keep(kept, prepare_pages(pages))
            m["sentences.pages_with_text"] = _count_with_text(pages)
    extractor = "ner" if wl.model is not None else "tagger"
    with tr.span(extractor):
        mentions = _keep(kept, _extract(wl, extractor, pages, wl.model, wl.vocab))
        m[f"{extractor}.mentions"] = mentions.count()
    with tr.span("normalize"):
        normalized = _keep(kept, normalize_mentions(mentions, wl.dim))
        row = normalized.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("canonical") != "", 1)).alias("resolved"),
            F.countDistinct("word", "type").alias("surfaces"),
        ).collect()[0]
        m["normalize.distinct_surfaces"] = row["surfaces"]
        m["normalize.resolved_ratio"] = row["resolved"] / max(row["n"], 1)
    with tr.span("triples"):
        triples = _keep(kept, build_triples(normalized))
        row = triples.agg(F.count("*").alias("n"), F.sum("count").alias("s")).collect()[0]
        m["triples.rows"], m["triples.count_sum"] = row["n"], int(row["s"] or 0)
    with tr.span("graph"):
        graph = build_graph(normalized, wl.dim, triples)
        nodes, edges = _keep(kept, graph["nodes"]), _keep(kept, graph["edges"])
        m["graph.nodes"], m["graph.edges"] = nodes.count(), edges.count()
    with tr.span("sink"):
        write_outputs(
            {"mentions": mentions, "triples": triples, "nodes": nodes, "edges": edges}, out
        )
    m["sink.mb_written"] = _dir_mb(out)
    return kept


def _count_with_text(pages) -> int:
    return pages.agg(
        F.count(F.when(F.col("text").isNotNull() & (F.col("text") != ""), 1))
    ).collect()[0][0]


def side_spans(wl, tr: Tracer, out: str, m: dict, model, vocab) -> None:
    """Layers off the workload's own path, measured on the same pages."""
    from bert_namedentityrecognition_spark.operators.sentences import prepare_pages
    from bert_namedentityrecognition_spark.sources.readers import read_warc

    kept: list = []
    if wl.cfg["kind"] == "parquet":
        pages = _keep(kept, wl.read_pages())
        pages.count()
        with tr.span("sentences"):
            prepared = _keep(kept, prepare_pages(pages))
            m["sentences.pages_with_text"] = _count_with_text(prepared)
    else:
        # the model over the whole WARC input would double the traced run;
        # the contrast runs on the first segments only
        segs = ",".join(f"seg{i:04d}" for i in range(CONTRAST_SEGMENTS))
        pages = _keep(kept, prepare_pages(read_warc(wl.spark, f"{wl.pages_dir}/{{{segs}}}*")))
        pages.count()
    extractor = "tagger" if wl.model is not None else "ner"
    with tr.span(extractor):
        mentions = _keep(kept, _extract(wl, extractor, pages, model, vocab))
        m[f"{extractor}.mentions"] = mentions.count()
    for df in kept:
        df.unpersist()

    with tr.span("bert"):
        bert_microbench(wl.cfg["input"], model, m)

    m["ledger.buckets_skipped"] = wl.crash_and_resume(wl.read_pages(), out, tracer=tr)
    rows = check_ledger(out, wl.cfg["buckets"])
    m["ledger.bucket_s"] = statistics.median(r["wall_sec"] for r in rows)


def bert_microbench(input_dir: str, model, m: dict) -> None:
    """Single-thread driver forward over fixed length-sorted batches of the
    workload's first sentences (``inputs.BENCH_SENTENCES``); tokens
    include [CLS]."""
    with open(os.path.join(input_dir, "sentences.json")) as f:
        sents = sorted(json.load(f), key=len, reverse=True)
    batches = [sents[i : i + BERT_BATCH] for i in range(0, len(sents), BERT_BATCH)]
    real = sum(len(s) + 1 for s in sents)
    padded = sum((len(b[0]) + 1) * len(b) for b in batches)
    walls = []
    for _ in range(BERT_REPEATS):
        t0 = time.perf_counter()
        for b in batches:
            model.logits(b, len(b[0]) + 1)
        walls.append(time.perf_counter() - t0)
    m["bert.forward_tokens_per_s"] = real / statistics.median(walls)
    m["bert.pad_ratio"] = real / padded


def layer_metrics(tr: Tracer, m: dict, cfg: dict) -> dict:
    """Per-layer values of one traced pass from its spans and counters."""
    tr.collect_sql()
    for name in ("readers", "sentences", "tagger", "ner", "normalize", "triples", "graph", "sink"):
        m[f"{name}.busy_s"] = tr.busy_s(name)
    for name in ("readers", "tagger", "ner"):
        m[f"{name}.python_s"] = tr.sql_sum(name, PY_RUN, PYTHON_NODES)
    m["ner.python_boot_s"] = tr.sql_sum("ner", PY_BOOT, PYTHON_NODES)
    m["ner.arrow_mb_in"] = tr.sql_sum("ner", PY_SENT, PYTHON_NODES) / MB
    m["ner.arrow_mb_out"] = tr.sql_sum("ner", PY_RECV, PYTHON_NODES) / MB
    # the driver-side resolution path runs no Python stage
    m["normalize.driver_path"] = int(not tr.sql_nodes("normalize", PYTHON_NODES))
    m["triples.shuffle_mb"] = tr.sql_sum("triples", SHUFFLE_WRITTEN, ["Exchange"]) / MB
    m["ledger.crash_run_s"] = tr.busy_s("ledger.crash")
    m["ledger.resume_s"] = tr.busy_s("ledger.resume")
    # rows the scans of the input pages produced during crash + resume,
    # per input page; a WARC scan yields one row per segment file
    per_row = WARC_SEGMENT_PAGES if cfg["kind"] == "warc" else 1
    pages_dir = os.path.join(cfg["input"], "pages")
    scanned = sum(
        tr.sql_sum(s, OUTPUT_ROWS, ["Scan"], desc=pages_dir)
        for s in ("ledger.crash", "ledger.resume")
    )
    m["ledger.parses_per_page"] = scanned * per_row / cfg["pages"]
    return m


def traced_run(runner, cfg: dict) -> dict:
    wl = runner.wl
    sql = SqlMetrics(wl.spark)
    tr = Tracer(sql)
    # Python-worker start time of the cold first pass (warm passes reuse
    # the workers, so their start time is about 0)
    cold_boot_s = sum(
        m.get(PY_BOOT, 0.0)
        for _, nodes in sql.read_new()
        for n, _, m in nodes
        if n.startswith(PYTHON_NODES)
    )
    model, vocab = (wl.model, wl.vocab) if wl.model is not None else build_model()
    side_out = os.path.join(cfg["work_run"], "side")
    per_pass, base_walls, traced_walls = [], [], []
    t_start = time.perf_counter()
    while not per_pass or time.perf_counter() - t_start < cfg["seconds"]:
        i = len(per_pass)
        base = runner.one_pass(f"base-{i}")
        m: dict = {"spark.jobs_per_pass": base["jobs"], "spark.tasks_per_pass": base["tasks"]}
        tr.pass_id = f"traced-{i}"
        with tr.span("pass"):
            traced = runner.one_pass(tr.pass_id, lambda out: traced_chain(wl, tr, out, m))
        shutil.rmtree(side_out, ignore_errors=True)
        side_spans(wl, tr, side_out, m, model, vocab)
        wl.spark.catalog.clearCache()
        base_walls.append(base["wall_s"])
        traced_walls.append(traced["wall_s"])
        per_pass.append(layer_metrics(tr, m, cfg))
    tr.write(os.path.join(cfg["work_run"], "spans.json"))
    out = {
        k: statistics.median(p[k] for p in per_pass)
        for k, _ in LAYER_METRICS
        if k in per_pass[0]
    }
    out["trace.overhead_ratio"] = statistics.median(traced_walls) / statistics.median(base_walls)
    out["setup.python_boot_s"] = cold_boot_s
    return out
