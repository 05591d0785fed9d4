"""One benchmark process: start Spark, run the untimed first pass (its end
marks ``setup_s``), then either timed passes or the traced run, and write
the result as JSON. Started by ``run.py``, once per run, in a fresh
interpreter so every run pays the set-up a spark-submit user pays.

    python3 perfbench/child.py RESULT.json CONFIG.json
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq


class CheckFailed(AssertionError):
    pass


# --- workload passes ----------------------------------------------------------


class Workload:
    """Builds the program's inputs (dictionary, model) once, then runs one
    pass per call through the package's public functions, the way
    ``scripts/run_pipeline.py`` drives them."""

    def __init__(self, spark, cfg: dict):
        from bert_namedentityrecognition_spark.sources import fixtures

        self.spark = spark
        self.cfg = cfg
        self.name = cfg["workload"]
        self.pages_dir = os.path.join(cfg["input"], "pages")
        self.dim = fixtures.entity_dim_to_spark(spark)
        self.term_types = fixtures.pipeline_term_types()
        self.lang = "ja" if cfg["kind"] == "parquet" else None
        self.model = self.vocab = None
        if self.name == "kg_bert":
            self.model, self.vocab = build_model()

    def read_pages(self):
        if self.cfg["kind"] == "parquet":
            return self.spark.read.parquet(self.pages_dir)
        from bert_namedentityrecognition_spark.operators.sentences import prepare_pages
        from bert_namedentityrecognition_spark.sources.readers import read_warc

        return prepare_pages(read_warc(self.spark, self.pages_dir))

    def run_pass(self, out: str) -> list:
        """One pass to written outputs; returns what to release afterwards."""
        if self.name == "kg_resume_warc":
            self.crash_and_resume(self.read_pages(), out)
            return []
        from bert_namedentityrecognition_spark.plans.pipeline import (
            run_kg_pipeline,
            write_outputs,
        )

        outs = run_kg_pipeline(
            self.read_pages(),
            self.dim,
            self.term_types,
            lang_filter=self.lang,
            model=self.model,
            label_vocab=self.vocab,
        )
        write_outputs(outs, out)
        return [outs["mentions"]]

    def crash_and_resume(self, pages, out: str, tracer=None) -> int:
        """``resume_run`` crashing after the middle bucket, then the rerun
        that commits the rest and writes triples. Returns the buckets the
        rerun skipped (committed before the crash)."""
        from bert_namedentityrecognition_spark.plans.ledger import (
            MetricsLedger,
            resume_run,
        )

        kw = dict(
            n_buckets=self.cfg["buckets"], write_triples=True, lang_filter=self.lang
        )
        with maybe_span(tracer, "ledger.crash"):
            try:
                resume_run(
                    self.spark, pages, self.dim, self.term_types, out,
                    fail_after_bucket=self.cfg["buckets"] // 2 - 1, **kw,
                )
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise CheckFailed("the injected crash did not fire")
        skipped = len(MetricsLedger(out).committed_buckets("mentions"))
        with maybe_span(tracer, "ledger.resume"):
            resume_run(self.spark, pages, self.dim, self.term_types, out, **kw)
        return skipped


# --- output checks: pyarrow reads of the written files, never Spark ---------


def check_outputs(cfg: dict, out: str) -> dict:
    """Checks one pass's written outputs; raises CheckFailed, else returns
    the counts later passes and runs must repeat."""
    name = cfg["workload"]
    triples = read_triples(os.path.join(out, "triples"))
    if name == "kg_resume_warc":
        check_ledger(out, cfg["buckets"])
    if cfg["kind"] == "warc":
        with open(os.path.join(cfg["input"], "expected_triples.json")) as f:
            expected = json.load(f)
        if triples != expected:
            raise CheckFailed(
                f"triples differ from the ground-truth expectation: "
                f"{len(triples)} rows vs {len(expected)} expected"
            )
    summary = {"triple_rows": len(triples), "count_sum": sum(t[3] for t in triples)}
    if name != "kg_resume_warc":
        edges = pq.read_table(os.path.join(out, "edges"), columns=["count"])
        if sum(edges.column("count").to_pylist()) != summary["count_sum"]:
            raise CheckFailed("edges count sum differs from triples count sum")
    if name == "kg_bert":
        from inputs import triples_from_mentions

        per_doc = mentions_per_doc(os.path.join(out, "mentions"))
        summary["mentions"] = sum(len(d) + len(s) for d, s in per_doc.values())
        if triples_from_mentions(list(per_doc.values())) != triples:
            raise CheckFailed("triples differ from the oracle over written mentions")
    return summary


def build_model():
    """Random-init numpy BERT token classifier: 2 layers, hidden 64, 4
    heads, FFN 256, char tokenizer over the fixture vocabulary."""
    from bert_namedentityrecognition_spark.operators.bert_numpy import (
        init_token_classifier_state,
    )
    from bert_namedentityrecognition_spark.operators.ner import (
        CharTokenizer,
        NumpyTokenClassifier,
        label_vocab_for_types,
    )
    from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen
    from bert_namedentityrecognition_spark.sources import fixtures as fx

    blank = dict(drug="", drug2="", symptom="", symptom2="")
    words = (
        fx.DRUGS + fx.SYMPTOMS + list(fx.NEAR_MISS) + list(fx.DRUGS_HALFWIDTH.values())
        + [t.format(**blank) for t in fx._TEMPLATES] + fx._FILLER
    )
    tok = CharTokenizer(sorted({c for w in words for c in han_to_zen(w)}))
    vocab = label_vocab_for_types(["drug", "symptom"])
    sd = init_token_classifier_state(
        vocab_size=len(tok.itos), num_labels=len(vocab.itos),
        hidden=64, layers=2, heads=4, intermediate=256, seed=0,
    )
    return NumpyTokenClassifier(sd, tok), vocab


def read_triples(path: str) -> list[list]:
    t = pq.read_table(path, columns=["subj", "pred", "obj", "count"]).to_pydict()
    return sorted([list(r) for r in zip(t["subj"], t["pred"], t["obj"], t["count"])])


def mentions_per_doc(path: str) -> dict[str, tuple[list, list]]:
    t = pq.read_table(path, columns=["url", "type", "word"]).to_pydict()
    docs: dict[str, tuple[list, list]] = {}
    for url, typ, word in zip(t["url"], t["type"], t["word"]):
        d = docs.setdefault(url, ([], []))
        (d[0] if typ == "drug" else d[1]).append(word)
    return docs


def check_ledger(out: str, buckets: int) -> list[dict]:
    """Every bucket committed exactly once across crash and rerun: the
    rerun skipped what the crashed run had committed."""
    from bert_namedentityrecognition_spark.plans.ledger import MetricsLedger

    rows = [r for r in MetricsLedger(out).rows() if r["stage"] == "mentions"]
    got = sorted(r["bucket"] for r in rows)
    if got != list(range(buckets)):
        raise CheckFailed(f"ledger mention commits {got}, expected each of 0..{buckets - 1} once")
    return rows


def maybe_span(tracer, name):
    from contextlib import nullcontext

    return tracer.span(name) if tracer is not None else nullcontext()


# --- passes, timing and the traced run ---------------------------------------


class Runner:
    def __init__(self, spark, cfg: dict):
        self.spark = spark
        self.cfg = cfg
        self.out = os.path.join(cfg["work_run"], "out")
        self.passes: list[dict] = []
        self.wl = Workload(spark, cfg)

    def one_pass(self, label: str, traced=None) -> dict:
        """Clear outputs, run and time one pass, then check it. Clearing,
        checking and cache release sit outside the timed region."""
        shutil.rmtree(self.out, ignore_errors=True)
        os.sync()  # no writeback of the last pass's files during this one
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        rec = {"label": label, "ok": False}
        t0 = time.perf_counter()
        try:
            release = traced(self.out) if traced else self.wl.run_pass(self.out)
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_wall"] = time.time()
            for df in release:
                df.unpersist()
            rec["summary"] = check_outputs(self.cfg, self.out)
            rec["ok"] = True
        except Exception as e:  # a failed pass is counted, the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec.setdefault("end_wall", time.time())
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        self.spark.catalog.clearCache()
        rec["jobs"], rec["tasks"] = job_counts(sc, label)
        self.passes.append(rec)
        return rec


def job_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            tasks += si.numCompletedTasks if si else 0
    return len(jobs), tasks


def main(result_path: str, config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)

    from bert_namedentityrecognition_spark.plans.session import build_session

    spark = build_session(
        app_name=f"perfbench-{cfg['workload']}",
        cores=cfg["cores"],
        warehouse_dir=os.path.join(cfg["work_run"], "warehouse"),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # plan descriptions keep full input paths, so the traced run can
            # tell scans of the input from scans of committed outputs
            "spark.sql.maxMetadataStringLength": "4096",
            # temp files in the work dir; no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']} -XX:-UsePerfData",
        },
    )
    result: dict = {"cores": cfg["cores"]}
    try:
        runner = Runner(spark, cfg)
        first = runner.one_pass("setup")
        # run.py stamps spawn_wall just before it starts this process
        result["setup_s"] = first["end_wall"] - cfg["spawn_wall"]
        if cfg["trace"]:
            from traced import traced_run

            result["layers"] = traced_run(runner, cfg)
        else:
            timed = [
                runner.one_pass(f"timed-{i}")["wall_s"] for i in range(cfg["timed_passes"])
            ]
            result["timed_walls"] = timed
            result["median_wall_s"] = statistics.median(timed)
        result["passes"] = runner.passes
    finally:
        spark.stop()
    with open(result_path, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1], sys.argv[2]))
