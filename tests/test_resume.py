"""Idempotent-resume gate (BASELINE.md): kill mid-run, rerun, identical
final triples, no duplicates."""

import pytest

from bert_namedentityrecognition_spark.plans.ledger import MetricsLedger, resume_run
from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline
from bert_namedentityrecognition_spark.sources import fixtures


def _triples_set(df):
    return {(r.subj, r.obj): r["count"] for r in df.collect()}


def test_kill_rerun_identical_triples(spark, tmp_path):
    corpus = fixtures.generate_pages(120, seed=5)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    base = str(tmp_path / "run")

    # single-shot ground truth (no bucketing)
    want = _triples_set(run_kg_pipeline(pages, dim, tt)["triples"])

    # first attempt dies after bucket 2
    with pytest.raises(RuntimeError, match="injected failure"):
        resume_run(spark, pages, dim, tt, base, n_buckets=6, fail_after_bucket=2)
    ledger = MetricsLedger(base)
    committed_first = ledger.committed_buckets("mentions")
    assert committed_first == {0, 1, 2}

    # rerun resumes from the ledger: only the remaining buckets process
    got = _triples_set(resume_run(spark, pages, dim, tt, base, n_buckets=6))
    assert got == want

    # no duplicate processing: exactly one committed ledger row per bucket
    rows = ledger.rows()
    assert len(rows) == 6
    assert sorted(r["bucket"] for r in rows) == list(range(6))
    assert sum(r["n_pages"] for r in rows) == len(corpus)

    # a third run is a full no-op on the mention stage yet returns the same
    got_again = _triples_set(resume_run(spark, pages, dim, tt, base, n_buckets=6))
    assert got_again == want
    assert len(ledger.rows()) == 6


PATTERNS = [("頭痛", "CAUSES_HEADACHE"), ("投与", "OBSERVED_AFTER_DOSE")]


def _patterned_set(spark, base):
    df = spark.read.parquet(f"{base}/triples_patterned")
    return {(r.subj, r.pred, r.obj): r["count"] for r in df.collect()}


def test_pred_patterns_resume_kill_rerun(spark, tmp_path):
    """r3 VERDICT #6: --pred-patterns with --resume — per-bucket preds
    commits under their own ledger stage; a mid-run kill + rerun yields
    patterned triples identical to the single-shot batch path."""
    from bert_namedentityrecognition_spark.operators.triples import (
        build_triples_patterned,
    )

    corpus = fixtures.generate_pages(120, seed=5)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    base = str(tmp_path / "run")

    out = run_kg_pipeline(pages, dim, tt)
    want = {
        (r.subj, r.pred, r.obj): r["count"]
        for r in build_triples_patterned(
            out["mentions"], out["sentences"], PATTERNS
        ).collect()
    }
    assert {p for (_, p, _) in want} > {"HAS_ADVERSE_EVENT"}  # patterns fire

    with pytest.raises(RuntimeError, match="injected failure"):
        resume_run(spark, pages, dim, tt, base, n_buckets=6,
                   fail_after_bucket=2, patterns=PATTERNS, write_triples=True)
    ledger = MetricsLedger(base)
    assert ledger.committed_buckets("preds") == {0, 1, 2}

    resume_run(spark, pages, dim, tt, base, n_buckets=6,
               patterns=PATTERNS, write_triples=True)
    assert _patterned_set(spark, base) == want
    # exactly one committed preds row per bucket — no duplicate processing
    assert sorted(
        r["bucket"] for r in ledger.rows() if r["stage"] == "preds"
    ) == list(range(6))


def test_pred_patterns_backfill_after_plain_run(spark, tmp_path):
    """Adding --pred-patterns to a run whose mentions already committed
    backfills ONLY the preds buckets (mentions ledger rows unchanged) and
    still matches the batch patterned output."""
    from bert_namedentityrecognition_spark.operators.triples import (
        build_triples_patterned,
    )

    corpus = fixtures.generate_pages(100, seed=9)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    base = str(tmp_path / "run")

    resume_run(spark, pages, dim, tt, base, n_buckets=4)
    ledger = MetricsLedger(base)
    n_mention_rows = len([r for r in ledger.rows() if r["stage"] == "mentions"])
    assert n_mention_rows == 4

    resume_run(spark, pages, dim, tt, base, n_buckets=4,
               patterns=PATTERNS, write_triples=True)
    assert ledger.committed_buckets("preds") == {0, 1, 2, 3}
    # mentions stage untouched by the backfill
    assert len([r for r in ledger.rows() if r["stage"] == "mentions"]) == 4

    out = run_kg_pipeline(pages, dim, tt)
    want = {
        (r.subj, r.pred, r.obj): r["count"]
        for r in build_triples_patterned(
            out["mentions"], out["sentences"], PATTERNS
        ).collect()
    }
    assert _patterned_set(spark, base) == want


def test_pred_patterns_change_forces_preds_recompute(spark, tmp_path):
    """Rerunning with DIFFERENT --pred-patterns must recompute the preds
    buckets (the ledger records the pattern spec per commit): the stale
    first-run predicate table must never be silently paired."""
    from bert_namedentityrecognition_spark.operators.triples import (
        build_triples_patterned,
    )

    corpus = fixtures.generate_pages(80, seed=7)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    base = str(tmp_path / "run")

    resume_run(spark, pages, dim, tt, base, n_buckets=3,
               patterns=PATTERNS, write_triples=True)
    first = _patterned_set(spark, base)

    new_patterns = [("投与", "DOSED_WITH")]
    resume_run(spark, pages, dim, tt, base, n_buckets=3,
               patterns=new_patterns, write_triples=True)
    got = _patterned_set(spark, base)

    out = run_kg_pipeline(pages, dim, tt)
    want = {
        (r.subj, r.pred, r.obj): r["count"]
        for r in build_triples_patterned(
            out["mentions"], out["sentences"], new_patterns
        ).collect()
    }
    assert got == want and got != first
    # ledger carries both specs: 3 buckets per distinct pattern set
    ledger = MetricsLedger(base)
    specs = {r["spec"] for r in ledger.rows() if r["stage"] == "preds"}
    assert len(specs) == 2


def test_rebucketing_rerun_is_correct(spark, tmp_path):
    """Changing n_buckets between runs must not reuse buckets committed
    under the old url→bucket assignment NOR union leftover bucket dirs:
    a 4-bucket run followed by a 2-bucket rerun yields exactly the
    single-shot triples (no double counting from stale bucket=2,3 dirs,
    no stale mod-4 content in buckets 0,1)."""
    corpus = fixtures.generate_pages(90, seed=3)
    pages = fixtures.pages_to_spark(spark, corpus)
    dim = fixtures.entity_dim_to_spark(spark)
    tt = fixtures.pipeline_term_types()
    base = str(tmp_path / "run")

    want = _triples_set(run_kg_pipeline(pages, dim, tt)["triples"])
    assert _triples_set(
        resume_run(spark, pages, dim, tt, base, n_buckets=4)
    ) == want
    got = _triples_set(resume_run(spark, pages, dim, tt, base, n_buckets=2))
    assert got == want
    # the rerun recomputed both mod-2 buckets (specs differ from the mod-4 run)
    ledger = MetricsLedger(base)
    specs = {r["spec"] for r in ledger.rows() if r["stage"] == "mentions"}
    assert len(specs) == 2


@pytest.mark.parametrize(
    "flag",
    [["--scope", "sentence"], ["--salt-buckets", "8"]],
    ids=["scope", "salt_buckets"],
)
def test_resume_rejects_batch_only_flags(flag, monkeypatch, capsys):
    """``resume_run`` counts document scope, unsalted: ``--resume`` with
    ``--scope`` or ``--salt-buckets`` exits with a usage error before
    Spark starts, instead of silently ignoring the flag."""
    from pyspark.sql import SparkSession

    from scripts.run_pipeline import main

    def no_spark(self):
        raise AssertionError("Spark was started")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    with pytest.raises(SystemExit) as exc:
        main(["--pages-dir", "/nonexistent", "--out", "/nonexistent/out", "--resume", *flag])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert f"{flag[0]} is not supported with --resume" in err
