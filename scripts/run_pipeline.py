"""spark-submit entry point for the KG construction pipeline.

    spark-submit --master local[8] --py-files kgspark.zip \
        scripts/run_pipeline.py --pages-dir /data/pages --out /data/kg \
        [--input-format parquet|warc] [--resume --buckets 64]
        [--dim-csv dim.csv] [--lang ja] [--checkpoint model.npz]

Without ``--resume``, one batch pass writes mentions/ triples/ nodes/
edges/ (``--pred-patterns`` adds triples_patterned/). With ``--resume`` the
job processes url-hash buckets through the metrics ledger (idempotent
restart from the last committed bucket) and writes mentions/ (one
bucket=K directory per url-hash bucket), triples/ and, with
``--pred-patterns``, triples_patterned/ (+ ledger.jsonl; the per-sentence
predicate table preds/ commits per url-bucket with the same ledger
idempotency as mentions); no nodes/ or edges/. It counts document scope,
unsalted: it rejects ``--scope`` and ``--salt-buckets``, as it rejects
``--checkpoint``.

Non-ASCII ``--pred-patterns`` values require a UTF-8 locale (``LANG=C.UTF-8``)
— the spark-submit JVM decodes argv with the platform charset and silently
mangles Japanese regexes to ``?`` under a POSIX locale.
The package ships via --py-files (zip) or an installed wheel — no driver-
local imports assumed beyond this file.
Python workers run the engine's BLAS environment (one BLAS thread, the
OpenBLAS core type of the CPU: ``plans/session.worker_blas_env``); a
``--conf spark.executorEnv.X=...`` or an ``X`` in the environment wins.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--pages-dir", required=True)
    p.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "warc"],
        help="parquet: a pages table; warc: raw Common Crawl segments "
        "(text derived via the html fallback)",
    )
    p.add_argument("--out", required=True)
    p.add_argument("--dim-csv", default=None)
    p.add_argument(
        "--prepare",
        action="store_true",
        help="run the crawl-prep stage first: fill text from html and "
        "lang via the n-gram heuristic (use with raw WARC input)",
    )
    p.add_argument(
        "--lang",
        default="ja",
        help="language filter; pass an empty string to disable (WARC input "
        "has no lang column values until a lang-ID stage fills them)",
    )
    p.add_argument("--threshold", type=float, default=70.0)
    p.add_argument("--scope", default="document", choices=["document", "sentence"])
    p.add_argument("--resume", action="store_true")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument(
        "--pred-patterns",
        default=None,
        help="pattern-based predicates: 'REGEX=NAME;REGEX=NAME' (ordered, "
        "first match wins, RE2-safe regexes over the sentence text); "
        "writes an additional triples_patterned/ output",
    )
    p.add_argument("--default-pred", default="HAS_ADVERSE_EVENT")
    p.add_argument(
        "--checkpoint",
        default=None,
        help="npz checkpoint with bundled vocabularies "
        "(bert_numpy.save_checkpoint): runs the NER stage with the real "
        "numpy BertForTokenClassification forward (broadcast weights) "
        "instead of the gazetteer matcher; batch mode only",
    )
    args = p.parse_args(argv)

    if args.input_format == "warc" and not args.prepare and args.lang:
        # raw WARC rows carry lang=NULL, so a lang filter drops EVERY page
        # and the job "succeeds" with zero triples — the silent-empty class
        # CLAUDE.md rule 17 records
        p.error(
            "--input-format warc with a --lang filter requires --prepare "
            "(raw WARC pages have no lang values until the lang-ID stage "
            "fills them); pass --prepare, or --lang '' to disable the filter"
        )

    if args.checkpoint and args.resume:
        p.error(
            "--checkpoint is not supported with --resume yet: the bucketed "
            "resume path drives the gazetteer matcher (run a batch pass)"
        )
    if args.resume and args.scope != "document":
        p.error(
            "--scope is not supported with --resume: the bucketed resume "
            "path counts document scope (run a batch pass)"
        )
    if args.resume and args.salt_buckets:
        p.error(
            "--salt-buckets is not supported with --resume: the bucketed "
            "resume path counts unsalted (run a batch pass)"
        )

    # validate up front: a spec without '=' would otherwise surface as an
    # opaque unpack ValueError deep inside pattern_predicate
    patterns: list[tuple[str, str]] = []
    if args.pred_patterns:
        for spec in args.pred_patterns.split(";"):
            if not spec:
                continue
            if "=" not in spec:
                p.error(
                    f"--pred-patterns spec {spec!r} has no '='; expected "
                    "'REGEX=NAME;REGEX=NAME'"
                )
            # rsplit: the predicate NAME is an identifier, the regex may
            # contain literal '=' (e.g. '用量=[0-9]+=DOSE')
            patterns.append(tuple(spec.rsplit("=", 1)))

    from pyspark.sql import SparkSession

    from bert_namedentityrecognition_spark.plans.session import with_worker_blas_env

    spark = with_worker_blas_env(SparkSession.builder.appName("kg-pipeline")).getOrCreate()

    from bert_namedentityrecognition_spark.sources import fixtures
    from bert_namedentityrecognition_spark.sources.dims import dim_from_csv

    if args.input_format == "warc":
        from bert_namedentityrecognition_spark.sources.readers import read_warc

        pages = read_warc(spark, args.pages_dir)
    else:
        pages = spark.read.parquet(args.pages_dir)
    if args.prepare:
        from bert_namedentityrecognition_spark.operators.sentences import (
            prepare_pages,
        )

        pages = prepare_pages(pages)
    if args.dim_csv:
        dim = dim_from_csv(
            spark, args.dim_csv, surface_col="surface", canonical_col="canonical"
        )
    else:
        dim = fixtures.entity_dim_to_spark(spark)
    term_types = fixtures.pipeline_term_types()

    if args.resume:
        from bert_namedentityrecognition_spark.plans.ledger import resume_run

        triples = resume_run(
            spark,
            pages,
            dim,
            term_types,
            args.out,
            n_buckets=args.buckets,
            threshold=args.threshold,
            write_triples=True,
            lang_filter=args.lang or None,
            patterns=patterns or None,
            default_pred=args.default_pred,
        )
        n = triples.count()
    else:
        from bert_namedentityrecognition_spark.plans.pipeline import (
            run_kg_pipeline,
            write_outputs,
        )

        model = label_vocab = None
        if args.checkpoint:
            from bert_namedentityrecognition_spark.operators.ner import (
                classifier_from_checkpoint,
            )

            model, label_vocab = classifier_from_checkpoint(args.checkpoint)

        out = run_kg_pipeline(
            pages,
            dim,
            term_types,
            threshold=args.threshold,
            scope=args.scope,
            lang_filter=args.lang or None,
            salt_buckets=args.salt_buckets,
            model=model,
            label_vocab=label_vocab,
        )
        write_outputs(out, args.out)
        n = spark.read.parquet(f"{args.out}/triples").count()

        if patterns:
            from bert_namedentityrecognition_spark.operators.triples import (
                build_triples_patterned,
            )

            patterned = build_triples_patterned(
                out["mentions"],
                out["sentences"],
                patterns,
                default_pred=args.default_pred,
            )
            patterned.write.mode("overwrite").parquet(
                f"{args.out}/triples_patterned"
            )

    print(json.dumps({"status": "ok", "triple_rows": n, "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
