"""spark-submit entry point for the training-data curation pass.

    spark-submit --master local[8] --py-files kgspark.zip \
        scripts/run_curation.py --docs-dir /data/documents --out /data/curated \
        [--eval-dir /data/benchmarks | --eval-mod 23] [--budget 64]
        [--groups 8] [--decon-num 2 --decon-den 5] [--scrub-pii]

Runs the composed curation pipeline (``operators/corpus.curate_corpus``):
quality filter → repetition filter → exact dedup → benchmark
decontamination → deterministic domain-weighted sampling → sequence
packing. Outputs under --out:

- ``packed/``  — (doc_id, group_id, bin_id, tok_offset, n_tokens,
  oversize): the packing manifest for the surviving documents,
  partitioned by group_id so a reader consumes bins group-major.
- ``kept/``    — the surviving documents (doc_id, text, source), with
  ``--scrub-pii`` applying the URL/email/digit-run redaction to text.
- ``metrics/`` — a one-row JSON with input/eval/kept/bin counts (written
  through Spark so --out may be hdfs://, s3a://, ...); the same object is
  printed to stdout.

The eval set is either an external parquet of documents (--eval-dir, the
production shape: benchmark suites are tiny and broadcast) or a
deterministic doc_id % --eval-mod == 0 split of the corpus itself (the
gate-fixture shape). Every decision in the pass is a pure function of row
values — re-running on the same input at any cluster size produces
byte-identical outputs. Python workers run the engine's BLAS environment
(``plans/session.worker_blas_env``) unless the launch sets its own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--docs-dir", required=True, help="documents parquet dir/file")
    p.add_argument("--out", required=True)
    p.add_argument("--eval-dir", default=None, help="benchmark documents parquet")
    p.add_argument(
        "--eval-mod",
        type=int,
        default=23,
        help="no --eval-dir: docs with doc_id %% eval-mod == 0 form the "
        "eval split and are excluded from the curated corpus",
    )
    p.add_argument("--budget", type=int, default=64, help="tokens per bin")
    p.add_argument("--groups", type=int, default=8, help="packing hash groups")
    p.add_argument("--decon-num", type=int, default=2)
    p.add_argument("--decon-den", type=int, default=5)
    p.add_argument("--scrub-pii", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bert_namedentityrecognition_spark.operators.corpus import curate_corpus
    from bert_namedentityrecognition_spark.plans.session import with_worker_blas_env

    spark = with_worker_blas_env(SparkSession.builder.appName("curation")).getOrCreate()
    docs = spark.read.parquet(args.docs_dir)
    if args.eval_dir:
        ev = spark.read.parquet(args.eval_dir)
        corpus = docs
    else:
        ev = docs.filter(F.col("doc_id") % args.eval_mod == 0)
        corpus = docs.filter(F.col("doc_id") % args.eval_mod != 0)
    # size metrics up front (column-pruned count scans), before the heavy job
    input_docs, eval_docs = corpus.count(), ev.count()

    packed = curate_corpus(
        corpus,
        ev,
        budget=args.budget,
        n_groups=args.groups,
        decon_num=args.decon_num,
        decon_den=args.decon_den,
    )
    packed_path = os.path.join(args.out, "packed")
    packed.write.mode("overwrite").partitionBy("group_id").parquet(packed_path)

    # re-read the manifest (don't recompute the pipeline) to select survivors
    manifest = spark.read.parquet(packed_path)
    kept = corpus.join(manifest.select("doc_id"), "doc_id")
    if args.scrub_pii:
        from bert_namedentityrecognition_spark.functions.textstats import redact_pii

        kept = kept.withColumn("text", redact_pii(F.col("text")))
    kept_cols = [c for c in ("doc_id", "text", "source", "lang") if c in kept.columns]
    kept.select(*kept_cols).write.mode("overwrite").parquet(
        os.path.join(args.out, "kept")
    )

    stats = manifest.agg(
        F.count("*").alias("kept"),
        F.countDistinct("group_id", "bin_id").alias("bins"),
        F.sum("n_tokens").alias("tokens"),
    ).first()
    metrics = {
        "input_docs": input_docs,
        "eval_docs": eval_docs,
        "kept_docs": stats["kept"],
        "bins": stats["bins"],
        "kept_tokens": int(stats["tokens"] or 0),
        "budget": args.budget,
        "groups": args.groups,
    }
    # write through Spark so --out may be any supported filesystem
    # (hdfs://, s3a://, ...), not just the driver's local disk
    spark.createDataFrame([metrics]).coalesce(1).write.mode("overwrite").json(
        os.path.join(args.out, "metrics")
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
