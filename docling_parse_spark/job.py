"""spark-submit entry point: corpus/docs-table in, spans+metrics out.

Run (ships with ``--py-files`` like the reference's batch CLI, parser.h:109-207):

    spark-submit --py-files dist/docling_parse_spark.zip scripts/run_extract.py ...
    # or locally:
    python -m docling_parse_spark.job --n-docs 2000 --master 'local[8]' \
        --out /tmp/extract_out [--resume] [--buckets 8]

Input: ``--input <parquet dir>`` of a north-rule docs table, or ``--n-docs N``
to generate the deterministic synthetic corpus distributedly (seed-fixed).
Prints one JSON summary line: docs/sec, spans, failures, scaling inputs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
import time

from pyspark.sql import Observation, functions as F


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="parquet dir of (doc_id, spans) docs table")
    p.add_argument("--input-pdf-dir", help="directory of raw .pdf FILES: "
                   "ingested through the from-spec file layer (xref/ObjStm/"
                   "filters/decryption) before extraction")
    p.add_argument("--password", default=None, help="decryption password for "
                   "--input-pdf-dir files (tried as user then owner; default "
                   "empty)")
    p.add_argument("--n-docs", type=int, default=0, help="generate synthetic corpus of N docs")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--master", default=None, help="e.g. local[8]; default local[$SPARK_GRAFT_CPUS]")
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--resume", action="store_true", help="keep existing commit log (skip committed buckets)")
    p.add_argument("--output-unit", default="word", choices=["char", "word", "line"])
    p.add_argument("--run-id", default="job")
    args = p.parse_args(argv)

    from docling_parse_spark.checkpoint import committed_buckets, run_with_checkpoint
    from docling_parse_spark.corpus import corpus_df
    from docling_parse_spark.pdf.page import DecodeConfig
    from docling_parse_spark.session import get_spark

    if not args.resume:
        shutil.rmtree(args.out, ignore_errors=True)

    spark = get_spark(app_name=f"docling_parse_spark.job.{args.run_id}", master=args.master)
    t0 = time.time()
    n_ingest_failures = 0
    input_signature = None
    if args.input:
        docs = spark.read.parquet(args.input)
    elif args.input_pdf_dir:
        import os

        from docling_parse_spark.pdf.file import ingest_pdf_files, pdf_files_to_docs

        # The checkpoint input signature must come from the STABLE source
        # .pdf list, not the staged parquet below (whose part-file names
        # change on every rewrite, which would make --resume trip the
        # signature-mismatch guard in run_with_checkpoint).
        src_files = sorted(
            os.path.join(r, f)
            for r, _dirs, fs in os.walk(args.input_pdf_dir)
            for f in fs if f.endswith(".pdf")
        )
        sizes = [os.path.getsize(p) for p in src_files]
        sig_body = "\n".join(f"{p}\t{n}" for p, n in zip(src_files, sizes))
        input_signature = f"pdfdir:{len(src_files)}:{hashlib.md5(sig_body.encode()).hexdigest()}"

        # Stage the ingest output once: the checkpointed job reads docs per
        # bucket, and staging means each raw PDF is parsed exactly once
        # instead of once per bucket. It also keeps the per-file failure
        # accounting ON the job record instead of silently dropping it.
        # On --resume an already-staged ingest is reused so the commit log
        # (and half-finished buckets) stay valid.
        if not (args.resume and os.path.exists(f"{args.out}/ingest/_SUCCESS")):
            ingested = ingest_pdf_files(
                spark, args.input_pdf_dir, num_partitions=args.partitions,
                glob="*.pdf", recursive=True, password=args.password,
            )
            # Spark's file index drops zero-length files before any task
            # runs; the same per-file loop gives each of them its error row.
            empty = [(f"file:{os.path.abspath(p)}", b"")
                     for p, n in zip(src_files, sizes) if not n]
            if empty:
                ingested = ingested.unionByName(pdf_files_to_docs(
                    spark.createDataFrame(empty, "path string, content binary")))
            ingested.write.mode("overwrite").parquet(f"{args.out}/ingest")
        staged = spark.read.parquet(f"{args.out}/ingest")
        failures = Observation()
        staged.filter(F.col("error").isNotNull()).select("doc_id", "error").observe(
            failures, F.count("*").alias("n")).write.mode("overwrite").parquet(
            f"{args.out}/ingest_errors")
        n_ingest_failures = failures.get["n"]
        for row in spark.read.parquet(f"{args.out}/ingest_errors").limit(20).collect():
            print(f"ingest failure: {row['doc_id']}: {row['error']}", file=sys.stderr)
        docs = staged.filter(F.col("error").isNull()).drop("error")
    elif args.n_docs:
        docs = corpus_df(spark, args.n_docs, seed=args.seed)
    else:
        # raises SystemExit
        p.error("one of --input / --input-pdf-dir / --n-docs is required")

    summary = run_with_checkpoint(
        docs,
        args.out,
        buckets=args.buckets,
        config=DecodeConfig(output_unit=args.output_unit),
        run_id=args.run_id,
        num_partitions=args.partitions,
        input_signature=input_signature,
    )
    wall = time.time() - t0

    n_docs, n_spans = spark.read.parquet(f"{args.out}/spans").select(
        F.count("*"), F.sum(F.size("spans"))).collect()[0]
    # each commit record carries its bucket's metrics-table sums
    commits = committed_buckets(args.out).values()

    print(
        json.dumps(
            {
                "job": "span_extraction",
                "master": spark.sparkContext.master,
                "docs": n_docs,
                "pages": sum(c["pages_parsed"] for c in commits),
                "cells": sum(c["cells_emitted"] for c in commits),
                "decode_failures": sum(c["decode_failures"] for c in commits),
                "ingest_failures": n_ingest_failures,
                "spans": int(n_spans or 0),
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 3) if wall > 0 else None,
                "buckets_run": summary["buckets_run"],
                "buckets_skipped": summary["buckets_skipped"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
