"""Resumable per-partition checkpoints with lineage + metrics (north rule).

The corpus is split into ``buckets`` by ``pmod(xxhash64(doc_id), B)``; each
bucket runs as an independent mini-job that writes its spans + metrics and
then appends a commit record. A resumed run skips committed buckets — the
failure domain is one bucket, and a re-run of a committed bucket is a no-op
(idempotent by construction: deterministic input slice + overwrite write).

This is the batch analog the north rule asks for (Structured Streaming's
checkpoint dir is the built-in equivalent; SURVEY.md §4). The commit log is a
human-readable JSONL so lineage survives any storage layer.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, functions as F

from docling_parse_spark.extract import extract_spans
from docling_parse_spark.pdf.page import DecodeConfig

COMMIT_LOG = "_commits.jsonl"
# per-bucket sums of these metrics columns go into each commit record
_COUNTS = ("pages_parsed", "cells_emitted", "decode_failures")


def input_signature_of(docs_df: DataFrame) -> str | None:
    """Snapshot signature of a file-backed input: count + md5 of the sorted
    scan file list (ADVICE r01 / VERDICT r02 #8). None for non-file sources
    (in-memory test frames) — callers can still pass an explicit signature."""
    files = sorted(docs_df.inputFiles())
    if not files:
        return None
    import hashlib

    digest = hashlib.md5("\n".join(files).encode("utf-8")).hexdigest()
    return f"files:{len(files)}:{digest}"


def committed_buckets(out_dir: str) -> dict[int, dict]:
    path = os.path.join(out_dir, COMMIT_LOG)
    done: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    rec = json.loads(line)
                    done[rec["bucket"]] = rec
    return done


def _append_commit(out_dir: str, rec: dict) -> None:
    with open(os.path.join(out_dir, COMMIT_LOG), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")


def run_with_checkpoint(
    docs_df: DataFrame,
    out_dir: str,
    buckets: int = 8,
    config: DecodeConfig | None = None,
    run_id: str = "run",
    num_partitions: int | None = None,
    input_signature: str | None = None,
) -> dict:
    """Extract docs_df -> ``out_dir/spans/bucket=N`` parquet, resumably.

    Each commit line records the bucket count and the input snapshot
    signature (auto-derived from the scan's file list for file-backed
    inputs; pass ``input_signature`` explicitly for in-memory frames);
    resuming against a log written under a different ``buckets`` value or a
    different input raises instead of silently skipping incompatible or
    mismatched ``pmod(B)`` slices.

    Returns a summary dict {buckets_run, buckets_skipped, out_dir}.
    """
    os.makedirs(out_dir, exist_ok=True)
    if input_signature is None:
        input_signature = input_signature_of(docs_df)
    done = committed_buckets(out_dir)
    for b, rec in done.items():
        # a record MISSING the buckets key is treated as a mismatch, not
        # as "assume compatible": the legacy/hand-edited-log case is
        # exactly what this guard exists for (round-4 review — the old
        # rec.get('buckets', buckets) default silently passed any B)
        if rec.get("buckets") != buckets:
            raise ValueError(
                f"commit log {out_dir}/{COMMIT_LOG} was written with "
                f"buckets={rec.get('buckets')} (bucket {b}); resuming with "
                f"buckets={buckets} would skip incompatible pmod slices"
            )
        prev_sig = rec.get("input_signature")
        if input_signature is not None and prev_sig is not None and prev_sig != input_signature:
            raise ValueError(
                f"commit log {out_dir}/{COMMIT_LOG} was written for input "
                f"{prev_sig!r}; current input is {input_signature!r}"
            )
    bucketed = docs_df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
    ran, skipped = [], []
    for b in range(buckets):
        if b in done:
            skipped.append(b)
            continue
        t0 = time.time()
        slice_df = bucketed.filter(F.col("bucket") == b).drop("bucket")
        lineage = f"{run_id}/bucket={b}"
        spans, metrics = extract_spans(
            slice_df, config=config, num_partitions=num_partitions,
            with_metrics=True, lineage=lineage,
        )
        spans_path = os.path.join(out_dir, "spans", f"bucket={b}")
        metrics_path = os.path.join(out_dir, "metrics", f"bucket={b}")
        spans.write.mode("overwrite").parquet(spans_path)
        totals = Observation()
        metrics.observe(totals, *[F.sum(c).alias(c) for c in _COUNTS]).write.mode(
            "overwrite").parquet(metrics_path)
        spans.persisted_source.unpersist()
        _append_commit(
            out_dir,
            {
                "bucket": b,
                "buckets": buckets,
                "input_signature": input_signature,
                "run_id": run_id,
                "lineage": lineage,
                **{c: int(v or 0) for c, v in totals.get.items()},
                "wall_sec": round(time.time() - t0, 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        ran.append(b)
    return {"buckets_run": ran, "buckets_skipped": skipped, "out_dir": out_dir}
