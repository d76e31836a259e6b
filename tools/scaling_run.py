"""One scaling measurement: extract a pre-generated corpus parquet at a given
parallelism, print a JSON line with steady-state throughput.

Usage: python tools/scaling_run.py <corpus_parquet_dir> <cpus> [partitions]

Protocol (BASELINE.md): session startup and input-listing are excluded (a
warm count() runs first); the timed region is the extraction job itself —
the same job a cluster would run per batch. Fresh JVM per measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    corpus_path = sys.argv[1]
    cpus = int(sys.argv[2])
    partitions = int(sys.argv[3]) if len(sys.argv) > 3 else cpus * 2
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from pyspark.sql import functions as F

    from docling_parse_spark.extract import extract_spans
    from docling_parse_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=partitions,
        # sandbox corpus is tiny-by-bytes but heavy-by-CPU: widen the scan so
        # the first Python stage isn't serialized onto 2-3 input partitions
        # (a real 100 TB table has wide scans naturally; 128 MB default there)
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "65536",
        },
    )
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()  # warm: file listing + page cache

    # median of 3 steady-state runs: run0 pays one-time JIT/codegen/python-
    # worker-pool costs that a long-lived cluster amortizes; we report run0
    # separately as cold_sec.
    times = []
    n_spans = 0
    for _ in range(reps):
        t0 = time.time()
        spans = extract_spans(docs, num_partitions=partitions)
        n_spans = spans.select(F.sum(F.size("spans"))).collect()[0][0]
        times.append(time.time() - t0)
    cold, rest = times[0], sorted(times[1:])
    dt = rest[len(rest) // 2]
    best = min(times)

    print(
        json.dumps(
            {
                "cpus": cpus,
                "partitions": partitions,
                "docs": n_docs,
                "spans": int(n_spans or 0),
                "extract_sec": round(dt, 3),
                "best_sec": round(best, 3),
                "cold_sec": round(cold, 3),
                "all_sec": [round(x, 3) for x in times],
                "docs_per_sec": round(n_docs / dt, 2),
                "best_docs_per_sec": round(n_docs / best, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
