"""Dump `.explain("formatted")` + simple plans for named declared queries to
files — used to commit plans/r{N}/<query>_{before,after}.txt evidence.

Usage: python tools/dump_plan.py <out_suffix> <query> [query...]
       (env: SPARK_GRAFT_SF_DIR, PLAN_OUT_DIR default plans/r07)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.environ.get("PLAN_OUT_DIR", os.path.join(REPO, "plans", "r07"))
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dump_plan")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
            df.explain("simple")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        plan = buf.getvalue()
        print(f"{name}_{suffix}: Exchange={plan.count('Exchange (')} wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
