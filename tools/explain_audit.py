"""Plan audit: capture physical plans for the headline queries and check the
properties that matter at 100 TB — filter pushdown, column pruning,
broadcast joins, map-side partial aggregation, whole-stage codegen. Writes
EXPLAIN.md with the plans + an OK/FLAG verdict per property.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain("simple")  # simple mode shows the *(N) codegen stage marks
    return buf.getvalue()


CHECKS = {
    "q1_pricing_summary": [
        ("filter pushed to parquet scan", lambda p: "PushedFilters: [IsNotNull(l_shipdate)" in p or "LessThanOrEqual(l_shipdate" in p),
        ("column pruning (no l_orderkey in scan)", lambda p: "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]),
        ("map-side partial aggregate", lambda p: p.count("HashAggregate") >= 2),
        ("whole-stage codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
    ],
    "q3_shipping_priority": [
        ("broadcast join for dimension side", lambda p: "BroadcastHashJoin" in p),
        ("filter pushdown on mktsegment", lambda p: "EqualTo(c_mktsegment,BUILDING)" in p),
    ],
    "q5_regional_revenue": [
        ("all small dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
        ("no cartesian", lambda p: "Cartesian" not in p),
    ],
    "q6_revenue_forecast": [
        ("range filters pushed", lambda p: "GreaterThanOrEqual(l_shipdate" in p),
        ("scan reads only 4 columns", lambda p: "l_returnflag" not in p.split("ReadSchema")[1].splitlines()[0]),
    ],
    "dedup_exact": [
        ("map-side partial aggregation", lambda p: "partial_min" in p and "partial_count" in p),
        ("pruned scan (doc_id + text only)", lambda p: "struct<doc_id:bigint,text:string>" in p),
    ],
    "top_customer_orders": [
        ("single shuffle for window", lambda p: p.count("Exchange (") <= 2),
        ("window operator present", lambda p: "Window" in p),
    ],
    "ann_cosine_topk": [
        ("query side broadcast (no corpus shuffle for join)", lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ],
    "ann_lsh_topk": [
        ("band keys via Arrow eval (planes in closure, not the plan)",
         lambda p: "ArrowEvalPython" in p),
        ("bucket join broadcasts the query side", lambda p: "BroadcastHashJoin" in p),
        ("dedup rides the ranking window: <=1 data exchange (+1 broadcast, +1 final sort)",
         lambda p: p.count("Exchange (") <= 3),
    ],
    "ann_ivf_topk": [
        ("cell assignment via Arrow eval", lambda p: "ArrowEvalPython" in p),
        ("probe join broadcasts the query side", lambda p: "BroadcastHashJoin" in p),
    ],
    "dedup_simhash": [
        ("packed aggregation: no 64-wide agg list (16 lanes + count)",
         lambda p: p.count("partial_sum") <= 34),  # 16+1 per union side
        ("sign assembly via Arrow eval post-agg", lambda p: "ArrowEvalPython" in p),
    ],
    "events_asof_join": [
        ("single window exchange carries the union (no range join)",
         lambda p: "Window" in p and "Cartesian" not in p),
    ],
    "pii_scan": [
        ("pure JVM regex — no Python in the plan",
         lambda p: "Python" not in p),
        ("single narrow projection: only the final sort exchanges",
         lambda p: p.count("Exchange (") <= 1),
    ],
    "cap_per_source": [
        ("WindowGroupLimit partial below the exchange (map-side pre-truncation)",
         lambda p: p.count("WindowGroupLimit") >= 2),
        ("pruned scan (doc_id + source only)",
         lambda p: "struct<doc_id:bigint,source:string>" in p),
    ],
    "dup_span_coverage": [
        ("no Python — grams built/hashed JVM-side",
         lambda p: "Python" not in p),
        ("partial count-distinct for covered positions",
         lambda p: "partial_count" in p),
        ("pruned scan (doc_id + text only)",
         lambda p: "struct<doc_id:bigint,text:string>" in p),
    ],
    "corpus_stats": [
        ("partial percentile/avg aggregation map-side",
         lambda p: "partial_percentile" in p or "ObjectHashAggregate" in p),
        ("one agg exchange + final sort only",
         lambda p: p.count("Exchange (") <= 2),
    ],
    "tfidf_top_terms": [
        ("df table and N broadcast (no big-side shuffle for the join)",
         lambda p: p.count("BroadcastHashJoin") >= 1 and "BroadcastNestedLoopJoin" in p),
        ("top-k pushed below the exchange (WindowGroupLimit)",
         lambda p: p.count("WindowGroupLimit") >= 2),
    ],
    "curation_pipeline_e2e": [
        ("no shuffle joins (only the packing offsets broadcast join)",
         # node-count only the formatted section: simple mode renumbers
         # the same nodes, so counting the whole capture double-counts
         # partition() (not split()[1]) so a capture missing the marker
         # reads as a clean check failure, not an IndexError (ADVICE r4);
         # the second partition cuts at the NEXT marker so the simple-mode
         # re-print of the same plan isn't double-counted
         lambda p: "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
         and len(__import__("re").findall(
             r"\(\d+\) BroadcastHashJoin",
             p.partition("== Physical Plan ==")[2]
             .partition("== Physical Plan ==")[0])) <= 1
         and "== Physical Plan ==" in p),
        ("no Python anywhere in the plan",
         lambda p: "Python" not in p),
        ("no single-partition corpus window (distributed packing)",
         lambda p: "__pid" in p),
    ],
    "pack_training_shards": [
        ("corpus window partitioned by __pid (two-pass prefix sum)",
         lambda p: "windowspecdefinition(__pid" in p),
        ("partition offsets broadcast, not shuffled",
         lambda p: "BroadcastHashJoin" in p),
    ],
    "doc_lang_quality": [
        ("LM tables broadcast (no big-side shuffle for scoring joins)",
         lambda p: p.count("BroadcastHashJoin") >= 2),
        ("vocabulary scalar via broadcast nested loop, not a driver action",
         lambda p: "BroadcastNestedLoopJoin" in p),
        ("map-side partial aggregation for counts",
         lambda p: "partial_count" in p or p.count("HashAggregate") >= 4),
        ("langid+ppl joined per doc: at most one doc-keyed shuffle join",
         lambda p: p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1),
    ],
    "fix_mojibake": [
        ("pure JVM expressions — no Python in the plan",
         lambda p: "Python" not in p),
        ("single narrow projection: only the final sort exchanges",
         lambda p: p.count("Exchange (") <= 1),
    ],
    "media_jpeg_features": [
        ("codec work Arrow-batched (MapInPandas)",
         lambda p: "MapInPandas" in p),
    ],
    "media_wav_features": [
        ("codec work Arrow-batched (MapInPandas)",
         lambda p: "MapInPandas" in p),
    ],
    # r6 verdict #7: the media/ingest lanes had never been plan-audited
    "media_ccitt_roundtrip": [
        ("codec work Arrow-batched (MapInPandas)",
         lambda p: "MapInPandas" in p),
        ("no cartesian product in the roundtrip join",
         lambda p: "CartesianProduct" not in p),
    ],
    "media_image_pipeline": [
        ("codec work Arrow-batched (MapInPandas)",
         lambda p: "MapInPandas" in p),
        ("no cartesian product",
         lambda p: "CartesianProduct" not in p),
    ],
    "media_decode_meta": [
        ("codec work Arrow-batched (MapInPandas)",
         lambda p: "MapInPandas" in p),
        ("bounded exchanges (order-by sort only)",
         lambda p: p.count("Exchange (") <= 2),
    ],
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from docling_parse_spark.session import get_spark

    spark = get_spark(app_name="explain_audit", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})  # stars visible pre-exec
    qs = entrymod.queries()

    out = ["# EXPLAIN — physical-plan audit\n",
           f"Plans captured at `{sf_dir}`; properties checked for 100 TB readiness.\n"]
    n_flags = 0
    for name, checks in CHECKS.items():
        df = qs[name](spark, sf_dir)
        p = plan_of(df)
        out.append(f"\n## {name}\n")
        for desc, fn in checks:
            try:
                ok = fn(p)
            except Exception:
                ok = False
            mark = "OK" if ok else "FLAG"
            if not ok:
                n_flags += 1
            out.append(f"- **{mark}** — {desc}")
            print(f"{mark:4s} {name}: {desc}")
        out.append("\n```\n" + p.strip()[:4000] + "\n```\n")

    # the extraction pipeline plan
    from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
    from docling_parse_spark.extract import extract_spans
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    docs = spark.createDataFrame(corpus_to_spark_rows(generate_corpus(20)), schema=SPANS_TABLE_SCHEMA)
    p = plan_of(extract_spans(docs, num_partitions=8))
    checks = [
        ("exactly one reassembly exchange after decode (fused path)",
         p.count("Exchange (") <= 4),  # repartition + unit hash + reassembly + union sides
        ("arrow-batched python (MapInArrow only)", "MapInArrow" in p and "MapInPandas" not in p),
        ("objectized agg for collect_list", "ObjectHashAggregate" in p or "SortAggregate" in p),
    ]
    out.append("\n## extract_spans pipeline\n")
    for desc, ok in checks:
        mark = "OK" if ok else "FLAG"
        if not ok:
            n_flags += 1
        out.append(f"- **{mark}** — {desc}")
        print(f"{mark:4s} extract_spans: {desc}")
    out.append("\n```\n" + p.strip()[:5000] + "\n```\n")

    # raw-file ingest plan (r6 verdict #7: never audited) — real .pdf files
    # through the binaryFile scan + from-spec file layer
    import docling_parse_spark.pdf.build as pdfbuild
    from docling_parse_spark.pdf.file import ingest_pdf_files

    ingest_dir = "/tmp/explain_audit_pdfs"
    os.makedirs(ingest_dir, exist_ok=True)
    for i in range(3):
        body = b"BT /F1 11 Tf 60 760 Td (audit) Tj ET"
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
            3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
                b"<< /Font << /F1 5 0 R >> >> >>"),
            4: (f"<< /Length {len(body)} >>\nstream\n".encode() + body + b"\nendstream"),
            5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding /WinAnsiEncoding >>"),
        }
        with open(f"{ingest_dir}/doc{i}.pdf", "wb") as fh:
            fh.write(pdfbuild.build_classic_pdf(objs, root=1))
    p = plan_of(ingest_pdf_files(spark, ingest_dir, num_partitions=4))
    checks = [
        ("binaryFile scan (no driver-side file reads)", "binaryFile" in p),
        ("file parse is one mapInArrow (no MapInPandas)",
         "MapInArrow" in p and "MapInPandas" not in p),
        ("single spread exchange (the parallelism repartition)",
         p.count("Exchange (") <= 1),
    ]
    out.append("\n## ingest_pdf_files (raw-file ingest)\n")
    for desc, ok in checks:
        mark = "OK" if ok else "FLAG"
        if not ok:
            n_flags += 1
        out.append(f"- **{mark}** — {desc}")
        print(f"{mark:4s} ingest_pdf_files: {desc}")
    out.append("\n```\n" + p.strip()[:4000] + "\n```\n")

    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"\nwrote EXPLAIN.md ({n_flags} flags)")


if __name__ == "__main__":
    main()
