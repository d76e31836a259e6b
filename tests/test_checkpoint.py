"""Resumable checkpoint tests: bucket skip on resume, lineage, idempotence."""

import json
import os

import pytest

from docling_parse_spark.checkpoint import committed_buckets, run_with_checkpoint
from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(
        corpus_to_spark_rows(generate_corpus(30, seed=7)), schema=SPANS_TABLE_SCHEMA
    )


def test_run_then_resume(spark, docs_df, tmp_path):
    out = str(tmp_path / "ckpt")
    s1 = run_with_checkpoint(docs_df, out, buckets=3, run_id="r1", num_partitions=4)
    assert s1["buckets_run"] == [0, 1, 2]
    first = spark.read.parquet(f"{out}/spans").count()
    assert first == 30

    s2 = run_with_checkpoint(docs_df, out, buckets=3, run_id="r2", num_partitions=4)
    assert s2["buckets_run"] == [] and s2["buckets_skipped"] == [0, 1, 2]
    assert spark.read.parquet(f"{out}/spans").count() == 30


def test_partial_resume_completes_missing_buckets(spark, docs_df, tmp_path):
    out = str(tmp_path / "ckpt2")
    run_with_checkpoint(docs_df, out, buckets=4, run_id="r1", num_partitions=4)
    # simulate a crash after bucket 1: drop commits for buckets 2,3
    log = os.path.join(out, "_commits.jsonl")
    with open(log) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    with open(log, "w") as f:
        for r in recs:
            if r["bucket"] < 2:
                f.write(json.dumps(r) + "\n")
    s = run_with_checkpoint(docs_df, out, buckets=4, run_id="r2", num_partitions=4)
    assert s["buckets_run"] == [2, 3] and s["buckets_skipped"] == [0, 1]
    assert spark.read.parquet(f"{out}/spans").count() == 30
    done = committed_buckets(out)
    assert done[0]["lineage"] == "r1/bucket=0"
    assert done[3]["lineage"] == "r2/bucket=3"


def test_metrics_written(spark, docs_df, tmp_path):
    out = str(tmp_path / "ckpt3")
    run_with_checkpoint(docs_df, out, buckets=2, run_id="m", num_partitions=4)
    m = spark.read.parquet(f"{out}/metrics")
    cols = set(m.columns)
    assert {"partition_id", "pages_parsed", "cells_emitted", "decode_failures", "lineage"} <= cols
    assert m.filter("decode_failures > 0").count() == 0


def test_commit_records_equal_bucket_metrics_sums(spark, tmp_path):
    """Each commit record's counts are the sums over its own
    ``metrics/bucket=N`` table, failures included; an empty bucket commits
    zeros."""
    from pyspark.sql import functions as F

    corpus = generate_corpus(30, seed=7)
    corpus.append({"doc_id": "doc-corrupt", "spans": [
        {"kind": "pdf_font", "text": '{"font_key": "F1", "widths": "NOT-A-LIST"}',
         "media_ref": None, "offset": 0},
        {"kind": "pdf_ops", "text": "BT /F1 10 Tf (x) Tj ET", "media_ref": None, "offset": 1},
    ]})
    docs = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = str(tmp_path / "ckpt")
    run_with_checkpoint(docs, out, buckets=2, run_id="v", num_partitions=4)
    keys = ("pages_parsed", "cells_emitted", "decode_failures")
    recs = committed_buckets(out)
    for b, rec in recs.items():
        sums = spark.read.parquet(f"{out}/metrics/bucket={b}").agg(
            *[F.sum(k).alias(k) for k in keys]).collect()[0]
        assert {k: rec[k] for k in keys} == sums.asDict()
        assert rec["pages_parsed"] > 0 and rec["cells_emitted"] > 0
    assert sum(r["decode_failures"] for r in recs.values()) == 1

    one = spark.createDataFrame(corpus_to_spark_rows(corpus[:1]), schema=SPANS_TABLE_SCHEMA)
    run_with_checkpoint(one, str(tmp_path / "one"), buckets=2, num_partitions=2,
                        input_signature="one")
    counts = sorted(tuple(r[k] for k in keys)
                    for r in committed_buckets(str(tmp_path / "one")).values())
    assert counts[0] == (0, 0, 0) and counts[1][0] > 0


def test_resume_with_swapped_input_raises(spark, tmp_path):
    """The commit log pins the input snapshot (file-list signature): resuming
    the same out_dir against a DIFFERENT parquet input is refused (VERDICT
    r02 #8), and a same-input resume still skips committed buckets."""
    import pytest

    from docling_parse_spark.checkpoint import run_with_checkpoint
    from docling_parse_spark.corpus import corpus_df

    in_a = str(tmp_path / "in_a")
    in_b = str(tmp_path / "in_b")
    corpus_df(spark, 12, seed=1, num_partitions=2).write.parquet(in_a)
    corpus_df(spark, 12, seed=2, num_partitions=3).write.parquet(in_b)
    out = str(tmp_path / "out")
    docs_a = spark.read.parquet(in_a)
    run_with_checkpoint(docs_a, out, buckets=2, num_partitions=2)
    # same input resumes as a no-op
    again = run_with_checkpoint(spark.read.parquet(in_a), out, buckets=2, num_partitions=2)
    assert again["buckets_skipped"] == [0, 1]
    with pytest.raises(ValueError, match="input"):
        run_with_checkpoint(spark.read.parquet(in_b), out, buckets=2, num_partitions=2)


def test_resume_refuses_commit_record_missing_buckets(spark, tmp_path):
    """Round-4 review: a commit record without the buckets key must be a
    mismatch (raise), not an assume-compatible pass."""
    import json
    import os

    import pytest

    from docling_parse_spark.checkpoint import COMMIT_LOG, run_with_checkpoint

    out = str(tmp_path / "out")
    os.makedirs(out)
    with open(os.path.join(out, COMMIT_LOG), "w") as f:
        f.write(json.dumps({"bucket": 0, "docs": 1, "spans": 1}) + "\n")
    docs = spark.createDataFrame(
        [("doc-1", [{"kind": "html", "text": "<p>one two three four five six</p>",
                     "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    with pytest.raises(ValueError, match="buckets=None"):
        run_with_checkpoint(docs, out, buckets=2)


def test_pdf_dir_job_resume_survives_staging(spark, tmp_path, capsys):
    """r6 review: the --input-pdf-dir job stages ingest output under
    args.out, but the checkpoint signature must come from the STABLE
    source .pdf list — a killed-then---resume'd job previously tripped the
    signature-mismatch guard because the staged parquet's part-file names
    change on every rewrite. Simulates the crash by dropping the last
    bucket's commit record, then resumes."""
    from docling_parse_spark import job
    from docling_parse_spark.pdf.build import build_classic_pdf

    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    for i in range(6):
        content = f"BT /F1 12 Tf 72 700 Td (resume doc {i}) Tj ET".encode()
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
               b"/MediaBox [0 0 612 792] >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
               b"<< /Font << /F1 5 0 R >> >> >>",
            4: f"<< /Length {len(content)} >>\nstream\n".encode()
               + content + b"\nendstream",
            5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        }
        (pdf_dir / f"doc{i}.pdf").write_bytes(build_classic_pdf(objs, root=1))

    (pdf_dir / "broken.pdf").write_bytes(b"%PDF-1.7 truncated")
    (pdf_dir / "empty.pdf").write_bytes(b"")

    def printed_matches_tables():
        from pyspark.sql import functions as F

        captured = capsys.readouterr()
        printed = json.loads(captured.out.strip().splitlines()[-1])
        sums = spark.read.parquet(f"{out}/metrics").agg(
            F.sum("pages_parsed"), F.sum("cells_emitted"), F.sum("decode_failures")
        ).collect()[0]
        assert (printed["pages"], printed["cells"], printed["decode_failures"]) == tuple(sums)
        assert printed["pages"] == 6 and printed["cells"] > 0
        assert printed["ingest_failures"] == 2
        assert "broken.pdf: ValueError" in captured.err
        assert "empty.pdf: ValueError: not a PDF" in captured.err

    out = str(tmp_path / "out")
    job.main(["--input-pdf-dir", str(pdf_dir), "--out", out,
              "--buckets", "3", "--partitions", "2"])
    assert spark.read.parquet(f"{out}/spans").count() == 6
    printed_matches_tables()

    # crash simulation: last bucket uncommitted
    log = os.path.join(out, "_commits.jsonl")
    with open(log) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    with open(log, "w") as f:
        for r in recs:
            if r["bucket"] < 2:
                f.write(json.dumps(r) + "\n")

    # must NOT raise the signature-mismatch ValueError, and must finish
    job.main(["--input-pdf-dir", str(pdf_dir), "--out", out,
              "--buckets", "3", "--partitions", "2", "--resume"])
    assert spark.read.parquet(f"{out}/spans").count() == 6
    printed_matches_tables()
