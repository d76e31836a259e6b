"""``spark-submit --py-files`` smoke test: the zipped package decodes docs.

The bundle from ``tools/make_pyfiles.py`` is the only copy of the package the
submitted job can import (temp working directory, no PYTHONPATH), so driver
and workers load it through ``zipimport`` — including the PDF font/encoding
tables, which ``pdf/resources_data._load`` then reads via importlib.resources.
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from docling_parse_spark.corpus import generate_corpus
from docling_parse_spark.document import decode_document

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS, SEED = 8, 42

JOB = '''
import json
import sys

import docling_parse_spark
from pyspark.sql import SparkSession

from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
from docling_parse_spark.extract import extract_spans
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

n, seed, out = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
spark = SparkSession.builder.getOrCreate()
docs = spark.createDataFrame(
    corpus_to_spark_rows(generate_corpus(n, seed=seed)), schema=SPANS_TABLE_SCHEMA
)
extract_spans(docs, num_partitions=2).write.parquet(out + "/spans")


def origin(_rows):
    import docling_parse_spark
    from docling_parse_spark import _zipimport_guard
    from docling_parse_spark.pdf import resources_data

    yield [docling_parse_spark.__file__, _zipimport_guard.installed(),
           len(resources_data.glyph_list())]


workers = spark.sparkContext.parallelize(range(2), 2).mapPartitions(origin).collect()
with open(out + "/origin.json", "w") as f:
    json.dump({"driver": docling_parse_spark.__file__, "workers": workers}, f)
spark.stop()
'''


def _spark_submit():
    home = os.environ.get("SPARK_HOME")
    path = os.path.join(home, "bin", "spark-submit") if home else shutil.which("spark-submit")
    return path if path and os.path.exists(path) else None


@pytest.mark.skipif(_spark_submit() is None, reason="spark-submit not found")
def test_pyfiles_bundle_matches_oracle(tmp_path):
    dist, work, out = tmp_path / "dist", tmp_path / "work", tmp_path / "out"
    work.mkdir()
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), str(dist)],
        check=True, capture_output=True,
    )
    bundle = str(dist / "docling_parse_spark.zip")
    (work / "job.py").write_text(JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false", "--py-files", bundle,
         "job.py", str(N_DOCS), str(SEED), str(out)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    with open(out / "origin.json") as f:
        origin = json.load(f)
    assert origin["driver"] == os.path.join(bundle, "docling_parse_spark", "__init__.py")
    for path, guarded, glyphs in origin["workers"]:
        # workers import the executor's fetched copy of the bundle
        assert path.endswith(os.path.join("docling_parse_spark.zip", "docling_parse_spark", "__init__.py"))
        assert guarded == (sys.version_info < (3, 12))
        assert glyphs > 0  # the font tables load from inside the zip

    corpus = generate_corpus(N_DOCS, seed=SEED)
    assert any(s["kind"] == "pdf_ops" for d in corpus for s in d["spans"])
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in pq.read_table(str(out / "spans")).to_pylist()
    }
    expected = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in decode_document(d["doc_id"], d["spans"])
        ]
        for d in corpus
    }
    assert got == expected
