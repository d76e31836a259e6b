"""The three workloads: the Spark session they run in, their timed pass
through the package's public API, and their correctness checks."""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from contextlib import contextmanager, nullcontext

from layerbench import inputs as inp
from layerbench.check import Gate, check_commits, oracle_spans, read_spans_table, table_digest

ORACLE_SAMPLE = 24


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, capped at 4 GiB: local mode runs the
    executors inside the driver JVM, and the Python workers need the rest."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return max(1024, min(4096, total_kb // 4096))


def isolate(work: str) -> None:
    """Point every scratch location of the JVM and the Python workers into
    the work directory (inherited by the processes started later)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str, eventlog_dir: str | None = None):
    """local[nproc] session with driver memory sized to the host. With
    ``eventlog_dir`` the uncompressed event log is written there."""
    from docling_parse_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    n = ncpu()
    return get_spark(app_name="layerbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


def stop_session(spark, jvm: bool = False) -> None:
    """Stop the Spark context; with ``jvm`` also end the JVM and wait for
    it, so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if not jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def untraced(_name: str):
    return nullcontext()


class SpansWorkload:
    """mixed_spans / html_spans: docs parquet -> extract_spans -> parquet."""

    def __init__(self, name: str, work: str, seed: int):
        self.name, self.work, self.seed = name, work, seed
        self.inputs = None
        self.generated = False

    def prepare(self) -> None:
        self.inputs, self.generated = inp.prepare(self.work, self.name, self.seed)

    @property
    def n_docs(self) -> int:
        return self.inputs.n_docs

    def _extract(self, spark, src: str, out: str, call) -> None:
        from docling_parse_spark.extract import extract_spans
        from docling_parse_spark.sinks import write_table

        with call("extract"):
            write_table(extract_spans(spark.read.parquet(src)), out, fmt="parquet")

    def run_pass(self, spark, out: str, call=untraced) -> None:
        self._extract(spark, self.inputs.path("docs.parquet"), out, call)

    def ledger_docs(self, spark, out: str):
        """The docs table the extract ledger runs on."""
        return spark.read.parquet(self.inputs.path("docs.parquet"))

    def input_docs(self) -> dict[str, list[dict]]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.inputs.path("docs.parquet"))
        return dict(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))

    def sample_docs(self, k: int) -> dict[str, list[dict]]:
        """Seeded sample of the input, proportional per doc class, with at
        least one heavy doc where the input has any."""
        docs = self.input_docs()
        by_class: dict[str, list[str]] = {}
        for d, spans in docs.items():
            by_class.setdefault(inp.doc_class(spans), []).append(d)
        rnd = random.Random(f"{self.seed}:sample")
        picked = []
        for c, ids in sorted(by_class.items()):
            n = max(1, round(k * len(ids) / len(docs)))
            picked += rnd.sample(ids, min(n, len(ids)))
        return {d: docs[d] for d in sorted(picked)}

    def kernel_sample(self, k: int) -> tuple[dict[str, list[dict]], float]:
        """(sample docs, seconds spent parsing files to get them)."""
        return self.sample_docs(k), 0.0

    def check(self, gate: Gate, out: str) -> dict:
        """Gate the output of the last pass, against the sequential oracle
        on a seeded sample."""
        table, dups = read_spans_table(out)
        gate.check_table(table, dups, set(self.input_docs()))
        oracle = oracle_spans(self.sample_docs(ORACLE_SAMPLE))
        gate.check_oracle(table, oracle)
        return {"output_digest": table_digest(table), "oracle_docs": len(oracle)}


class FilesWorkload(SpansWorkload):
    """pdf_files_ckpt: the ``job.py --input-pdf-dir`` path. AES-encrypted
    .pdf files -> ingest_pdf_files -> staged parquet -> run_with_checkpoint."""

    buckets = inp.PDF_BUCKETS

    def _files(self, spark, files: str, out: str, call) -> None:
        from pyspark.sql import functions as F

        from docling_parse_spark.checkpoint import run_with_checkpoint
        from docling_parse_spark.pdf.file import ingest_pdf_files

        shutil.rmtree(out, ignore_errors=True)
        names = sorted(os.listdir(files))
        body = "\n".join(f"{n}\t{os.path.getsize(os.path.join(files, n))}" for n in names)
        signature = f"pdfdir:{len(names)}:{hashlib.md5(body.encode()).hexdigest()}"
        with call("ingest"):
            ingest_pdf_files(spark, files, glob="*.pdf", recursive=True).write.mode(
                "overwrite").parquet(os.path.join(out, "ingest"))
            staged = spark.read.parquet(os.path.join(out, "ingest"))
            staged.filter(F.col("error").isNotNull()).count()
        with call("checkpoint"):
            run_with_checkpoint(staged.filter(F.col("error").isNull()).drop("error"), out,
                                buckets=self.buckets, run_id="layerbench",
                                input_signature=signature)

    def run_pass(self, spark, out: str, call=untraced) -> None:
        self._files(spark, self.inputs.path("files"), out, call)

    def ledger_docs(self, spark, out: str):
        from pyspark.sql import functions as F

        staged = spark.read.parquet(os.path.join(out, "ingest"))
        return staged.filter(F.col("error").isNull()).drop("error")

    def file_id(self, name: str) -> str:
        """The doc_id ingest_pdf_files gives a file: its absolute path."""
        return os.path.abspath(self.inputs.path(os.path.join("files", name)))

    def kernel_sample(self, k: int) -> tuple[dict[str, list[dict]], float]:
        from docling_parse_spark.pdf.file import parse_pdf_spans

        good = [n for n in sorted(os.listdir(self.inputs.path("files")))
                if n not in set(self.inputs.meta["garbage"])]
        names = random.Random(f"{self.seed}:sample").sample(good, min(k, len(good)))
        docs, parse_s = {}, 0.0
        for n in sorted(names):
            with open(self.inputs.path(os.path.join("files", n)), "rb") as f:
                data = f.read()
            t0 = time.perf_counter()
            spans = parse_pdf_spans(data, self.file_id(n))
            parse_s += time.perf_counter() - t0
            docs[self.file_id(n)] = spans
        return docs, parse_s

    def check(self, gate: Gate, out: str) -> dict:
        import pyarrow.dataset as ds

        from docling_parse_spark.pdf.file import parse_pdf_spans

        t = ds.dataset(os.path.join(out, "ingest"), format="parquet").to_table(
            columns=["doc_id", "spans", "error"])
        staged: dict[str, tuple] = {}
        for d, spans, err in zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist(),
                                 t.column("error").to_pylist()):
            gate.fail("duplicate_doc", int(d in staged), d)
            staged[d] = (spans or [], err)
        names = sorted(os.listdir(self.inputs.path("files")))
        garbage = set(self.inputs.meta["garbage"])
        for n in names:
            rec = staged.get(self.file_id(n))
            if rec is None:
                gate.fail("missing_file", 1, n)
            elif n in garbage and rec[1] is None:
                gate.fail("planted_error_missing", 1, n)
            elif n not in garbage and rec[1] is not None:
                gate.fail("unexpected_error", 1, f"{n}: {rec[1]}")
        for n in self.inputs.meta["twins"]:
            with open(self.inputs.path(os.path.join("twins", n)), "rb") as f:
                plain = parse_pdf_spans(f.read(), self.file_id(n))
            if staged.get(self.file_id(n), ([], None))[0] != plain:
                gate.fail("twin_mismatch", 1, n)
        good = {d: rec[0] for d, rec in staged.items() if rec[1] is None}
        table, dups = read_spans_table(os.path.join(out, "spans"))
        gate.check_table(table, dups, set(good))
        pick = random.Random(f"{self.seed}:oracle").sample(
            sorted(good), min(ORACLE_SAMPLE, len(good)))
        oracle = oracle_spans({d: good[d] for d in pick})
        gate.check_oracle(table, oracle)
        commits = check_commits(gate, out, self.buckets)
        return {"output_digest": table_digest(table),
                "staged_digest": table_digest({d: r[0] for d, r in staged.items()}),
                "oracle_docs": len(oracle), "error_rows": len(staged) - len(good),
                "commits": commits}


def make(name: str, work: str, seed: int) -> SpansWorkload:
    cls = FilesWorkload if name == "pdf_files_ckpt" else SpansWorkload
    return cls(name, work, seed)


@contextmanager
def job_description(spark, text: str | None):
    sc = spark.sparkContext
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(None)
