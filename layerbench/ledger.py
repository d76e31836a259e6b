"""The traced run: one session with Spark's event log on, spans around every
public call, and the per-layer ledger built from both.

Order of work in one traced run:

1. kernel: ``document.doc_to_units`` + ``document.decode_unit`` over a
   seeded sample of the workload's own input on one core, three times plain
   (median docs/s/core) and once with the kernel stage wrappers (stage self
   times);
2. the workload's own pass: untraced, traced, untraced;
3. the extract ledger on the workload's docs table: ``route_units`` to a
   noop sink, ``extract_spans`` to a noop sink, and (pdf_files_ckpt only,
   whose own pass is the checkpoint path) ``extract_spans`` to parquet.

Decode, reassembly and shuffle figures come from the event log of the real
``extract_spans`` pass, split at its exchanges (see eventlog.py).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from layerbench import eventlog
from layerbench.check import Gate
from layerbench.tracing import KERNEL_STAGES, Tracer, _union_length, kernel_wrappers
from layerbench.workload import (
    FilesWorkload,
    job_description,
    ncpu,
    start_session,
    stop_session,
)

KERNEL_SAMPLE = {"mixed_spans": 200, "html_spans": 400, "pdf_files_ckpt": 120}
HEAVY_SPAN_THRESHOLD = 24  # extract_spans' default routing threshold

# (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    ("kernel.docs_per_s_core", "docs/s/core"),
    *((f"kernel.{s}_ms", "ms") for s in KERNEL_STAGES),
    ("pdf_file.ingest_s", "s"),
    ("pdf_file.parse_ms", "ms"),
    ("pdf_file.errors", "count"),
    ("route.s", "s"),
    ("route.rows_out", "count"),
    ("route.split_docs", "count"),
    ("decode.stage_run_s", "s"),
    ("decode.task_skew", "ratio"),
    ("decode.kernel_share", "ratio"),
    ("reassemble.s", "s"),
    ("reassemble.share", "ratio"),
    ("shuffle.exchanges", "count"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.records", "count"),
    ("shuffle.spill_bytes", "bytes"),
    ("sink.s", "s"),
    ("sink.bytes", "bytes"),
    ("checkpoint.s", "s"),
    ("checkpoint.jobs", "count"),
    ("checkpoint.bucket_s_median", "s"),
    ("checkpoint.bucket_s_max", "s"),
    ("checkpoint.spans_write_s", "s"),
    ("checkpoint.metrics_write_s", "s"),
    ("checkpoint.summary_s", "s"),
    ("spark.parallel_efficiency", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.tasks", "count"),
    ("trace.overhead", "ratio"),
    ("trace.kernel_overhead", "ratio"),
    ("ledger.gap_share", "ratio"),
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def kernel_pass(docs: dict[str, list[dict]]) -> None:
    """Decode docs on this core. Names are looked up on the module at call
    time, so the kernel wrappers see every call."""
    from docling_parse_spark import document

    fonts_cache: dict = {}
    for doc_id, spans in docs.items():
        for u in document.doc_to_units(doc_id, spans, serialize=False):
            document.decode_unit(u["unit_kind"], u["payload"], u["page"], u["resources"],
                                 None, fonts_cache)


class TracedRun:
    def __init__(self, wl, work: str):
        self.wl = wl
        self.work = work
        self.dir = os.path.join(work, "trace")
        self.tracer = Tracer(run_id=f"{wl.name}-s{wl.seed}")
        self.spark = None

    @contextmanager
    def call(self, name: str):
        """A traced public call: a span plus the job description that links
        the call's Spark jobs to it in the event log."""
        with job_description(self.spark, f"layerbench:{name}"), self.tracer.span(name) as sp:
            yield sp

    def wall(self, name: str) -> float:
        spans = [s for s in self.tracer.spans if s["name"] == name]
        return spans[-1]["end"] - spans[-1]["start"] if spans else 0.0

    def run(self, setup_out: str, out: str) -> tuple[dict, dict, Gate]:
        from pyspark.sql import functions as F

        from docling_parse_spark.extract import extract_spans, route_units
        from docling_parse_spark.sinks import write_table

        wl = self.wl
        shutil.rmtree(self.dir, ignore_errors=True)
        evdir = os.path.join(self.dir, "eventlog")
        os.makedirs(evdir)
        self.spark = start_session(self.work, eventlog_dir=evdir)
        wl.prepare()
        # a full pass as warm-up, so the untraced and traced passes compare
        wl.run_pass(self.spark, setup_out)

        # 1. kernel on one core, decoding units the way one decode task
        # does: doc_to_units + decode_unit with a shared fonts cache
        sample, parse_s = wl.kernel_sample(KERNEL_SAMPLE[wl.name])
        kernel_pass(dict(list(sample.items())[:10]))  # lazy imports and caches
        plain = []
        for _ in range(3):
            t0 = time.perf_counter()
            kernel_pass(sample)
            plain.append(time.perf_counter() - t0)
        plain_s = statistics.median(plain)
        with self.tracer.span("kernel.pass") as kp, kernel_wrappers(self.tracer) as absent:
            kernel_pass(sample)

        # 2. the workload's pass: untraced, traced, untraced again, so the
        # overhead estimate is not an order effect
        untraced = []
        for i in range(2):
            t0 = time.perf_counter()
            wl.run_pass(self.spark, out + ".untraced")
            untraced.append(time.perf_counter() - t0)
            if i == 0:
                with self.tracer.span("pass") as ps:
                    wl.run_pass(self.spark, out, call=self.call)
        untraced_s = statistics.mean(untraced)

        # 3. extract ledger on the workload's docs table
        docs = wl.ledger_docs(self.spark, out)
        with self.call("route"):
            route_units(docs, HEAVY_SPAN_THRESHOLD).write.format("noop").mode("overwrite").save()
        with job_description(self.spark, "layerbench:route.count"):
            rc = route_units(docs, HEAVY_SPAN_THRESHOLD).agg(
                F.count("*").alias("rows"),
                F.countDistinct(F.when(F.col("unit_kind") != "__doc__", F.col("doc_id"))).alias("split"),
                F.countDistinct("doc_id").alias("docs"),
            ).collect()[0]
        with self.call("extract.noop"):
            extract_spans(docs).write.format("noop").mode("overwrite").save()
        extract_out = out
        if isinstance(wl, FilesWorkload):
            extract_out = out + ".extract"
            with self.call("extract"):
                write_table(extract_spans(docs), extract_out, fmt="parquet")
        stop_session(self.spark, jvm=True)

        logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        log = eventlog.load(logs[0])
        gate = Gate()
        info = wl.check(gate, out)
        m = self.metrics(log, info, ps, kp, absent, len(sample), plain_s, parse_s,
                         untraced_s, rc, extract_out)
        self.tracer.write(os.path.join(self.dir, "spans.jsonl"))
        info.update(absent=sorted(absent), ledger=self.ledger_rows)
        return m, info, gate

    def metrics(self, log, info, ps, kp, absent, n_sample, plain_s, parse_s,
                untraced_s, rc, extract_out) -> dict:
        wl, tr = self.wl, self.tracer
        m = {name: 0.0 for name, _ in PER_LAYER}
        files = isinstance(wl, FilesWorkload)

        # kernel
        core = n_sample / plain_s
        m["kernel.docs_per_s_core"] = core
        selfs = tr.self_by_name(kp["id"])
        for st in KERNEL_STAGES:
            m[f"kernel.{st}_ms"] = 0.0 if st in absent else selfs.get(f"kernel.{st}", 0.0) / n_sample * 1000
        m["trace.kernel_overhead"] = tr.duration(kp["id"]) / plain_s - 1

        # extract ledger (event log of the real extract_spans pass)
        jobs = lambda name: log.jobs_with(f"layerbench:{name}")  # noqa: E731
        ext = eventlog.stage_summary(log.stages_of(jobs("extract")))
        noop = eventlog.stage_summary(log.stages_of(jobs("extract.noop")))
        lay = ext["layers"]
        extract_s, noop_s = self.wall("extract"), self.wall("extract.noop")
        m["route.s"] = self.wall("route")
        m["route.rows_out"] = rc["rows"]
        m["route.split_docs"] = rc["split"]
        dec = lay.get("decode", {"run_s": 0.0, "skew": 1.0, "windows": []})
        m["decode.stage_run_s"] = dec["run_s"]
        m["decode.task_skew"] = dec["skew"]
        if dec["run_s"] > 0:
            m["decode.kernel_share"] = rc["docs"] / core / dec["run_s"]
        reassemble_s = _union_length(noop["layers"].get("reassemble", {}).get("windows", []))
        m["reassemble.s"] = reassemble_s
        m["reassemble.share"] = reassemble_s / extract_s if extract_s else 0.0
        m["shuffle.exchanges"] = log.exchanges(jobs("extract"))
        m["shuffle.write_bytes"] = ext["shuffle_write_bytes"]
        m["shuffle.records"] = ext["shuffle_records"]
        m["shuffle.spill_bytes"] = ext["spill_bytes"]
        m["sink.s"] = extract_s - noop_s
        m["sink.bytes"] = _dir_bytes(extract_out)

        # the workload's own traced pass
        pass_s = tr.duration(ps["id"])
        if files:
            pass_jobs = jobs("ingest") + jobs("checkpoint")
            m["pdf_file.ingest_s"] = self.wall("ingest")
            m["pdf_file.parse_ms"] = parse_s / n_sample * 1000
            m["pdf_file.errors"] = info["error_rows"]
            m["checkpoint.s"] = self.wall("checkpoint")
            m["checkpoint.jobs"] = len(jobs("checkpoint"))
            walls = [c["wall_sec"] for c in info["commits"]] or [0.0]
            m["checkpoint.bucket_s_median"] = statistics.median(walls)
            m["checkpoint.bucket_s_max"] = max(walls)
            sites: dict[str, list] = {}
            for j in jobs("checkpoint"):
                sites.setdefault(eventlog.checkpoint_call_site(log, j), []).append(
                    (j.submit, j.complete or j.submit))
            for site in ("spans_write", "metrics_write", "summary"):
                m[f"checkpoint.{site}_s"] = _union_length(sites.get(site, []))
            # one-core baseline of a file doc: parse + decode
            core_doc_s = parse_s / n_sample + 1 / core
            ledger = [("pdf_file.ingest", m["pdf_file.ingest_s"]),
                      ("checkpoint.buckets", sum(walls))]
        else:
            pass_jobs = jobs("extract")
            core_doc_s = 1 / core
            # the stage windows become child spans of the traced extract
            # call; what they leave uncovered is driver time
            call = [s for s in tr.spans if s["name"] == "extract"][-1]
            for layer, v in lay.items():
                for start, end in v["windows"]:
                    tr.add(f"stage.{layer}", start, end, call["id"])
            ledger = [("route", _union_length(lay.get("route", {}).get("windows", []))),
                      ("decode", _union_length(dec["windows"])),
                      ("reassemble", reassemble_s),
                      ("sink", m["sink.s"]),
                      ("other_stages", _union_length(lay.get("other", {}).get("windows", []))),
                      ("driver", tr.self_times()[call["id"]])]
        whole = eventlog.stage_summary(log.stages_of(pass_jobs))
        m["spark.gc_s"] = whole["gc_s"]
        m["spark.tasks"] = whole["tasks"]
        untraced_dps = wl.n_docs / untraced_s
        m["spark.parallel_efficiency"] = untraced_dps * core_doc_s / ncpu()
        m["trace.overhead"] = 1 - (wl.n_docs / pass_s) / untraced_dps
        total = sum(v for _, v in ledger)
        m["ledger.gap_share"] = abs(total - pass_s) / pass_s
        self.ledger_rows = [(k, round(v, 4), round(v / pass_s, 4)) for k, v in ledger] + [
            ("sum", round(total, 4), round(total / pass_s, 4)),
            ("pass_wall", round(pass_s, 4), 1.0)]
        return m
