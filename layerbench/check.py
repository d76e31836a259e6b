"""Correctness gate: output tables against the inputs and the sequential
oracle. Every helper returns counts of wrong outcomes, never raises on a
mismatch, so one run reports all of them."""

from __future__ import annotations

import json
import os

from layerbench.inputs import rows_digest


def read_spans_table(path: str) -> tuple[dict[str, list[dict]], int]:
    """(doc_id -> spans, duplicate row count) of a parquet spans table, in
    any directory layout Spark writes, including ``bucket=N`` partitions."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "spans"])
    out: dict[str, list[dict]] = {}
    dups = 0
    for doc_id, spans in zip(table.column("doc_id").to_pylist(),
                             table.column("spans").to_pylist()):
        if doc_id in out:
            dups += 1
        out[doc_id] = spans if spans is not None else []
    return out, dups


def table_digest(table: dict[str, list[dict]]) -> str:
    """Order-independent digest of a doc_id -> spans table."""
    return rows_digest(table.items())


def dense_offsets(spans: list[dict]) -> bool:
    return [s.get("offset") for s in spans] == list(range(len(spans)))


def compare_spans(expected: list[dict], got: list[dict]) -> list[str]:
    """Exact comparison of two span arrays; returns the differences."""
    diffs = []
    if len(expected) != len(got):
        diffs.append(f"length {len(got)} != {len(expected)}")
    for i, (e, g) in enumerate(zip(expected, got)):
        e = {k: e.get(k) for k in ("kind", "text", "media_ref", "offset")}
        g = {k: g.get(k) for k in ("kind", "text", "media_ref", "offset")}
        if e != g:
            diffs.append(f"span {i}: {g} != {e}")
            if len(diffs) >= 3:
                break
    return diffs


class Gate:
    """Collects wrong outcomes by class; ``failed`` is their total."""

    def __init__(self):
        self.failures: dict[str, int] = {}
        self.notes: list[str] = []

    def fail(self, cls: str, n: int = 1, note: str | None = None) -> None:
        if n:
            self.failures[cls] = self.failures.get(cls, 0) + n
            if note and len(self.notes) < 10:
                self.notes.append(f"{cls}: {note}")

    @property
    def failed(self) -> int:
        return sum(self.failures.values())

    def check_table(self, out: dict[str, list[dict]], dups: int,
                    expected_ids: set[str]) -> None:
        """Docs out == docs in, no duplicates, dense offsets per doc."""
        self.fail("duplicate_doc", dups)
        got = set(out)
        self.fail("missing_doc", len(expected_ids - got),
                  f"e.g. {sorted(expected_ids - got)[:3]}")
        self.fail("unexpected_doc", len(got - expected_ids),
                  f"e.g. {sorted(got - expected_ids)[:3]}")
        bad = [d for d in got if not dense_offsets(out[d])]
        self.fail("offsets_not_dense", len(bad), f"e.g. {sorted(bad)[:3]}")

    def check_oracle(self, out: dict[str, list[dict]], expected: dict[str, list[dict]]) -> None:
        """Sampled docs equal their sequential-oracle span arrays exactly."""
        for doc_id, spans in expected.items():
            if doc_id not in out:
                continue  # already counted as missing
            diffs = compare_spans(spans, out[doc_id])
            if diffs:
                self.fail("oracle_mismatch", 1, f"{doc_id}: {diffs[0]}")


def oracle_spans(docs: dict[str, list[dict]]) -> dict[str, list[dict]]:
    from docling_parse_spark.document import decode_document

    return {d: decode_document(d, spans) for d, spans in docs.items()}


def read_commits(out_dir: str) -> list[dict]:
    path = os.path.join(out_dir, "_commits.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_commits(gate: Gate, out_dir: str, buckets: int) -> list[dict]:
    """One commit record per bucket, whose page count matches the bucket's
    metrics table."""
    import pyarrow.dataset as ds

    commits = read_commits(out_dir)
    by_bucket: dict[int, list[dict]] = {}
    for rec in commits:
        by_bucket.setdefault(rec.get("bucket"), []).append(rec)
    for b in range(buckets):
        recs = by_bucket.get(b, [])
        if len(recs) != 1:
            gate.fail("commit_records", 1, f"bucket {b}: {len(recs)} records")
            continue
        mdir = os.path.join(out_dir, "metrics", f"bucket={b}")
        pages = 0
        if os.path.isdir(mdir):
            t = ds.dataset(mdir, format="parquet").to_table(columns=["pages_parsed"])
            pages = sum(v or 0 for v in t.column("pages_parsed").to_pylist())
        if pages != recs[0].get("pages_parsed"):
            gate.fail("commit_pages", 1,
                      f"bucket {b}: log {recs[0].get('pages_parsed')} != metrics {pages}")
        if recs[0].get("decode_failures"):
            gate.fail("decode_failure", recs[0]["decode_failures"], f"bucket {b}")
    if set(by_bucket) - set(range(buckets)):
        gate.fail("commit_records", len(set(by_bucket) - set(range(buckets))))
    return commits
