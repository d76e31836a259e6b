"""In-memory spans and the kernel-stage wrappers of the traced run.

A span is (name, start, end, parent, run id). Spans stay in memory and are
written once at the end. A span's self time is its duration minus the part
of that interval its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a Spark stage window)."""
        idx = len(self.spans)
        self.spans.append({"id": idx, "name": name, "run_id": self.run_id,
                           "parent": parent, "start": start, "end": end, **attrs})
        return idx

    def self_times(self) -> dict[int, float]:
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], [])])
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def self_by_name(self, root: int | None = None) -> dict[str, float]:
        """Total self seconds per span name, over ``root``'s subtree (all
        spans when None)."""
        keep = None if root is None else self.subtree(root)
        out: dict[str, float] = {}
        for idx, t in self.self_times().items():
            if keep is None or idx in keep:
                name = self.spans[idx]["name"]
                out[name] = out.get(name, 0.0) + t
        return out

    def subtree(self, root: int) -> set[int]:
        keep = {root}
        for s in self.spans:  # parents always precede their children
            if s["parent"] in keep:
                keep.add(s["id"])
        return keep

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Kernel stages: (metric stage, module, attribute). Each wraps the name where
# pdf/page.py and document.py look it up, so the split follows the call path
# of ``document.decode_unit``. A stage whose name no longer exists is
# reported absent.
KERNEL_TARGETS = (
    ("tokenize", "docling_parse_spark.pdf.page", "tokenize"),
    ("interpret", "docling_parse_spark.pdf.interpreter", "PageInterpreter.run"),
    ("dedup", "docling_parse_spark.pdf.page", "remove_duplicate_cells"),
    ("sanitize", "docling_parse_spark.pdf.page", "sanitize_text"),
    ("words", "docling_parse_spark.pdf.page", "create_word_cells"),
    ("order", "docling_parse_spark.document", "decode_page"),
    ("resources", "docling_parse_spark.document", "doc_to_units"),
    ("resources", "docling_parse_spark.document", "build_fonts"),
    ("resources", "docling_parse_spark.document", "build_forms"),
    ("annots", "docling_parse_spark.document", "decode_annotation"),
    ("html", "docling_parse_spark.document", "extract_html_spans"),
    ("other", "docling_parse_spark.document", "decode_unit"),
)
KERNEL_STAGES = ("tokenize", "interpret", "dedup", "sanitize", "words", "order",
                 "resources", "annots", "html")


@contextmanager
def kernel_wrappers(tracer: Tracer, targets=KERNEL_TARGETS):
    """Wrap the kernel stage functions in spans for the duration of the
    block, then restore them. Yields the set of stages whose target was
    missing."""
    import importlib

    patched = []
    absent: set[str] = set()
    try:
        for stage, modname, attr in targets:
            try:
                owner = importlib.import_module(modname)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, leaf)
            except (ImportError, AttributeError):
                absent.add(stage)
                continue
            setattr(owner, leaf, _wrapped(tracer, f"kernel.{stage}", orig))
            patched.append((owner, leaf, orig))
        yield absent
    finally:
        for owner, leaf, orig in reversed(patched):
            setattr(owner, leaf, orig)


def _wrapped(tracer: Tracer, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call
