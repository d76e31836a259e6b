"""The traced benchmark splits kernel time by wrapping named functions
(``layerbench.tracing.KERNEL_TARGETS``). A stage whose name moved is
reported absent and its ledger column reads zero, so a kernel refactor
that renames or inlines one of them must fail here instead."""

import importlib

import pytest

from layerbench.tracing import KERNEL_TARGETS, Tracer, kernel_wrappers


@pytest.mark.parametrize("stage, module, attr", KERNEL_TARGETS,
                         ids=[f"{s}:{a}" for s, _, a in KERNEL_TARGETS])
def test_kernel_target_resolves(stage, module, attr):
    owner = importlib.import_module(module)
    for part in attr.split("."):
        owner = getattr(owner, part)
    assert callable(owner)


def test_every_pdf_stage_is_on_the_decode_path():
    """Decoding PDF docs through the wrapped names records a span for each
    PDF stage: the wrapped name is the one the kernel calls."""
    from docling_parse_spark import document
    from docling_parse_spark.corpus import generate_doc

    docs = [d for d in (generate_doc(i, 1) for i in range(40))
            if all(s["kind"] != "html" for s in d["spans"])][:5]
    tr = Tracer("t")
    with tr.span("kernel.pass") as kp, kernel_wrappers(tr) as absent:
        fonts_cache: dict = {}
        for d in docs:
            for u in document.doc_to_units(d["doc_id"], d["spans"], serialize=False):
                document.decode_unit(u["unit_kind"], u["payload"], u["page"], u["resources"],
                                     None, fonts_cache)
    assert absent == set()
    names = set(tr.self_by_name(kp["id"]))
    stages = {"tokenize", "interpret", "dedup", "sanitize", "words", "order", "resources"}
    assert {f"kernel.{s}" for s in stages} <= names
