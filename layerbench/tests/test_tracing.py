"""Span self times and the kernel stage wrappers."""

import pytest

from layerbench.tracing import KERNEL_TARGETS, Tracer, kernel_wrappers


def test_self_time_subtracts_covered_child_intervals():
    tr = Tracer("t")
    root = tr.add("pass", 0.0, 10.0, None)
    a = tr.add("stage", 1.0, 4.0, root)
    tr.add("stage", 3.0, 6.0, root)  # overlaps the first: covered once
    tr.add("task", 1.5, 2.0, a)
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(5.0)
    assert selfs[a] == pytest.approx(2.5)
    assert tr.self_by_name(root) == pytest.approx({"pass": 5.0, "stage": 5.5, "task": 0.5})
    assert tr.self_by_name(a) == pytest.approx({"stage": 2.5, "task": 0.5})


def test_nested_spans_link_parents():
    tr = Tracer("t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run_id"] == "t" and outer["end"] >= inner["end"]


def test_wrappers_time_the_kernel_and_restore_it():
    from docling_parse_spark import document
    from docling_parse_spark.corpus import generate_doc

    orig = document.decode_page
    tr = Tracer("t")
    doc = next(d for d in (generate_doc(i, 1) for i in range(20))
               if d["spans"][-1]["kind"] != "html")
    with tr.span("kernel.pass") as kp, kernel_wrappers(tr) as absent:
        assert document.decode_page is not orig
        document.decode_document(doc["doc_id"], doc["spans"])
    assert document.decode_page is orig
    assert absent == set()
    names = set(tr.self_by_name(kp["id"]))
    assert {"kernel.tokenize", "kernel.interpret", "kernel.words", "kernel.order"} <= names


def test_missing_target_is_reported_absent_not_raised():
    tr = Tracer("t")
    targets = KERNEL_TARGETS + (("merge", "docling_parse_spark.pdf.page", "no_such_name"),
                                ("gone", "docling_parse_spark.no_such_module", "f"))
    with kernel_wrappers(tr, targets) as absent:
        pass
    assert absent == {"merge", "gone"}
