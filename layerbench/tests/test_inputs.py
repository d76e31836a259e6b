"""Seed determinism of the generated inputs."""

from layerbench import inputs


def test_stratified_docs_meet_quota_and_repeat_per_seed():
    quota = {"heavy": 1, "pdf": 20, "html": 9}
    a = inputs.stratified_docs(5, quota)
    counts = {c: sum(inputs.doc_class(d["spans"]) == c for d in a) for c in quota}
    assert counts == quota
    digest = lambda docs: inputs.rows_digest((d["doc_id"], d["spans"]) for d in docs)  # noqa: E731
    assert digest(inputs.stratified_docs(5, quota)) == digest(a)
    assert digest(inputs.stratified_docs(6, quota)) != digest(a)


def test_prepared_input_digest_depends_only_on_seed(tmp_path):
    digests = {}
    for name, seed in (("x", 3), ("y", 3), ("z", 4)):
        for workload in ("html_spans", "pdf_files_ckpt"):
            inp, generated = inputs.prepare(str(tmp_path / name), workload, seed)
            assert generated
            digests[name, workload] = inp.digest
            again, generated = inputs.prepare(str(tmp_path / name), workload, seed)
            assert not generated and again.digest == inp.digest
    for workload in ("html_spans", "pdf_files_ckpt"):
        assert digests["x", workload] == digests["y", workload]
        assert digests["x", workload] != digests["z", workload]


def test_encrypted_file_and_plain_twin_give_identical_spans():
    from docling_parse_spark.pdf.file import parse_pdf_spans

    enc, plain = inputs.pdf_file_pair(9, 1)
    assert enc != plain and b"/Encrypt" in enc
    assert parse_pdf_spans(enc, "d") == parse_pdf_spans(plain, "d")
    assert inputs.pdf_file_pair(9, 1) == (enc, plain)
