"""Output digest, oracle comparator and the table gate."""

import copy

import pyarrow as pa
import pyarrow.parquet as pq

from layerbench.check import (
    Gate,
    check_commits,
    compare_spans,
    dense_offsets,
    read_spans_table,
    table_digest,
)


def _spans(*texts):
    return [{"kind": "text", "text": t, "media_ref": None, "offset": i}
            for i, t in enumerate(texts)]


TABLE = {"a": _spans("x", "y", "z"), "b": _spans("p"), "c": []}


def test_digest_is_order_independent_and_content_sensitive():
    reordered = dict(reversed(list(TABLE.items())))
    assert table_digest(reordered) == table_digest(TABLE)
    changed = copy.deepcopy(TABLE)
    changed["b"][0]["text"] = "q"
    assert table_digest(changed) != table_digest(TABLE)
    moved = copy.deepcopy(TABLE)
    moved["c"] = moved.pop("b")  # same spans under another doc id
    assert table_digest(moved) != table_digest(TABLE)


def test_comparator_catches_planted_offset_swap():
    got = copy.deepcopy(TABLE["a"])
    got[0]["offset"], got[1]["offset"] = got[1]["offset"], got[0]["offset"]
    assert compare_spans(TABLE["a"], got)
    assert not dense_offsets(got)
    assert compare_spans(TABLE["a"], copy.deepcopy(TABLE["a"])) == []
    assert compare_spans(TABLE["a"], TABLE["a"][:2])  # a dropped span


def test_gate_counts_each_wrong_outcome():
    gate = Gate()
    out = copy.deepcopy(TABLE)
    del out["c"]
    out["d"] = _spans("extra")
    out["a"][2]["offset"] = 7
    gate.check_table(out, dups=1, expected_ids={"a", "b", "c"})
    assert gate.failures == {"duplicate_doc": 1, "missing_doc": 1, "unexpected_doc": 1,
                             "offsets_not_dense": 1}
    gate.check_oracle(out, {"b": _spans("other"), "c": []})
    assert gate.failures["oracle_mismatch"] == 1  # the missing doc is not counted twice
    assert gate.failed == 5


def test_read_spans_table_counts_duplicates(tmp_path):
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    part = tmp_path / "bucket=0"
    part.mkdir()
    rows = [{"doc_id": d, "spans": s} for d, s in TABLE.items()]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), part / "part-0.parquet")
    pq.write_table(pa.Table.from_pylist(rows[:1], schema=schema), part / "part-1.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    table, dups = read_spans_table(str(tmp_path))
    assert dups == 1
    assert table_digest(table) == table_digest(TABLE)


def test_commit_log_against_metrics(tmp_path):
    import json

    for b, pages in ((0, 3), (1, 4)):
        d = tmp_path / "metrics" / f"bucket={b}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"pages_parsed": [pages - 1, 1]}), d / "part-0.parquet")
    recs = [{"bucket": 0, "pages_parsed": 3, "decode_failures": 0},
            {"bucket": 1, "pages_parsed": 5, "decode_failures": 0}]
    (tmp_path / "_commits.jsonl").write_text("".join(json.dumps(r) + "\n" for r in recs))
    gate = Gate()
    check_commits(gate, str(tmp_path), buckets=3)
    assert gate.failures == {"commit_pages": 1, "commit_records": 1}
