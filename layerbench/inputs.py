"""Seeded inputs for the three workloads, generated once per seed and cached.

Everything here runs before any timed pass. The program under test only
ever sees the files written here: a docs parquet table for the two span
workloads, and a directory of ``.pdf`` files for the file workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

INPUT_VERSION = 1

# mixed_spans: the corpus generator's own class mix, stratified to exact
# counts so docs/s compares across seeds (a binomial heavy-doc count would
# move total pages by ~5% from seed to seed at this size)
MIXED_QUOTA = {"heavy": 10, "pdf": 690, "html": 300}
HTML_DOCS = 2400
PDF_FILES = 300
GARBAGE_EVERY = 25  # every 25th file (index % 25 == 12) is planted garbage
PDF_BUCKETS = 1

_FONT = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
         b"/Encoding /WinAnsiEncoding >>")


def doc_class(spans: list[dict]) -> str:
    """'html', 'heavy' (more than 4 PDF pages) or 'pdf'."""
    kinds = [s["kind"] for s in spans]
    if "html" in kinds:
        return "html"
    return "heavy" if kinds.count("pdf_ops") > 4 else "pdf"


def stratified_docs(seed: int, quota: dict[str, int]) -> list[dict]:
    """Docs of ``corpus.generate_doc(i, seed)`` in index order, keeping each
    class until its quota is full."""
    from docling_parse_spark.corpus import generate_doc

    left = dict(quota)
    out = []
    i = 0
    while any(left.values()):
        d = generate_doc(i, seed)
        c = doc_class(d["spans"])
        if left.get(c):
            left[c] -= 1
            out.append(d)
        i += 1
    return out


def _row_hash(doc_id: str, payload) -> str:
    body = json.dumps([doc_id, payload], sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(body.encode("utf-8", "surrogatepass")).hexdigest()


def rows_digest(rows) -> str:
    """Order-independent digest of (doc_id, payload) pairs."""
    h = hashlib.sha256()
    for rh in sorted(_row_hash(d, p) for d, p in rows):
        h.update(rh.encode())
    return h.hexdigest()[:16]


def _write_docs(path: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        ("spans", pa.list_(span_t))])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), path)


def pdf_content(seed: int, i: int) -> bytes:
    """One seeded single-page content stream: 14-22 lines of corpus words."""
    from docling_parse_spark.corpus import WORDS

    rnd = random.Random(f"{seed}:file:{i}")
    out = bytearray(b"BT /F1 11 Tf 60 760 Td 14 TL\n")
    for _ in range(rnd.randint(14, 22)):
        line = " ".join(rnd.choice(WORDS) for _ in range(rnd.randint(4, 9)))
        out += b"T* (" + line.encode() + b") Tj\n"
    return bytes(out + b"ET")


def pdf_file_pair(seed: int, i: int) -> tuple[bytes, bytes]:
    """(AES-256 encrypted file, plain twin) for file index ``i``."""
    from docling_parse_spark.pdf.build import build_classic_pdf, encrypt_classic_aes256

    content = pdf_content(seed, i)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: _FONT,
    }
    enc = encrypt_classic_aes256(dict(objs), root=1, stream_bodies={4: content})
    objs[4] = (f"<< /Length {len(content)} >>\nstream\n".encode()
               + content + b"\nendstream")
    return enc, build_classic_pdf(objs, root=1)


def is_garbage(i: int) -> bool:
    return i % GARBAGE_EVERY == GARBAGE_EVERY // 2


def garbage_bytes(seed: int, i: int) -> bytes:
    rnd = random.Random(f"{seed}:garbage:{i}")
    return b"GARBAGE\n" + bytes(rnd.randrange(256) for _ in range(rnd.randint(200, 600)))


def sample_indices(seed: int, n: int, k: int, salt: str) -> list[int]:
    return sorted(random.Random(f"{seed}:{salt}").sample(range(n), min(k, n)))


class Inputs:
    """Paths and facts of one workload's cached input for one seed."""

    def __init__(self, root: str, meta: dict):
        self.root = root
        self.meta = meta

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @property
    def n_docs(self) -> int:
        return self.meta["n_docs"]

    @property
    def digest(self) -> str:
        return self.meta["digest"]


def _build_spans(tmp: str, workload: str, seed: int) -> dict:
    if workload == "mixed_spans":
        docs = stratified_docs(seed, MIXED_QUOTA)
    else:
        docs = stratified_docs(seed, {"html": HTML_DOCS})
    _write_docs(os.path.join(tmp, "docs.parquet"), docs)
    return {
        "n_docs": len(docs),
        "digest": rows_digest((d["doc_id"], d["spans"]) for d in docs),
        "classes": {c: sum(doc_class(d["spans"]) == c for d in docs)
                    for c in ("pdf", "heavy", "html")},
    }


def _build_files(tmp: str, seed: int) -> dict:
    for sub in ("files", "twins"):
        os.makedirs(os.path.join(tmp, sub))
    twins = set(sample_indices(seed, PDF_FILES, 24, "twins"))
    files = []
    for i in range(PDF_FILES):
        name = f"f{i:05d}.pdf"
        if is_garbage(i):
            data = garbage_bytes(seed, i)
        else:
            data, plain = pdf_file_pair(seed, i)
            if i in twins:
                with open(os.path.join(tmp, "twins", name), "wb") as f:
                    f.write(plain)
        with open(os.path.join(tmp, "files", name), "wb") as f:
            f.write(data)
        files.append((name, hashlib.sha256(data).hexdigest()))
    return {
        "n_docs": PDF_FILES,
        "digest": rows_digest(files),
        "garbage": [n for n, _ in files if is_garbage(int(n[1:6]))],
        "twins": sorted(f"f{i:05d}.pdf" for i in twins if not is_garbage(i)),
    }


def prepare(work: str, workload: str, seed: int) -> tuple[Inputs, bool]:
    """Return the cached input of (workload, seed), building it if absent.
    Caches of other seeds are removed so the work directory stays small.
    The flag says whether this call generated the input."""
    from docling_parse_spark.corpus import CORPUS_VERSION

    base = os.path.join(work, "inputs")
    key = f"{workload}-s{seed}-v{INPUT_VERSION}.{CORPUS_VERSION}"
    root = os.path.join(base, key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Inputs(root, json.load(f)), False
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    tmp = root + ".tmp"
    os.makedirs(tmp)
    if workload == "pdf_files_ckpt":
        meta = _build_files(tmp, seed)
    else:
        meta = _build_spans(tmp, workload, seed)
    meta.update(workload=workload, seed=seed)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.rename(tmp, root)
    return Inputs(root, meta), True
