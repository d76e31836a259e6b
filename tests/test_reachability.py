"""Every function and class of the package is reached from program code.

A def or class under ``docling_parse_spark/`` must be named (as a whole
word) in some non-test ``.py`` file of the repo outside its own ``def``
line: a helper only tests call is dead weight the kernel carries. Dunders
are exempt, and so are the public features in ``ALLOWED`` whose only
callers are tests until their owners decide to keep or delete them.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "docling_parse_spark"

ALLOWED = {
    "shape_lines",
    "dequantize",
    "render_page_png",
    "write_spans_json",
    "export_textlines",
    "write_document_sink",
    "spans_histogram",
    "sessionize_stream",
    "dedup_stream",
}

_WORD = re.compile(r"\w+")


def _program_files():
    for p in ROOT.rglob("*.py"):
        parts = p.relative_to(ROOT).parts
        if "tests" not in parts and not any(s.startswith(".") for s in parts):
            yield p


def test_every_definition_has_a_program_reference():
    words = Counter()
    lines = {}
    for p in _program_files():
        lines[p] = p.read_text(errors="replace").splitlines()
        for line in lines[p]:
            words.update(_WORD.findall(line))

    unreached = []
    for p in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("__") and name.endswith("__") or name in ALLOWED:
                continue
            own = _WORD.findall(lines[p][node.lineno - 1]).count(name)
            if words[name] <= own:
                unreached.append(f"{p.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unreached, "no program reference:\n" + "\n".join(unreached)

