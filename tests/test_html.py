"""HTML boilerplate-stripping tests: density heuristics, structure handling."""

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

import pytest

from docling_parse_spark.corpus import generate_corpus
from docling_parse_spark.web.boilerplate import (
    BLOCK_TAGS,
    BOILERPLATE_CONTAINERS,
    HEADING_TAGS,
    SKIP_CONTENT,
    classify_blocks,
    extract_html_spans,
    segment_blocks,
)

# --- reference: the stdlib html.parser segmenter -------------------------
# The block state machine on CPython 3.11's html.parser, kept verbatim as
# the oracle for ``segment_blocks``; the package's one-pass segmenter must
# equal it block for block on every input.

_WS = re.compile(r"\s+")


@dataclass
class Block:
    tag: str = "p"
    text_parts: list = field(default_factory=list)
    anchor_chars: int = 0
    total_chars: int = 0
    in_boilerplate: bool = False
    images: list = field(default_factory=list)  # (position_in_block, src)

    @property
    def text(self) -> str:
        return _WS.sub(" ", "".join(self.text_parts)).strip()

    @property
    def link_density(self) -> float:
        return self.anchor_chars / self.total_chars if self.total_chars else 0.0

    @property
    def n_words(self) -> int:
        return len(self.text.split())

    def is_heading(self) -> bool:
        return self.tag in HEADING_TAGS


class _BlockParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._current: Block | None = None
        self._anchor_depth = 0
        self._boiler_depth = 0
        self._skip_depth = 0

    def _flush(self):
        if self._current is not None and (self._current.text or self._current.images):
            self.blocks.append(self._current)
        self._current = None

    def _ensure(self, tag: str = "p"):
        if self._current is None:
            self._current = Block(tag=tag, in_boilerplate=self._boiler_depth > 0)
        return self._current

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_CONTENT:
            self._skip_depth += 1
            return
        if tag in BOILERPLATE_CONTAINERS:
            self._flush()
            self._boiler_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._ensure(tag)
        if tag == "a":
            self._anchor_depth += 1
        if tag == "br":
            b = self._current
            if b is not None:
                b.text_parts.append(" ")
        if tag == "img":
            src = dict(attrs).get("src")
            if src and self._skip_depth == 0:
                b = self._ensure()
                b.images.append((len(b.text_parts), src))

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in SKIP_CONTENT:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag in BOILERPLATE_CONTAINERS:
            self._flush()
            self._boiler_depth = max(0, self._boiler_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    def handle_data(self, data):
        if self._skip_depth > 0:
            return
        if not data.strip():
            # a whitespace-only text node between inline elements
            # ("<i>one</i> <i>two</i>") is still a word separator: append
            # one space to an OPEN block (round-4 review — dropping it
            # merged adjacent words), but never open a block for it and
            # never count it toward char/link densities
            if self._current is not None and self._current.text_parts:
                self._current.text_parts.append(" ")
            return
        b = self._ensure()
        b.text_parts.append(data)
        n = len(data.strip())
        b.total_chars += n
        if self._anchor_depth > 0:
            b.anchor_chars += n

    def close(self):
        super().close()
        self._flush()


def reference_segment_blocks(html: str) -> list[Block]:
    p = _BlockParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        p._flush()
    return p.blocks


def reference_extract_html_spans(html: str) -> list[tuple[str, str | None, str | None]]:
    blocks = reference_segment_blocks(html)
    keep = classify_blocks(blocks)
    spans = []
    for b, k in zip(blocks, keep):
        if not k:
            continue
        if b.text:
            spans.append(("text", b.text, None))
        for _, src in b.images:
            spans.append(("media", None, src))
    return spans


def block_fields(blocks) -> list[tuple]:
    return [(b.tag, b.text, b.total_chars, b.anchor_chars, b.in_boilerplate, list(b.images))
            for b in blocks]


def assert_matches_reference(html: str) -> None:
    """``segment_blocks`` and ``extract_html_spans`` equal the stdlib
    reference on ``html``, block for block and field for field."""
    assert block_fields(segment_blocks(html)) == block_fields(reference_segment_blocks(html))
    assert extract_html_spans(html) == reference_extract_html_spans(html)


# -------------------------------------------------------------------------

PAGE = """
<html><head><title>A Study Of Span Extraction</title>
<style>p{color:red}</style></head><body>
<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">Blog</a></nav>
<header><h1>Span Extraction At Scale</h1></header>
<main><article>
<p>This is the main content paragraph with plenty of meaningful words inside it.</p>
<img src="doc-x/img0.png">
<p>Another substantial paragraph that carries the actual information of the page
and even mentions <a href="/ref">one reference</a> among many words.</p>
</article></main>
<aside><ul><li><a href="/t/x">x</a></li><li><a href="/t/y">y</a></li></ul></aside>
<footer>© 2026 Example · <a href="/">Home</a> <a href="/a">About</a></footer>
<script>var boilerplate = true;</script>
</body></html>
"""


def test_nav_footer_aside_stripped():
    spans = extract_html_spans(PAGE)
    texts = [t for k, t, _ in spans if k == "text"]
    joined = " ".join(texts)
    assert "Home" not in joined
    assert "©" not in joined
    assert "boilerplate" not in joined  # script never leaks


def test_main_content_kept_in_order():
    spans = extract_html_spans(PAGE)
    assert spans[0][0] == "text"
    kinds = [k for k, _, _ in spans]
    assert kinds.count("media") == 1
    texts = [t for k, t, _ in spans if k == "text"]
    assert any(t.startswith("This is the main content") for t in texts)
    # image sits between the two paragraphs
    i_img = kinds.index("media")
    assert 0 < i_img < len(spans) - 1


def test_heading_kept_when_content_follows():
    spans = extract_html_spans(PAGE)
    texts = [t for k, t, _ in spans if k == "text"]
    assert "Span Extraction At Scale" not in texts  # inside <header> container
    html2 = "<h2>Short Title</h2><p>" + "word " * 30 + "</p>"
    texts2 = [t for k, t, _ in extract_html_spans(html2) if k == "text"]
    assert texts2[0] == "Short Title"


def test_link_farm_rejected():
    farm = "<p>" + " ".join(f'<a href="/{i}">link {i} here now</a>' for i in range(20)) + "</p>"
    assert extract_html_spans(farm) == []


def test_short_fragments_rejected():
    assert extract_html_spans("<p>too short</p>") == []


def test_link_density_computation():
    html = '<p>many plain words surround the single <a href="/x">link</a> in this block</p>'
    b = segment_blocks(html)[0]
    assert 0.0 < b.link_density < 0.33
    assert classify_blocks([b]) == [True]


def test_malformed_html_survives():
    spans = extract_html_spans("<p>unclosed paragraph with lots of meaningful words going on and on")
    assert len(spans) == 1


def test_empty():
    assert extract_html_spans("") == []


def test_inter_element_whitespace_preserved():
    """Round-4 review: a whitespace-only text node between inline elements
    is a word separator, not droppable."""
    from docling_parse_spark.web.boilerplate import extract_html_spans

    out = extract_html_spans(
        "<p>fine <i>one</i> <i>two</i> and some more words here to pass filter</p>"
    )
    assert out == [("text", "fine one two and some more words here to pass filter", None)]
    # leading whitespace nodes still never open empty blocks
    assert extract_html_spans("  \n  <p>short</p>") == []


def test_captioned_figure_between_paragraphs_keeps_image():
    """Round-4 review: a figcaption with a short caption must keep its
    image when flanked by kept paragraphs, like a bare <img> does."""
    from docling_parse_spark.web.boilerplate import extract_html_spans

    html = ("<p>one long kept paragraph with plenty of words in it here</p>"
            '<figcaption>Fig 1 <img src="f.png"></figcaption>'
            "<p>another long kept paragraph with plenty of words here too</p>")
    out = extract_html_spans(html)
    assert ("media", None, "f.png") in out
    assert ("text", "Fig 1", None) in out


# --- the one-pass segmenter equals the stdlib reference ------------------

# every input the tests above use, plus markup html.parser treats specially
REFERENCE_INPUTS = [
    PAGE,
    "<h2>Short Title</h2><p>" + "word " * 30 + "</p>",
    "<p>" + " ".join(f'<a href="/{i}">link {i} here now</a>' for i in range(20)) + "</p>",
    "<p>too short</p>",
    '<p>many plain words surround the single <a href="/x">link</a> in this block</p>',
    "<p>unclosed paragraph with lots of meaningful words going on and on",
    "",
    "<p>fine <i>one</i> <i>two</i> and some more words here to pass filter</p>",
    "  \n  <p>short</p>",
    "<p>one long kept paragraph with plenty of words in it here</p>"
    '<figcaption>Fig 1 <img src="f.png"></figcaption>'
    "<p>another long kept paragraph with plenty of words here too</p>",
    '<P CLASS="x">Mixed Case Tags &amp; entities &#169; &copy &#x41 here</p><BR/><Img SRC=a.png>',
    '<p>kept words one two three <img alt=">" src="q&amp;.png" src=\'last.png\' /> tail</p>',
    "<p>a < b and c <3 d </ p> e </> f <!-- note --> g <!x> h <?pi?> i</p>",
    "<!DOCTYPE html><p>after doctype <![CDATA[x]]> <![if !IE]>y<![endif]> words</p>",
    "<p>before the marked section stop words</p><div>open<![x[never seen</div>",
    "<p>before the bogus section</p><![ oops",
    "<div>text <script>if (a<b) {document.write('<p>no</p>')}</SCRIPT > tail words",
    "<style>p{}</style><p>styled text with enough words here</p><style>never closed<p>x",
    "<script/><p>self-closed script swallows nothing but skips</p></script><p>ok</p>",
    "<script/><nav></script><p>a self-closed script reads the tags inside it</p>",
    '<p>one two three four five <a b= "x <img src="i.png"> six</p>',
    "<p>one two three four five <a&amp;\x00 six</p>",
    "<p>unterminated comment <!-- runs > to here and more words",
    "<p>truncated tag <a href='x",
    "<p>trailing entity &am",
    "<p>trailing charref &#",
    "<p>trailing lt <",
]


@pytest.mark.parametrize("i", range(len(REFERENCE_INPUTS)))
def test_segmenter_matches_reference_on_test_inputs(i):
    assert_matches_reference(REFERENCE_INPUTS[i])


@pytest.mark.parametrize("seed", [1, 11, 42])
def test_segmenter_matches_reference_on_corpus(seed):
    docs = [s["text"] for d in generate_corpus(3000, seed) for s in d["spans"]
            if s["kind"] == "html"]
    assert len(docs) > 800
    for html in docs:
        assert_matches_reference(html)


HOSTILE_PAYLOADS = {
    "none": None,
    "empty": "",
    "lone_surrogate": "\udcff",
    "nul_bytes": "<p>\x00 nul\x00 bytes\x00 in a paragraph of words</p>\x00<\x00p>\x00",
    "megabyte_of_lt": "<" * 2**20,
    "nested_divs": "<div>" * 10**5 + "deep text with a few more words" + "</div>" * 10**5,
    "unclosed_script": "<p>words before the script tag here</p><script>var x = '<p>",
    "unknown_marked_section": "<p>words before the marked section here</p><![x[",
}


@pytest.mark.parametrize("name", sorted(HOSTILE_PAYLOADS))
def test_hostile_html_rows_never_kill_a_task(name):
    """A hostile HTML row decodes like the reference and never fails its
    unit (the decode loop would count it as a failed row)."""
    from docling_parse_spark.document import decode_unit

    payload = HOSTILE_PAYLOADS[name]
    res = decode_unit("html", payload, 0, None)
    assert res.failed is False
    want = reference_extract_html_spans(payload or "")
    assert res.spans == [(i, k, t, r) for i, (k, t, r) in enumerate(want)]
