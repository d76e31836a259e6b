"""DOM boilerplate stripping via text-density / link-density heuristics.

The reference has no HTML path (SURVEY.md §2.F); this branch implements the
north rule's "HTML boilerplate strip, DOM heuristics" from the published
Boilerpipe (Kohlschütter et al., WSDM 2010) and jusText (Pomikálek 2011)
block-classification ideas:

1. segment the DOM into text blocks at block-level element boundaries;
2. score each block: character count, word count, link density
   (chars inside <a> / total chars), tag density (tags / words);
3. classify: a block is main content when it has enough words, low link
   density, and does not sit inside structural boilerplate containers
   (nav/header/footer/aside) or machine regions (script/style/form).
   Short heading blocks are kept when a content block follows them.

Emits ordered ``(kind, text, media_ref)`` spans: one ``text`` span per
content block, one ``media`` span per <img> inside content, in DOM order.

Pure Python, run per HTML unit by the ``mapInArrow`` decode loop.
``segment_blocks`` is one regex-driven pass that feeds the block state
machine directly. It sees exactly the events CPython 3.11's
``html.parser.HTMLParser(convert_charrefs=True)`` delivers for
``feed(doc); close()``: lowercased tags; text split at every tag and stray
``<``, then charref-decoded; script/style bodies as raw text (dropped when
unclosed); comments, declarations and PIs skipped; the same end-of-input
rules; and the same early stop on a marked section html.parser rejects
(``<![x[``). tests/test_html.py keeps the stdlib-parser segmenter as the
reference this must equal block for block.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape

BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "article", "section", "main", "blockquote", "pre", "figcaption",
    "caption", "dd", "dt", "summary", "title",
}
BOILERPLATE_CONTAINERS = {"nav", "header", "footer", "aside", "form", "menu"}
SKIP_CONTENT = {"script", "style", "noscript", "template", "svg", "iframe"}
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6", "title"}
# tags whose start and end both close the open block
_FLUSH_TAGS = BLOCK_TAGS | BOILERPLATE_CONTAINERS

MIN_WORDS = 5
MAX_LINK_DENSITY = 0.33

# Tokenizer patterns of CPython 3.11's html/parser.py and _markupbase.py,
# copied verbatim so every tag, attribute and declaration ends exactly
# where the stdlib parser ends it.
_TAGFIND = r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*'
_ATTRFIND = (
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_tagfind = re.compile(_TAGFIND).match
_attrfind = re.compile(_ATTRFIND).match
# the tag name plus html.parser's attribute loop in one match: it stops
# where that loop stops whenever the loop stays inside the tag
_tag_attrs = re.compile(_TAGFIND + "(?:" + _ATTRFIND + ")*").match
_locate_starttag_end = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE).match
_endtag = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>").match
_commentclose = re.compile(r"--\s*>").search
_declname = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_markedsectionclose = re.compile(r"]\s*]\s*>").search
_msmarkedsectionclose = re.compile(r"]\s*>").search
_rawtext_close = {t: re.compile(r"</\s*%s\s*>" % t, re.I).search for t in ("script", "style")}
# a start tag with an alphanumeric name whose attributes are all
# name="value" (or name='value'), each after whitespace: the locate,
# tag-name and attribute patterns above all end it at its '>', so
# html.parser reads it as a plain tag
_simple_starttag = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)"
    r"(?:[ \t\n\r\f]+[a-zA-Z_:][-a-zA-Z0-9_:.]*=(?:\"[^\"]*\"|'[^']*'))*"
    r"[ \t\n\r\f]*(/?)>").match
# the characters that end a tag name ('>' among them)
_TAG_NAME_ENDS = "\t\n\r\f />\x00"
# a character that, right after a start tag's attributes, means the tag
# runs on past the end of input
_TAG_RUNS_ON = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=")


@dataclass
class Block:
    tag: str = "p"
    text: str = ""
    total_chars: int = 0
    anchor_chars: int = 0
    in_boilerplate: bool = False
    images: list = field(default_factory=list)  # (text parts before the image, src)

    @property
    def link_density(self) -> float:
        return self.anchor_chars / self.total_chars if self.total_chars else 0.0

    @property
    def n_words(self) -> int:
        return len(self.text.split())

    def is_heading(self) -> bool:
        return self.tag in HEADING_TAGS


def _img_src(html: str, i: int, endpos: int) -> str | None:
    """The ``src`` html.parser reports for the <img ...> tag at ``html[i:endpos]``
    (the last ``src`` attribute wins, as in ``dict(attrs)``)."""
    src = None
    k = _tagfind(html, i + 1).end()
    while k < endpos:
        m = _attrfind(html, k)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if name.lower() == "src":
            if not rest:
                value = None
            elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
                value = value[1:-1]
            if value:
                value = unescape(value)
            src = value
        k = m.end()
    return src


def _scan_markup(html: str, i: int, tail: int) -> tuple:
    """The markup at ``html[i] == '<'`` that the fast paths in
    ``segment_blocks`` leave, read as html.parser reads it. ``tail`` is the
    offset past the last character that can end a tag name. Returns
    ``(end, tag, is_end, selfclose, src, data)``: a tag event (``tag`` set)
    or a text event (``data`` set) or neither (skipped markup) ending at
    ``end``; ``end`` is -1 where html.parser raises and stops."""
    n = len(html)
    tag = src = data = None
    is_end = selfclose = False
    c = html[i + 1:i + 2]
    if c == "/":
        # </ name junk>; </> and bogus comments are skipped
        k = html.find(">", i + 1)
        if k >= 0:
            m = _tagfind(html, i + 2)
            if m:
                tag, is_end = m.group(1).lower(), True
            k += 1
    elif "a" <= c <= "z" or "A" <= c <= "Z":
        if i + 1 >= tail:
            # the tag name runs to the end of input: unterminated. Skipping
            # the scan keeps a run of unclosed "<a" linear
            k = -1
        else:
            m = _locate_starttag_end(html, i)
            k = m.end()
            nxt = html[k:k + 1]
            if nxt == ">":
                k += 1
            elif nxt == "/":
                k = k + 2 if html.startswith("/>", k) else -1
            elif not nxt or nxt in _TAG_RUNS_ON:
                k = -1
        if k >= 0:
            m = _tag_attrs(html, i + 1)
            end = html[m.end():k].strip()
            if end == ">" or end == "/>":
                tag, selfclose = m.group(1).lower(), end == "/>"
                if tag == "img":
                    src = _img_src(html, i, k)
            else:
                data = html[i:k]
    elif c == "!":
        if html.startswith("<!--", i):
            m = _commentclose(html, i + 4)
            k = m.end() if m else -1
        elif html.startswith("<![", i):
            m = _declname(html, i + 3)
            if i + 3 == n or (m and m.end() == n):
                k = -1
            elif not m:
                return -1, None, False, False, None, None
            else:
                section = m.group().strip().lower()
                if section in ("temp", "cdata", "ignore", "include", "rcdata"):
                    m = _markedsectionclose(html, i + 3)
                elif section in ("if", "else", "endif"):
                    m = _msmarkedsectionclose(html, i + 3)
                else:
                    return -1, None, False, False, None, None
                k = m.end() if m else -1
        else:  # <!doctype ...>, bogus comment
            k = html.find(">", i + 2)
            k = k + 1 if k >= 0 else -1
    elif c == "?":
        k = html.find(">", i + 2)
        k = k + 1 if k >= 0 else -1
    else:  # a stray '<', trailing or not
        return i + 1, None, False, False, None, "<"
    if k < 0:
        # unterminated markup: text up to the next '>' (or '<')
        k = html.find(">", i + 1) if i + 1 < tail else -1
        if k < 0:
            k = html.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        data = unescape(html[i:k])
    return k, tag, is_end, selfclose, src, data


def segment_blocks(html: str) -> list[Block]:
    """Text blocks of ``html`` in document order. A block opens at a block
    tag (or at the first text or image outside one) and closes at the next
    block or boilerplate-container boundary; blocks with neither text nor
    images are dropped."""
    blocks: list[Block] = []
    find = html.find
    n = len(html)
    i = 0
    # the open block: ``tag`` is None when there is none
    tag = None
    parts: list[str] = []
    images: list = []
    total = anchor = 0
    in_bp = False
    a_depth = bp_depth = skip_depth = 0
    tail = None  # see _scan_markup; found on first use
    while i < n:
        if html[i] != "<":
            j = find("<", i)
            if j < 0:
                j = n
            data = html[i:j]
            i = j
            if skip_depth:
                continue
            if "&" in data:
                data = unescape(data)
        else:
            m = _simple_starttag(html, i)
            if m:
                name, is_end, selfclose = m.group(1).lower(), False, m.group(2)
                src = _img_src(html, i, m.end()) if name == "img" else None
                i = m.end()
            else:
                m = _endtag(html, i)
                if m:
                    name, is_end = m.group(1).lower(), True
                    i = m.end()
                else:
                    if tail is None:
                        tail = max(map(html.rfind, _TAG_NAME_ENDS)) + 1
                    i, name, is_end, selfclose, src, data = _scan_markup(html, i, tail)
                    if i < 0:
                        break  # html.parser raises here; keep the blocks so far
            if name is not None:
                if name in SKIP_CONTENT:
                    if is_end:
                        if skip_depth:
                            skip_depth -= 1
                        continue
                    skip_depth += 1
                    if not selfclose and name in _rawtext_close:
                        # raw text up to the matching end tag; unclosed, the
                        # rest of the document is dropped
                        close = _rawtext_close[name]
                        while True:
                            m = close(html, i)
                            if m is None:
                                i = n
                                break
                            i = m.end()
                            m = _endtag(html, m.start())
                            if m and m.group(1).lower() == name:
                                skip_depth -= 1
                                break
                elif name in _FLUSH_TAGS:
                    if tag is not None:
                        if total or images:
                            blocks.append(Block(tag, " ".join("".join(parts).split()),
                                                total, anchor, in_bp, images))
                        tag = None
                    if name in BOILERPLATE_CONTAINERS:
                        if not is_end:
                            bp_depth += 1
                        elif bp_depth:
                            bp_depth -= 1
                    elif not is_end:
                        tag, parts, images, total, anchor, in_bp = name, [], [], 0, 0, bp_depth > 0
                elif is_end:
                    if name == "a" and a_depth:
                        a_depth -= 1
                elif name == "a":
                    a_depth += 1
                elif name == "br":
                    if tag is not None:
                        parts.append(" ")
                elif name == "img" and src and not skip_depth:
                    if tag is None:
                        tag, parts, images, total, anchor, in_bp = "p", [], [], 0, 0, bp_depth > 0
                    images.append((len(parts), src))
                continue
            if data is None or skip_depth:
                continue
        stripped = data.strip()
        if not stripped:
            # a whitespace-only text node between inline elements
            # ("<i>one</i> <i>two</i>") is still a word separator: append
            # one space to an OPEN block, but never open a block for it and
            # never count it toward char/link densities
            if tag is not None and parts:
                parts.append(" ")
            continue
        if tag is None:
            tag, parts, images, total, anchor, in_bp = "p", [], [], 0, 0, bp_depth > 0
        parts.append(data)
        total += len(stripped)
        if a_depth:
            anchor += len(stripped)
    if tag is not None and (total or images):
        blocks.append(Block(tag, " ".join("".join(parts).split()), total, anchor, in_bp, images))
    return blocks


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Boilerpipe-style density classification; heading lookahead keeps a
    short heading when the next classified block is content."""
    keep = [False] * len(blocks)
    for i, b in enumerate(blocks):
        if b.in_boilerplate:
            continue
        if b.n_words >= MIN_WORDS and b.link_density <= MAX_LINK_DENSITY:
            keep[i] = True
    # heading retention pass (jusText "short" -> "near-good" promotion)
    for i, b in enumerate(blocks):
        if keep[i] or b.in_boilerplate or not b.is_heading() or not b.text:
            continue
        for j in range(i + 1, min(i + 3, len(blocks))):
            if keep[j]:
                keep[i] = b.link_density <= MAX_LINK_DENSITY
                break
    # image retention: an image block below the word threshold (text-less
    # figures AND short-caption figcaption/caption blocks — round-4
    # review: requiring emptiness dropped captioned figures) is content
    # when flanked by a kept block
    for i, b in enumerate(blocks):
        if keep[i] or b.in_boilerplate or not b.images or b.n_words >= MIN_WORDS:
            continue
        prev_kept = any(keep[j] for j in range(max(0, i - 2), i))
        next_kept = any(keep[j] for j in range(i + 1, min(i + 3, len(blocks))))
        keep[i] = prev_kept or next_kept
    return keep


def extract_html_spans(html: str) -> list[tuple[str, str | None, str | None]]:
    """HTML -> ordered (kind, text, media_ref) spans of the main content."""
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks)
    spans: list[tuple[str, str | None, str | None]] = []
    for b, k in zip(blocks, keep):
        if not k:
            continue
        if b.text:
            spans.append(("text", b.text, None))
        for _, src in b.images:
            spans.append(("media", None, src))
    return spans
