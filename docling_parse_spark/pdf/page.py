"""Per-page decode orchestration: content stream -> ordered output spans.

Mirrors the reference's fixed stage order in ``decode_page``
(reference: src/parse/pdf_decoders/page.h:803-909):

  dimensions -> resources -> contents (tokenize + interpret) -> [annots]
  -> rotate -> orientation-sanitize -> remove_duplicate_cells
  -> sanitize_text -> word/line cell creation

Output: ordered ``(kind, text, media_ref)`` spans per page — text cells
(word or line unit) interleaved with visible media placements in
content-stream order (cells carry the instruction ordinal of their first
constituent glyph; images carry their ``Do`` ordinal).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from docling_parse_spark.pdf.fonts import Font, font_from_json
from docling_parse_spark.pdf.interpreter import PageInterpreter
from docling_parse_spark.pdf.sanitize import (
    create_line_cells,
    create_word_cells,
    remove_duplicate_cells,
    rotate_bbox,
    rotate_cells,
    sanitize_text,
)
from docling_parse_spark.pdf.tokenizer import tokenize
from time import perf_counter as _clock

DEFAULT_MEDIA_BOX = (0.0, 0.0, 612.0, 792.0)


@dataclass
class DecodeConfig:
    """Engine tuning — analog of the reference's decode_config + ContentConfig
    (src/parse/config.h:9-62, docling_parse/pdf_parser.py:206-267)."""

    output_unit: str = "word"  # 'char' | 'word' | 'line'
    emit_shapes: bool = False
    # 'stream' = content-stream order (reference parity); 'xycut' = XY-cut
    # reading-order reconstruction (north-star addition, operators/xycut.py)
    reading_order: str = "stream"


@dataclass
class PageResult:
    spans: list = field(default_factory=list)  # [(kind, text, media_ref)]
    cells_emitted: int = 0
    failed: bool = False
    error: str = ""
    cells: list = field(default_factory=list)  # output-unit cells (post-merge)
    shapes: list = field(default_factory=list)
    # per-stage wall ms — the reference's pdf_timings keys
    # (src/parse/utils/pdf_timings.h:32-99, aggregated page.h:1076-1111):
    # tokenize≙decode_contents-parse, interpret≙interprete_ops_total,
    # words≙create_word_cells/create_line_cells; dedup and sanitize time
    # remove_duplicate_cells and sanitize_text, order the rest of the finish
    timings: dict = field(default_factory=dict)


def _box(v) -> tuple:
    """A page box as a 4-tuple; TypeError unless it is exactly four numbers."""
    if isinstance(v, (list, tuple)) and len(v) == 4 and all(
        isinstance(x, (int, float)) for x in v
    ):
        return tuple(v)
    raise TypeError(f"page box is not four numbers: {v!r}")


def page_geometry(d) -> dict:
    """A decoded pdf_page descriptor -> ``{media_box, crop_box, rotate}``;
    anything that is not a well-formed descriptor (incl. a box that is not
    four numbers) gets the default page."""
    default = {"media_box": DEFAULT_MEDIA_BOX, "crop_box": None, "rotate": 0}
    if not isinstance(d, dict):
        return default
    try:
        return {
            "media_box": _box(d.get("media_box", DEFAULT_MEDIA_BOX)),
            "crop_box": _box(d["crop_box"]) if d.get("crop_box") else None,
            "rotate": int(d.get("rotate", 0)),
        }
    except (ValueError, TypeError, OverflowError):  # OverflowError: int(inf)
        return default


def build_fonts(font_blobs: list[str]) -> dict[str, Font]:
    fonts: dict[str, Font] = {}
    for blob in font_blobs:
        f = font_from_json(blob)
        fonts[f.font_key] = f
    return fonts


def decode_page(
    content: bytes | str,
    fonts: dict[str, Font],
    images: dict[str, str] | None = None,
    forms: dict[str, dict] | None = None,
    colorspaces: dict[str, int] | None = None,
    page_desc: dict | None = None,
    config: DecodeConfig | None = None,
) -> PageResult:
    config = config or DecodeConfig()
    page_desc = page_desc or {"media_box": DEFAULT_MEDIA_BOX, "rotate": 0}
    res = PageResult()
    if isinstance(content, str):
        content = content.encode("utf-8", "surrogateescape")
    t0 = _clock()
    try:
        instructions = tokenize(content)
        t1 = _clock()
        interp = PageInterpreter(fonts, images=images, forms=forms, colorspaces=colorspaces)
        interp.run(instructions)
    except Exception as e:  # corrupt stream: match reference's per-page failure
        res.failed = True
        res.error = f"{type(e).__name__}: {e}"
        return res
    t2 = _clock()
    res.timings["tokenize"] = (t1 - t0) * 1000.0
    res.timings["interpret"] = (t2 - t1) * 1000.0

    try:
        return _finish_page(res, interp, page_desc, config, t2)
    except Exception as e:  # non-finite geometry etc.: per-page failure, not
        # a task-killing exception (reference load-failure posture)
        res.failed = True
        res.error = f"{type(e).__name__}: {e}"
        res.spans = []
        res.cells = []
        return res


def _finish_page(res: PageResult, interp, page_desc: dict, config: DecodeConfig, t2: float) -> PageResult:
    cells = interp.cells
    res.cells_emitted = len(cells)

    # orientation sanitize (reference: page.h:862-872, crop_box default
    # boundary): items are mapped into the chosen page boundary — translate
    # by the crop origin so output coordinates start at (0, 0)
    box = page_desc.get("crop_box") or page_desc["media_box"]
    width, height = box[2] - box[0], box[3] - box[1]
    if box[0] or box[1]:
        dx, dy = -box[0], -box[1]
        for c in cells:
            c.r_x0 += dx; c.r_x1 += dx; c.r_x2 += dx; c.r_x3 += dx
            c.r_y0 += dy; c.r_y1 += dy; c.r_y2 += dy; c.r_y3 += dy
        for b in interp.bitmaps:
            b.x0 += dx; b.x1 += dx; b.y0 += dy; b.y1 += dy
        for s in interp.shapes:
            # shapes share the page frame with cells/bitmaps — leaving
            # them untranslated put shape spans (and xycut ordering over
            # them) in a different coordinate frame (round-4 review)
            s.points = [(px + dx, py + dy) for px, py in s.points]
    rotate = page_desc["rotate"]
    if rotate:
        rotate_cells(cells, rotate, width, height)

    t3 = _clock()
    cells = remove_duplicate_cells(cells)
    t4 = _clock()
    sanitize_text(cells)
    t5 = _clock()
    if config.output_unit == "word":
        out_cells = create_word_cells(cells, copy=False)  # char cells are ours
    elif config.output_unit == "line":
        out_cells = create_line_cells(cells, copy=False)
    else:
        out_cells = [c for c in cells if c.text.strip() != ""]
    t6 = _clock()

    res.cells = out_cells
    res.shapes = interp.shapes

    items: list[tuple[int, int, str, str | None, str | None, tuple]] = []
    # (instr_count, tiebreak, kind, text, media_ref, bbox)
    for k, c in enumerate(out_cells):
        items.append((c.instr_count, k, "text", c.text, None, (c.x0, c.y0, c.x1, c.y1)))
    for k, b in enumerate(interp.bitmaps):
        if b.visible:
            if rotate:
                b.x0, b.y0, b.x1, b.y1 = rotate_bbox(b.x0, b.y0, b.x1, b.y1, rotate, width, height)
            items.append((b.instr_count, k, "media", None, b.media_ref, (b.x0, b.y0, b.x1, b.y1)))
    if config.emit_shapes:
        for k, s in enumerate(interp.shapes):
            xs = [p[0] for p in s.points]
            ys = [p[1] for p in s.points]
            bb = (min(xs), min(ys), max(xs), max(ys))
            if rotate:
                bb = rotate_bbox(*bb, rotate, width, height)
            # compact descriptor so shape spans carry real geometry (the
            # reference serializes full shape records, page_shape.h)
            desc = json.dumps({
                "bbox": [round(v, 2) for v in bb],
                "stroked": s.stroked,
                "filled": s.filled,
                "n_points": len(s.points),
            }, sort_keys=True)
            items.append((s.instr_count, k, "shape", desc, None, bb))
    items.sort(key=lambda it: (it[0], it[1]))
    if config.reading_order == "xycut" and items:
        from docling_parse_spark.operators.xycut import xy_cut_order

        order = xy_cut_order([it[5] for it in items])
        items = [items[i] for i in order]
    res.spans = [(kind, text, ref) for _, _, kind, text, ref, _ in items]
    # the four keys split the page finish since t2; order is the remainder
    dedup, sanitize, words = t4 - t3, t5 - t4, t6 - t5
    res.timings["dedup"] = dedup * 1000.0
    res.timings["sanitize"] = sanitize * 1000.0
    res.timings["words"] = words * 1000.0
    res.timings["order"] = (_clock() - t2 - dedup - sanitize - words) * 1000.0
    return res
