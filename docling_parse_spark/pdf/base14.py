"""Base-14 standard font metrics from the full Adobe Core 14 AFM data
(compiled into pdf/data/afm.json.gz by tools/build_font_data.py; the
reference loads the same AFM files from its resource dir — page_font.h:313-366
falls back to base-14 metrics; docling_parse/pdf_resources/fonts/standard/).

Covers all 14 fonts (incl. italic/oblique variants, Symbol, ZapfDingbats)
over their full glyph sets: width by built-in AFM char code and width by
glyph name (for /Differences or simple-encoding resolution). Widths 1/1000 em.
"""

from __future__ import annotations

from docling_parse_spark.pdf.resources_data import afm_metrics


def resolve_afm_name(base_font: str | None) -> str | None:
    """Map a /BaseFont value to its Core-14 AFM name (subset-tag and
    alias/style tolerant: Arial->Helvetica, TimesNewRoman,Bold ->
    Times-Bold, 'oblique'≙'italic')."""
    if not isinstance(base_font, str) or not base_font:
        return None
    name = base_font.split("+")[-1]  # strip 'ABCDEF+' subset tags
    metrics = afm_metrics()
    if name in metrics:
        return name
    low = name.lower().replace(" ", "")
    bold = "bold" in low
    italic = "italic" in low or "oblique" in low
    if "courier" in low:
        return "Courier" + ("-BoldOblique" if bold and italic else "-Bold" if bold else "-Oblique" if italic else "")
    if "helvetica" in low or "arial" in low:
        return "Helvetica" + ("-BoldOblique" if bold and italic else "-Bold" if bold else "-Oblique" if italic else "")
    if "times" in low:
        return "Times-" + ("BoldItalic" if bold and italic else "Bold" if bold else "Italic" if italic else "Roman")
    if "symbol" in low:
        return "Symbol"
    if "zapf" in low or "dingbat" in low:
        return "ZapfDingbats"
    return None


def base14_width(base_font: str, code: int, glyph_name: str | None = None) -> float | None:
    """AFM width: by glyph name when known (post-encoding resolution), else
    by the font's built-in AFM char code."""
    afm_name = resolve_afm_name(base_font)
    if afm_name is None:
        return None
    m = afm_metrics()[afm_name]
    if glyph_name is not None:
        w = m["by_name"].get(glyph_name)
        if w is not None:
            return float(w)
    w = m["by_code"].get(code)
    return float(w) if w is not None else None

