"""Glyph-level OCR: read TEXT out of a bitmap, inside an Arrow kernel.

The reference's core capability is extracting text content from images
via a vision LLM (/root/reference/services/gemini_service.py:61-146:
image -> structured text fields).  This module closes that modality
with a deterministic, dependency-free analogue: a fixed 5x7 bitmap
font, a renderer that typesets a string into a real PNG, and a decoder
that recovers the string from the PIXELS alone — binarization,
projection-profile line/glyph segmentation, gap-based space inference,
and template matching against the font table.  The decoder never sees
the input string or any layout metadata; everything it knows, it reads
from the bitmap (the PNG is parsed by the same stdlib pixel decoder as
the perceptual-hash path, operators/multimodal.py:_decode_png_raw).

Scale shape: OCR is per-row work — the binary column never shuffles;
decode runs where the bytes live (the shared Arrow batch path,
``extract.map_payloads``) and only the (id, text, n_glyphs, status)
row moves downstream, the identical discipline as decode_media /
image_ahash.  At 10^12 images the cost is
one Arrow-batched pass, zero exchanges.

The font is intentionally CLOSED (A-Z, 0-9, space): a template-match
decoder is exact on its own alphabet and says so ('?', n_unknown) off
it — unlike a statistical OCR there is no silent approximation, which
is what makes the operator value-oracle-able end-to-end (decoded text
== planted text, closed form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.operators.multimodal import _decode_png_raw, _map_media

GLYPH_W, GLYPH_H = 5, 7
CELL_W, CELL_H = GLYPH_W + 1, GLYPH_H + 1   # 1px inter-glyph / inter-line
# blank-column run >= this between glyph spans reads as ONE space: the
# widest intra-word gap is 3 (two adjacent 1px-margin glyphs like I/1),
# the narrowest inter-word gap is 7 (empty 6px space cell + 1px
# spacing), so any threshold in [4, 7] is exact; 5 sits mid-margin.
SPACE_GAP_MIN = 5

# 5x7 bitmap font, one int per row, bit 4 = leftmost pixel.  Classic
# LED-matrix letterforms; every glyph has ink in its top and bottom row
# (so a text line's row-band is exactly GLYPH_H tall) and no internal
# all-blank column (so column projection can't split a glyph) — both
# invariants are asserted by tests/test_ocr.py.
FONT: dict[str, tuple[int, ...]] = {
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11100, 0b10010, 0b10001, 0b10001, 0b10001, 0b10010, 0b11100),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b11011, 0b10001),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b01000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
}

ALPHABET = set(FONT) | {" "}


def _glyph_cols(rows: tuple[int, ...]) -> tuple[int, int]:
    """(first, last) used column of a glyph pattern (bit 4 = col 0)."""
    used = [c for c in range(GLYPH_W)
            if any(r & (1 << (GLYPH_W - 1 - c)) for r in rows)]
    return used[0], used[-1]


def _cropped_key(rows: list[int], c0: int, c1: int) -> tuple[int, ...]:
    """Column-cropped pattern as a width-tagged tuple — the match key.
    Cropping makes segmentation-by-projection and template lookup agree
    for narrow glyphs (I, 1) whose cells have blank margin columns."""
    w = c1 - c0 + 1
    out = [w]
    for r in rows:
        v = 0
        for c in range(c0, c1 + 1):
            v = (v << 1) | ((r >> (GLYPH_W - 1 - c)) & 1)
        out.append(v)
    return tuple(out)


def _templates() -> dict[tuple[int, ...], str]:
    t = {}
    for ch, rows in FONT.items():
        c0, c1 = _glyph_cols(rows)
        key = _cropped_key(list(rows), c0, c1)
        assert key not in t, f"font not injective after crop: {ch}/{t[key]}"
        t[key] = ch
    return t


TEMPLATES = _templates()


def render_text_pixels(text: str, ink: int = 0, paper: int = 255,
                       pad: int = 2) -> tuple[int, int, bytearray]:
    """Typeset ``text`` ('\\n' = line break) into a greyscale pixel
    grid -> (width, height, row-major bytes).  Unknown chars raise —
    the renderer is the test fixture generator, it must not guess."""
    lines = text.split("\n") if text else [""]
    for ln in lines:
        for ch in ln:
            if ch not in ALPHABET:
                raise ValueError(f"char not in font alphabet: {ch!r}")
    n_cols = max((len(ln) for ln in lines), default=0)
    w = max(1, n_cols * CELL_W + 2 * pad)
    h = max(1, len(lines) * CELL_H + 2 * pad)
    grid = bytearray([paper]) * (w * h)
    for li, ln in enumerate(lines):
        y0 = pad + li * CELL_H
        for ci, ch in enumerate(ln):
            if ch == " ":
                continue
            rows = FONT[ch]
            x0 = pad + ci * CELL_W
            for dy, r in enumerate(rows):
                base = (y0 + dy) * w + x0
                for dx in range(GLYPH_W):
                    if r & (1 << (GLYPH_W - 1 - dx)):
                        grid[base + dx] = ink
    return w, h, grid


def render_text_png(text: str, ink: int = 0, paper: int = 255,
                    pad: int = 2) -> bytes:
    """``text`` -> real greyscale PNG (via data.synth.build_png, the
    same encoder the decode-path fixtures use)."""
    from ocr_spark.data.synth import build_png

    w, h, grid = render_text_pixels(text, ink=ink, paper=paper, pad=pad)
    return build_png(w, h, color_type=0,
                     pixel_fn=lambda i, c: grid[i])


def decode_glyph_text(payload: bytes, threshold: int = 128) -> dict:
    """OCR a PNG back to text from pixels alone.

    Steps: stdlib PNG pixel decode (greyscale direct; multi-channel
    reduced to integer-mean luma) -> binarize at ``threshold`` ->
    row-projection line bands (blank-row separated) -> per line,
    column-projection glyph spans (blank-col separated; a blank run
    >= SPACE_GAP_MIN between spans emits one space) -> each span's
    column-cropped 7-row pattern matched EXACTLY against the cropped
    font templates; a pattern off the alphabet decodes as '?' and
    increments ``n_unknown`` rather than guessing.  Lines join with
    '\\n'.  Returns {text, n_glyphs, n_unknown, width, height}."""
    w, h, ch, pixels = _decode_png_raw(payload)
    if ch == 1:
        gray = pixels
    else:
        gray = bytearray(w * h)
        use = ch - 1 if ch in (2, 4) else ch    # ignore alpha (GA, RGBA)
        for i in range(w * h):
            base = i * ch
            gray[i] = sum(pixels[base:base + use]) // use
    ink_rows = []
    for y in range(h):
        row = gray[y * w:(y + 1) * w]
        ink_rows.append(any(v < threshold for v in row))
    # line bands: maximal runs of inky rows
    bands = []
    y = 0
    while y < h:
        if ink_rows[y]:
            y1 = y
            while y1 + 1 < h and ink_rows[y1 + 1]:
                y1 += 1
            bands.append((y, y1))
            y = y1 + 1
        else:
            y += 1
    lines_out = []
    n_glyphs = 0
    n_unknown = 0
    for (y0, y1) in bands:
        # column projection within the band
        col_ink = [False] * w
        for y in range(y0, min(y1 + 1, y0 + GLYPH_H)):
            base = y * w
            for x in range(w):
                if gray[base + x] < threshold:
                    col_ink[x] = True
        spans = []
        x = 0
        while x < w:
            if col_ink[x]:
                x1 = x
                while x1 + 1 < w and col_ink[x1 + 1]:
                    x1 += 1
                spans.append((x, x1))
                x = x1 + 1
            else:
                x += 1
        chars = []
        prev_end = None
        for (x0, x1) in spans:
            if prev_end is not None and x0 - prev_end - 1 >= SPACE_GAP_MIN:
                chars.append(" ")
            prev_end = x1
            rows = []
            for dy in range(GLYPH_H):
                y = y0 + dy
                v = 0
                for x in range(x0, x1 + 1):
                    bit = 1 if (y <= y1 and gray[y * w + x] < threshold) \
                        else 0
                    v = (v << 1) | bit
                rows.append(v)
            key = tuple([x1 - x0 + 1] + rows)
            ch_out = TEMPLATES.get(key)
            n_glyphs += 1
            if ch_out is None:
                n_unknown += 1
                chars.append("?")
            else:
                chars.append(ch_out)
        lines_out.append("".join(chars))
    return {
        "text": "\n".join(lines_out),
        "n_glyphs": n_glyphs,
        "n_unknown": n_unknown,
        "width": int(w),
        "height": int(h),
    }


OCR_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_glyphs", T.IntegerType(), True),
        T.StructField("n_unknown", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_msg", T.StringType(), True),
    ]
)


def ocr_decode(df: DataFrame, payload_col: str = "payload",
               id_col: str = "media_id") -> DataFrame:
    """Per-image OCR rows, Arrow-batched: the reference's image->text
    endpoint (services/gemini_service.py:61-146) as a partition-local
    operator.  Same shape and error taxonomy as decode_media /
    image_ahash — bad payloads become ``processing_error`` ROWS (O16),
    never exceptions; the binary column never crosses an exchange."""
    return _map_media(
        df, lambda p: {"status": "ok", **decode_glyph_text(bytes(p))},
        OCR_SCHEMA, payload_col, id_col, error_status="processing_error")
