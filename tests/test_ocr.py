"""Glyph-level OCR (operators/ocr.py): font invariants the segmenter
relies on, pixel-roundtrip exactness across PNG encodings, honest
unknown-glyph behavior, and the Spark operator's error taxonomy."""

import pytest

from ocr_spark.operators.ocr import (ALPHABET, FONT, GLYPH_H, GLYPH_W,
                                     TEMPLATES, _glyph_cols,
                                     decode_glyph_text, ocr_decode,
                                     render_text_pixels, render_text_png)


def test_font_invariants():
    """Segmentation exactness rests on three font properties: every
    glyph spans the full 7-row band (top+bottom ink), no glyph has an
    internal all-blank column (column projection can't split it), and
    the column-cropped patterns are injective (template match can't
    confuse two glyphs)."""
    assert len(TEMPLATES) == len(FONT)   # injective after crop
    for ch, rows in FONT.items():
        assert len(rows) == GLYPH_H
        assert rows[0] != 0 and rows[-1] != 0, ch
        c0, c1 = _glyph_cols(rows)
        for c in range(c0, c1 + 1):
            assert any(r & (1 << (GLYPH_W - 1 - c)) for r in rows), \
                f"{ch}: internal blank column {c}"


@pytest.mark.parametrize("text", [
    "HELLO WORLD",
    "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG 0123456789",
    "".join(sorted(ALPHABET - {" "})),      # every glyph, no spaces
    "A",
    "II II 11 1I",        # narrow glyphs: margins must not read as spaces
    "AB\nCD 42\nX",       # multi-line
    "",
])
def test_roundtrip_exact(text):
    got = decode_glyph_text(render_text_png(text))
    assert got["text"] == text
    assert got["n_unknown"] == 0
    expected_glyphs = sum(1 for c in text if c not in (" ", "\n"))
    assert got["n_glyphs"] == expected_glyphs


@pytest.mark.parametrize("filter_type", [1, 2, 3, 4])
def test_roundtrip_across_png_filters(filter_type):
    """The decoder must actually unfilter: the same pixels arrive
    through each PNG scanline filter type."""
    from ocr_spark.data.synth import build_png

    text = "FILTER TEST 99"
    w, h, grid = render_text_pixels(text)
    png = build_png(w, h, color_type=0, filter_type=filter_type,
                    pixel_fn=lambda i, c: grid[i])
    assert decode_glyph_text(png)["text"] == text


def test_roundtrip_rgb_luma_path():
    """Multi-channel PNGs reduce to integer-mean luma before
    binarization; equal-channel RGB must decode identically to grey."""
    from ocr_spark.data.synth import build_png

    text = "RGB PATH"
    w, h, grid = render_text_pixels(text)
    png = build_png(w, h, color_type=2, pixel_fn=lambda i, c: grid[i])
    assert decode_glyph_text(png)["text"] == text


def test_grey_alpha_luma_ignores_alpha():
    """Grey+alpha PNGs binarize on the grey channel alone: opaque ink
    of grey level 2 averaged with its alpha (255) would land at the
    threshold and read as blank paper."""
    from ocr_spark.data.synth import build_png

    text = "GA INK"
    w, h, grid = render_text_pixels(text, ink=2)
    png = build_png(w, h, color_type=4,
                    pixel_fn=lambda i, c: grid[i] if c == 0 else 255)
    got = decode_glyph_text(png)
    assert got["text"] == text
    assert got["n_glyphs"] == len(text.replace(" ", ""))


def test_unknown_glyph_reads_as_question_mark():
    """A pattern off the alphabet must decode as '?' and count in
    n_unknown — never silently match the nearest template."""
    from ocr_spark.data.synth import build_png

    # solid 5x7 block centred in a padded canvas: not any font glyph
    w, h = 9, 11
    grid = [255] * (w * h)
    for y in range(2, 2 + GLYPH_H):
        for x in range(2, 2 + GLYPH_W):
            grid[y * w + x] = 0
    png = build_png(w, h, color_type=0, pixel_fn=lambda i, c: grid[i])
    got = decode_glyph_text(png)
    assert got["text"] == "?"
    assert got["n_unknown"] == 1 and got["n_glyphs"] == 1


def test_renderer_rejects_off_alphabet_chars():
    with pytest.raises(ValueError, match="not in font alphabet"):
        render_text_png("lower")


def test_ocr_decode_operator_rows_and_error_taxonomy(spark):
    """Spark surface: good PNGs decode to their text, truncated bytes
    become processing_error ROWS (status + error_msg), one row per
    input either way."""
    pngs = {i: render_text_png(t)
            for i, t in enumerate(["SPARK OCR", "ROW 2", "THIRD 33"])}
    rows = [(str(i), bytearray(p)) for i, p in pngs.items()]
    rows.append(("9", bytearray(pngs[0][:25])))          # truncated
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r["media_id"]: r for r in ocr_decode(df).collect()}
    assert len(got) == 4
    assert got["0"]["text"] == "SPARK OCR"
    assert got["1"]["text"] == "ROW 2"
    assert got["2"]["text"] == "THIRD 33"
    assert got["2"]["status"] == "ok"
    assert got["9"]["status"] == "processing_error"
    assert got["9"]["text"] is None
    assert got["9"]["error_msg"]


def test_ocr_decode_query_plants_na_for_null_text(spark, tmp_path):
    """q_ocr_decode renders 'NA' for a NULL document text, as it does
    for an empty one, instead of failing the query; the DuckDB twin
    agrees row for row."""
    import duckdb

    import __spark_entry__ as entry_mod

    docs = str(tmp_path / "documents.parquet")
    duckdb.sql("SELECT * FROM (VALUES (1, NULL::VARCHAR), (2, 'row two')) "
               "t(doc_id, text)").write_parquet(docs)
    got = sorted(tuple(r) for r in
                 entry_mod.q_ocr_decode(spark, str(tmp_path)).collect())
    assert got == [(1, "NA", 2, "ok"), (2, "ROW TWO", 6, "ok")]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{docs}')")
    want = con.execute(entry_mod.oracle_sql()["ocr_decode"]).fetchall()
    assert sorted(tuple(r) for r in want) == got
