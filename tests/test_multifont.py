"""T1 multi-font accumulation + E4 reset, end-to-end.

The reference accumulates fonts by calling learn() repeatedly
(CurvatureClassifier.java:45-79 appends to mSymbols; OCR.java bundles both
arial and courier sheets) and reset() clears the learned set (:82-85).
This exercises the full loop on a real two-font page: words rendered from
the courier sheet are only readable once courier is learned, arial
recognition is unharmed by the extra font, and reset() restores
single-font behavior bit-for-bit.
"""

import os

import numpy as np
import pytest

from ocr_spark.fixtures import CHAR_SPACING, GLYPH_GAP, MARGIN, WORD_GAP
from ocr_spark.kernel.bitmap import black_mask
from ocr_spark.kernel.classify import DEFAULT_ALPHABET, Alphabet
from ocr_spark.kernel.engine import page_text, scan_page
from ocr_spark.kernel.segment import Settings
from ocr_spark.png import decode_gray

GOLDENS = os.path.join(os.path.dirname(__file__), "goldens")

# Courier-rendered words the arial-only alphabet provably misreads but the
# two-font alphabet reads exactly (probed against the committed sheets; any
# kernel change that breaks the discrimination fails the assertions below).
COURIER_ONLY_WORDS = ["Data", "Spark", "hash", "batch", "Test", "Range", "567"]
ARIAL_WORDS = ["Query", "order", "Extract", "1234"]


def _sheet(font):
    with open(os.path.join(GOLDENS, f"{font}.gray.png"), "rb") as f:
        return decode_gray(f.read())


def _glyphs(sheet):
    """Tight-ink glyph crops off a 13x6 reference-grid sheet (the same crop
    rule as fixtures.load_glyphs, over an arbitrary sheet)."""
    mask = black_mask(sheet)
    glyphs = {}
    for gy in range(6):
        for gx in range(13):
            bx, by, bw, bh = 71 * gx + 1, 69 * gy + 1, 69, 67
            ch = DEFAULT_ALPHABET[13 * gy + gx]
            sub = mask[by : by + bh, bx : bx + bw]
            if not sub.any():
                continue
            ys, xs = np.nonzero(sub)
            glyphs.setdefault(
                ch, sheet[by + ys.min() : by + ys.max() + 1, bx + xs.min() : bx + xs.max() + 1]
            )
    return glyphs


def _render_mixed(pairs):
    """One page from (word, glyph-dict) pairs — a genuine two-font page."""
    h = max(max(g[c].shape[0] for c in w) for w, g in pairs)
    w_tot = (
        sum(sum(g[c].shape[1] for c in w) + GLYPH_GAP * (len(w) - 1) for w, g in pairs)
        + WORD_GAP * (len(pairs) - 1)
    )
    page = np.full((h + 2 * MARGIN, w_tot + 2 * MARGIN), 255, dtype=np.uint8)
    x = MARGIN
    for w, g in pairs:
        for c in w:
            gl = g[c]
            page[MARGIN : MARGIN + gl.shape[0], x : x + gl.shape[1]] = gl
            x += gl.shape[1] + GLYPH_GAP
        x += WORD_GAP - GLYPH_GAP
    return page


@pytest.fixture(scope="module")
def sheets():
    return _sheet("arial"), _sheet("courier")


@pytest.fixture(scope="module")
def settings():
    return Settings(character_spacing=CHAR_SPACING)


def test_multifont_accumulates_templates(sheets):
    arial, courier = sheets
    single = Alphabet().learn_sheet(arial, "arial")
    courier_only = Alphabet().learn_sheet(courier, "courier")
    combo = Alphabet().learn_sheet(arial, "arial").learn_sheet(courier, "courier")
    assert len(combo.chars) == len(single.chars) + len(courier_only.chars)
    assert sorted(set(combo.fonts)) == ["arial", "courier"]
    # arial templates keep their positions: repeated learn() is append-only
    assert combo.chars[: len(single.chars)] == single.chars
    assert (combo.vectors[: len(single.chars)] == single.vectors).all()


def test_two_font_page_end_to_end(sheets, settings):
    arial, courier = sheets
    ag, cg = _glyphs(arial), _glyphs(courier)
    combo = Alphabet().learn_sheet(arial, "arial").learn_sheet(courier, "courier")
    arial_only = Alphabet().learn_sheet(arial, "arial")

    pairs = [
        (ARIAL_WORDS[0], ag),
        (COURIER_ONLY_WORDS[0], cg),
        (ARIAL_WORDS[1], ag),
        (COURIER_ONLY_WORDS[1], cg),
        (ARIAL_WORDS[2], ag),
        (COURIER_ONLY_WORDS[2], cg),
    ]
    truth = " ".join(w for w, _ in pairs)
    page = _render_mixed(pairs)

    # the two-font alphabet reads the mixed page exactly...
    assert page_text(scan_page(page, settings, combo)) == truth
    # ...and the single-font alphabet provably cannot (the courier glyph
    # shapes matter — this is what makes the test discriminating)
    assert page_text(scan_page(page, settings, arial_only)) != truth

    # per-word: every courier word needs courier; every arial word must not
    # regress when courier is also learned
    for w in COURIER_ONLY_WORDS:
        p = _render_mixed([(w, cg)])
        assert page_text(scan_page(p, settings, combo)) == w, w
        assert page_text(scan_page(p, settings, arial_only)) != w, w
    for w in ARIAL_WORDS:
        p = _render_mixed([(w, ag)])
        assert page_text(scan_page(p, settings, combo)) == w, w
        assert page_text(scan_page(p, settings, arial_only)) == w, w


def test_load_alphabet_bundled_fonts(sheets):
    """Pipeline-surface loader: bundled two-font learn equals the manual
    accumulation, per-process memoization holds, unknown fonts fail fast."""
    from ocr_spark.pipeline.udfs import load_alphabet

    arial, courier = sheets
    manual = Alphabet().learn_sheet(arial, "arial").learn_sheet(courier, "courier")
    loaded = load_alphabet(("arial", "courier"))
    assert loaded.chars == manual.chars
    assert loaded.fonts == manual.fonts
    assert (loaded.vectors == manual.vectors).all()
    # lru memoization: same tuple -> same object, no relearn
    assert load_alphabet(("arial", "courier")) is loaded
    assert load_alphabet(("arial",)).fonts and set(load_alphabet(("arial",)).fonts) == {"arial"}
    with pytest.raises(ValueError):
        load_alphabet(("helvetica",))


def test_extract_spans_multifont_pipeline(sheets, tmp_path):
    """E2e through the Spark job surface: courier-rendered media pages are
    misread by the default alphabet and read exactly with
    fonts=('arial','courier') — the `--fonts` CLI path."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.job import configure, extract_spans
    from ocr_spark.png import encode_gray

    arial, courier = sheets
    cg = _glyphs(courier)
    words = COURIER_ONLY_WORDS[:4]

    import pyarrow as pa
    import pyarrow.parquet as pq

    media = pa.table(
        {
            "media_ref": [f"cpg-{i}" for i in range(len(words))],
            "png": pa.array(
                [encode_gray(_render_mixed([(w, cg)])) for w in words], pa.binary()
            ),
        }
    )
    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    docs = pa.table(
        {
            "doc_id": [f"d-{i}" for i in range(len(words))],
            "spans": pa.array(
                [[{"kind": "media", "text": None, "media_ref": f"cpg-{i}", "offset": 0}]
                 for i in range(len(words))],
                pa.list_(span_type),
            ),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    pq.write_table(media, str(tmp_path / "media.parquet"))

    builder = (
        SparkSession.builder.master("local[2]")
        .appName("ocr_spark-multifont")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    )
    spark = configure(builder).getOrCreate()
    try:
        docs_df = spark.read.parquet(str(tmp_path / "documents.parquet"))
        media_df = spark.read.parquet(str(tmp_path / "media.parquet"))
        got_multi = {
            (r.media_ref, r.text)
            for r in extract_spans(
                docs_df, media_df, fonts=("arial", "courier"), partitions=2
            ).collect()
        }
        got_default = {
            (r.media_ref, r.text)
            for r in extract_spans(docs_df, media_df, partitions=2).collect()
        }
    finally:
        spark.stop()
    truth = {(f"cpg-{i}", w) for i, w in enumerate(words)}
    assert got_multi == truth
    assert got_default != truth  # courier shapes genuinely needed


def test_reset_restores_single_font_behavior(sheets, settings):
    arial, courier = sheets
    ag, cg = _glyphs(arial), _glyphs(courier)

    alpha = Alphabet().learn_sheet(arial, "arial").learn_sheet(courier, "courier")
    courier_page = _render_mixed([(COURIER_ONLY_WORDS[0], cg)])
    arial_page = _render_mixed([(ARIAL_WORDS[0], ag)])
    assert page_text(scan_page(courier_page, settings, alpha)) == COURIER_ONLY_WORDS[0]

    # reset() empties the learned set (fresh-instance equivalence, E4)
    alpha.reset()
    assert alpha.chars == [] and alpha.fonts == []
    assert alpha.vectors.shape == (0, 48)

    # relearn arial only: bit-identical to a fresh single-font alphabet,
    # and the courier word is unreadable again while arial still works
    alpha.learn_sheet(arial, "arial")
    fresh = Alphabet().learn_sheet(arial, "arial")
    assert alpha.chars == fresh.chars
    assert (alpha.vectors == fresh.vectors).all()
    assert (alpha.closest == fresh.closest).all()
    assert page_text(scan_page(courier_page, settings, alpha)) != COURIER_ONLY_WORDS[0]
    assert page_text(scan_page(arial_page, settings, alpha)) == ARIAL_WORDS[0]
