"""Bit-exact parity of the NumPy kernel vs the compiled reference engine.

Every assertion here compares against tests/goldens/* dumped by
tools/java_oracle/GoldenDump.java from the reference at /root/reference.
"""

import json
import os

import numpy as np
import pytest

from conftest import GOLDENS, load_golden

from ocr_spark.png import decode_gray
from ocr_spark.kernel.javaimg import SRGB_LUT, java_resize
from ocr_spark.kernel.bitmap import black_mask, extract_matrix, get_borders
from ocr_spark.kernel.classify import DEFAULT_ALPHABET, Alphabet, classify_batch
from ocr_spark.kernel.engine import page_text, recognize, scan_page
from ocr_spark.kernel.features import (
    curvature_vector,
    extract_contour,
    extract_curvature,
    extract_slopes,
)
from ocr_spark.kernel.segment import Settings


def _sheet(font):
    with open(os.path.join(GOLDENS, f"{font}.gray.png"), "rb") as f:
        return decode_gray(f.read())


def test_srgb_lut_matches_java_getrgb():
    golden = np.array(load_golden("gray_getrgb_lut.json")["r"])
    assert (SRGB_LUT == golden).all()


def test_resize_probes_bit_exact():
    probes = load_golden("resize_probes.json")["probes"]
    for p in probes:
        src = np.array(p["in"], dtype=np.int64).reshape(p["h"], p["w"])
        out = java_resize(src, 9, 9)
        assert (out == np.array(p["out_r"]).reshape(9, 9)).all(), (p["w"], p["h"])


@pytest.mark.parametrize("font", ["arial", "courier"])
def test_alphabet_features_bit_exact(font):
    sheet = _sheet(font)
    golden = load_golden(f"alphabet_{font}.json")
    mask = black_mask(sheet)
    for s in golden["symbols"]:
        bx, by, bw, bh = s["box"]
        t, l, b, r = get_borders(mask, bx, by, bw, bh)
        assert [t, l, b, r] == s["borders"], (s["char"], "borders")

        matrix, _ = extract_matrix(sheet, bx, by, bw, bh, 9)
        crop = sheet[by + t : by + bh - b + 1, bx + l : bx + bw - r + 1]
        assert crop.shape == (s["crop_h"], s["crop_w"]), (s["char"], "crop")
        gray = java_resize(crop.astype(np.int64), 9, 9)
        assert (gray == np.array(s["gray"]).reshape(9, 9)).all(), (s["char"], "gray")
        assert (matrix == np.array(s["matrix"]).reshape(9, 9).astype(bool)).all(), (
            s["char"],
            "matrix",
        )

        cont = extract_contour(matrix)
        exp_cont = np.array(s["contour"], dtype=np.float64)
        assert (cont == exp_cont.astype(np.int64)).all(), (s["char"], "contour")

        slopes, slopes2 = extract_slopes(cont)
        assert (slopes == np.array(s["slopes"])).all(), (s["char"], "slopes")
        assert (slopes2 == np.array(s["slopes2"])).all(), (s["char"], "slopes2")

        tris = extract_curvature(cont, slopes, 9)
        for ori in range(8):
            exp_polys = s["polygons"][ori]
            exp_labels = s["curvature_slopes"][ori]
            assert len(tris[ori]) == len(exp_polys), (s["char"], ori, "tri count")
            for (xs, ys, label), ep, el in zip(tris[ori], exp_polys, exp_labels):
                assert list(xs) == ep[0] and list(ys) == ep[1], (s["char"], ori)
                assert label == el, (s["char"], ori, "label")

        cv = curvature_vector(matrix)
        exp_cv = np.array(s["curvature_vector"], dtype=np.float64).astype(np.int64)
        assert (cv == exp_cv).all(), (s["char"], "curvature_vector")


@pytest.mark.parametrize("font", ["arial", "courier"])
def test_learned_alphabet_charset(font):
    sheet = _sheet(font)
    alpha = Alphabet().learn_sheet(sheet, font)
    golden = load_golden(f"alphabet_{font}.json")
    assert alpha.chars == [s["char"] for s in golden["symbols"]]
    assert alpha.def_chars == [s["def_char"] for s in golden["symbols"]]
    exp = np.stack(
        [np.array(s["curvature_vector"]).reshape(-1) for s in golden["symbols"]]
    ).astype(np.int64)
    assert (alpha.vectors == exp).all()


def test_self_classification_exact(arial_alphabet):
    """Every learned glyph classifies to itself (distance 0, first-wins)."""
    idx, dist = classify_batch(arial_alphabet.vectors, arial_alphabet)
    chars = [arial_alphabet.chars[i] for i in idx]
    # identical curvature vectors collapse to the first occurrence — exactly
    # what the reference does; assert the recovered char matches per index
    for i, (c, d) in enumerate(zip(chars, dist)):
        assert d == 0
        assert arial_alphabet.vectors[idx[i]].tolist() == arial_alphabet.vectors[i].tolist()


SCAN_PAGES = [f"scan_simple_{i}" for i in range(10)] + [
    f"scan_string_{i}" for i in range(1, 10)
]


@pytest.mark.parametrize("page", SCAN_PAGES)
def test_full_page_scan_parity(page, arial_alphabet):
    """Word boxes, char boxes, per-char classification and word strings all
    match the reference engine's scan output."""
    golden = load_golden(f"{page}.json")
    with open(os.path.join(GOLDENS, f"{page}.gray.png"), "rb") as f:
        gray = decode_gray(f.read())
    assert gray.shape == (golden["height"], golden["width"])

    settings = Settings(character_spacing=golden["spacing_px"])
    words = scan_page(gray, settings, arial_alphabet)

    assert len(words) == len(golden["words"]), page
    for w, gw in zip(words, golden["words"]):
        assert [w.x, w.y, w.w, w.h] == gw["box"], (page, "word box")
        assert w.text == gw["text"], (page, "word text")
        assert len(w.chars) == len(gw["chars"]), (page, "char count")
        for c, gc in zip(w.chars, gw["chars"]):
            assert [c.x, c.y, c.w, c.h] == gc["box"], (page, "char box")
            assert c.index == gc["index"], (page, "char index")
            assert c.char == gc["char"], (page, "char")

    expected_text = " ".join(gw["text"] for gw in golden["words"])
    assert page_text(words) == expected_text


def test_default_alphabet_is_reference():
    assert len(DEFAULT_ALPHABET) == 78
    assert DEFAULT_ALPHABET[68] == "*" and DEFAULT_ALPHABET[77] == "*"


def test_recognize_ignores_ruling_lines(arial_alphabet):
    """Two full-width ruling lines above and below a rendered line of text
    leave G1's glyph boxes alone: the page reads back with no preprocessing."""
    from ocr_spark.fixtures import load_glyphs, render_page

    page = render_page(["Spark", "Extract", "1234"], load_glyphs())
    H, W = page.shape
    canvas = np.full((H + 120, W + 120), 255, np.uint8)
    canvas[60 : 60 + H, 60 : 60 + W] = page
    for y in (20, H + 100):
        canvas[y, 10 : W + 110] = 0
    assert recognize(canvas, Settings(character_spacing=8.0), arial_alphabet) == "Spark Extract 1234"
