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
from ocr_spark.kernel.segment import CHAR_SPACING, Settings


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

    # a box whose window (it and row y+h, column x+w) leaves the sheet is
    # refused, also when a negative origin would wrap a slice
    H, W = sheet.shape
    for box in [(-1, 1, 69, 67), (1, -1, 69, 67), (W - 70, 1, 70, 67), (1, H - 67, 69, 67)]:
        with pytest.raises(ValueError, match="page edge"):
            extract_matrix(sheet, *box, 9)


@pytest.mark.parametrize("font", ["arial", "courier"])
def test_learned_alphabet_charset(font):
    sheet = _sheet(font)
    alpha = Alphabet().learn_sheet(sheet, font)
    golden = load_golden(f"alphabet_{font}.json")
    assert alpha.chars == [s["char"] for s in golden["symbols"]]
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
    settings = Settings(character_spacing=CHAR_SPACING)
    assert recognize(canvas, settings, arial_alphabet) == "Spark Extract 1234"


def test_matrix_memo_keys_on_every_pixel_extract_matrix_reads(arial_alphabet):
    """The border trim also reads row y+h and column x+w, so a page that
    differs from an already cached one only in the row below a glyph box
    must get that page's own matrix, not the cached one."""
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel import engine

    page = render_page(["Spark", "Extract"], load_glyphs())
    words = scan_page(page, Settings(character_spacing=CHAR_SPACING), arial_alphabet)
    boxes = [(c.x, c.y, c.w, c.h) for w in words for c in w.chars]
    assert len(boxes) == 12
    try:
        for x, y, w, h in boxes:
            engine._MATRIX_CACHE.clear()
            engine._matrix_of(page, x, y, w, h, 9)
            hit = engine._matrix_of(page, x, y, w, h, 9)
            assert (hit == extract_matrix(page, x, y, w, h, 9)[0]).all()
            below = page.copy()
            below[y + h, x : x + w] = 0
            got = engine._matrix_of(below, x, y, w, h, 9)
            assert (got == extract_matrix(below, x, y, w, h, 9)[0]).all(), (x, y, w, h)
    finally:
        engine._MATRIX_CACHE.clear()


def _boxes(words):
    return [
        ((w.x, w.y, w.w, w.h), [(c.x, c.y, c.w, c.h, c.index, c.char) for c in w.chars])
        for w in words
    ]


def test_scan_pages_pages_do_not_affect_each_other(arial_alphabet, monkeypatch):
    """A batch gives every page the word boxes, char boxes and text that
    page gets alone — with pages of different widths in one G1 lockstep, a
    blank page and a repeated page in the batch — and classifies the whole
    batch in one 1-NN call."""
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel import engine

    glyphs = load_glyphs()
    a = render_page(["Spark", "Extract"], glyphs)
    b = render_page(["batch", "1234"], glyphs)
    blank = np.full_like(a, 255)
    # alone, this page reaches a recognize_pages group's budget
    wide = np.full((b.shape[0], engine._PIXELS_PER_SCAN // b.shape[0] + 1), 255, np.uint8)
    wide[:, 2000 : 2000 + b.shape[1]] = b
    assert wide.size > engine._PIXELS_PER_SCAN
    pages = [a, blank, b, a, wide, b]
    settings = Settings(character_spacing=CHAR_SPACING)

    alone = []
    for p in pages:
        engine._MATRIX_CACHE.clear()
        engine._VEC_CACHE.clear()
        alone.append(scan_page(p, settings, arial_alphabet))
    engine._MATRIX_CACHE.clear()
    engine._VEC_CACHE.clear()
    calls = []

    def counted(vectors, alphabet):
        calls.append(len(vectors))
        return classify_batch(vectors, alphabet)

    monkeypatch.setattr(engine, "classify_batch", counted)
    together = engine.scan_pages(pages, settings, arial_alphabet)
    assert len(calls) == 1
    assert [_boxes(p) for p in together] == [_boxes(p) for p in alone]
    assert [page_text(p) for p in together] == [
        "Spark Extract", "", "batch 1234", "Spark Extract", "batch 1234", "batch 1234"
    ]
    assert engine.recognize_pages(pages, settings, arial_alphabet) == [
        page_text(p) for p in alone
    ]


def test_recognize_pages_decodes_and_scans_pixel_bounded_groups(arial_alphabet, monkeypatch):
    """recognize_pages scans a group as soon as it reaches _PIXELS_PER_SCAN
    pixels, before it pulls the next page from a generator (a larger page
    is scanned alone), and returns the per-page texts in input order."""
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel import engine

    glyphs = load_glyphs()
    a = render_page(["Spark", "Extract"], glyphs)
    b = render_page(["batch", "1234"], glyphs)
    big = np.full((b.shape[0], engine._PIXELS_PER_SCAN // b.shape[0] + 1), 255, np.uint8)
    big[:, 100 : 100 + b.shape[1]] = b
    per_group = -(-engine._PIXELS_PER_SCAN // a.size)
    assert per_group >= 2
    pages = [a] * per_group + [big, b, a]
    settings = Settings(character_spacing=CHAR_SPACING)
    expected = [recognize(p, settings, arial_alphabet) for p in pages]

    pulled = []

    def decoded():
        for p in pages:
            pulled.append(p)
            yield p

    groups = []
    scan_pages = engine.scan_pages

    def recorded(grays, settings, alphabet):
        # no page beyond this group has been pulled (decoded) yet
        assert len(pulled) == sum(map(len, groups)) + len(grays)
        groups.append(list(grays))
        return scan_pages(grays, settings, alphabet)

    monkeypatch.setattr(engine, "scan_pages", recorded)
    assert engine.recognize_pages(decoded(), settings, arial_alphabet) == expected
    assert [len(g) for g in groups] == [per_group, 1, 2]
    # every closed group is the shortest prefix that reaches the budget
    for g in groups[:-1]:
        assert sum(p.size for p in g) >= engine._PIXELS_PER_SCAN
        assert sum(p.size for p in g[:-1]) < engine._PIXELS_PER_SCAN
    assert engine.recognize_pages(iter([]), settings, arial_alphabet) == []
    assert len(groups) == 3


def test_memo_caches_are_byte_bounded_lru(arial_alphabet):
    """Both memo caches stay within their byte budgets, evict the least
    recently used entry first, and eviction never changes the text."""
    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.kernel import engine

    page = render_page(["Spark", "Extract", "1234"], load_glyphs())
    settings = Settings(character_spacing=CHAR_SPACING)
    expected = recognize(page, settings, arial_alphabet)
    value = np.zeros(48, dtype=np.int64)
    chunk = 1 << 20
    try:
        for cache, budget in (
            (engine._MATRIX_CACHE, engine._MATRIX_CACHE_BYTES),
            (engine._VEC_CACHE, engine._VEC_CACHE_BYTES),
        ):
            cache.clear()
            keys = []
            for i in range(budget // chunk + 3):
                keys.append(i.to_bytes(4, "big") + bytes(chunk - 4))
                cache.put(keys[-1], value)
                if i == budget // chunk - 2:  # just short of full
                    assert cache.get(keys[0]) is value  # the hit makes keys[0] recent
                assert cache.nbytes <= budget
            resident = [k for k in keys if k in cache._entries]
            assert cache.nbytes == sum(len(k) + value.nbytes for k in resident)
            assert keys[-1] in resident and keys[0] in resident
            assert keys[1] not in resident
            assert recognize(page, settings, arial_alphabet) == expected
    finally:
        engine._MATRIX_CACHE.clear()
        engine._VEC_CACHE.clear()
