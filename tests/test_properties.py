"""Property-based tests (SURVEY.md §5.4): random inputs against independent
reference implementations / invariants."""

import glob
import os

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from conftest import GOLDENS, REPO  # noqa: F401


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_contour_sentinels_on_random_matrices(seed):
    """F2 invariants on random glyph matrices: empty rows/cols produce the
    documented sentinels; values otherwise stay within [0, N]."""
    from ocr_spark.kernel.features import extract_contour

    rng = np.random.default_rng(seed)
    m = rng.random((9, 9)) < 0.3
    cont = extract_contour(m.astype(bool))
    assert cont.shape == (8, 9)
    assert np.isfinite(cont[~np.isnan(cont)]).all()
    # forward scans that find no ink accumulate ~N, reverse ~-1; everything
    # else is a bin-averaged first-ink distance in [-1, 9]
    valid = cont[~np.isnan(cont)]
    assert ((valid >= -1.0001) & (valid <= 9.0001)).all()


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_curvature_vector_deterministic_and_bounded(seed):
    """F5: rerunning the kernel on the same matrix is bit-identical and the
    zone areas are bounded by the matrix area."""
    from ocr_spark.kernel.features import curvature_vector

    rng = np.random.default_rng(seed)
    m = rng.random((9, 9)) < 0.35
    v1 = curvature_vector(m)
    v2 = curvature_vector(m)
    assert np.array_equal(v1, v2)
    assert (v1 >= 0).all() and (v1 <= 81).all()

    # the batched chain spans several F2-F5 passes and equals the
    # single-glyph chain row by row
    from ocr_spark.kernel.features import _GLYPHS_PER_PASS, curvature_vectors

    stack = rng.random((_GLYPHS_PER_PASS + 7, 9, 9)) < rng.random((_GLYPHS_PER_PASS + 7, 1, 1))
    stack[3] = False
    stack[_GLYPHS_PER_PASS + 1] = True
    stack[-1] = m
    batch = curvature_vectors(stack)
    assert batch.shape == (len(stack), 48)
    for i, g in enumerate(stack):
        assert np.array_equal(batch[i], curvature_vector(g).reshape(-1)), i


def _jdk_polygon_contains(xs, ys, x, y):
    """java.awt.Polygon.contains(double, double), statement by statement:
    the bounding-box pre-test (Rectangle2D.contains, exclusive right and
    bottom), then the edge-crossing count."""
    if not (min(xs) <= x < max(xs) and min(ys) <= y < max(ys)):
        return False
    hits = 0
    lastx, lasty = xs[-1], ys[-1]
    for curx, cury in zip(xs, ys):
        prevx, prevy = lastx, lasty
        lastx, lasty = curx, cury
        if cury == prevy:
            continue
        if curx < prevx:
            if x >= prevx:
                continue
            leftx = curx
        else:
            if x >= curx:
                continue
            leftx = prevx
        if cury < prevy:
            if y < cury or y >= prevy:
                continue
            if x < leftx:
                hits += 1
                continue
            test1 = x - curx
            test2 = y - cury
        else:
            if y < prevy or y >= cury:
                continue
            if x < leftx:
                hits += 1
                continue
            test1 = x - prevx
            test2 = y - prevy
        if test1 < (test2 / (prevy - cury) * (prevx - curx)):
            hits += 1
    return (hits & 1) != 0


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_polygon_contains_lattice_matches_jdk_scalar(seed):
    """F5 lattice containment for a stack of triangles equals the scalar JDK
    test at every lattice point, horizontal and degenerate edges included."""
    from ocr_spark.kernel.features import polygon_contains_lattice

    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 13))
    xs = rng.integers(-1, n + 1, size=(24, 3))
    ys = rng.integers(-1, n + 1, size=(24, 3))
    ys[:8, 1] = ys[:8, 0]  # a horizontal edge
    xs[8:10, 2] = xs[8:10, 0]  # a vertical edge
    ys[10, :] = ys[10, 0]  # all three vertices on one row
    lat = polygon_contains_lattice(xs, ys, n)
    assert lat.shape == (24, n, n)
    for t in range(24):
        tx, ty = xs[t].tolist(), ys[t].tolist()
        want = [[_jdk_polygon_contains(tx, ty, float(x), float(y)) for x in range(n)]
                for y in range(n)]
        assert lat[t].tolist() == want, (tx, ty)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_strip_html_idempotent_on_plain_text(seed):
    """Stripping already-stripped text is a fixpoint (no tags left)."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    rng = np.random.default_rng(seed)
    words = ["".join(rng.choice(list("abcdef"), size=4)) for _ in range(6)]
    text = " ".join(words)
    once = strip_html(pd.Series([f"<p>{text}</p>"]))[0]
    twice = strip_html(pd.Series([once]))[0]
    assert once == text
    assert twice == once


def test_strip_html_nested_same_tag_containers():
    """Nested same-tag boilerplate must be removed whole: with a lazy
    open-to-first-close match, the tail of the outer container (here the
    'leaked menu tail items' list) would survive into block scoring."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    html = (
        "<html><body>"
        "<nav>outer menu start <nav>inner menu items here</nav>"
        "<p>leaked menu tail items would score as content</p></nav>"
        "<p>the actual main content sentence</p>"
        "<footer>a<footer>b</footer>c</footer>"
        "</body></html>"
    )
    out = strip_html(pd.Series([html]))[0]
    assert out == "the actual main content sentence"

    # triple nesting converges too (fixpoint, not a fixed pass count)
    deep = "<nav>a<nav>b<nav>c</nav>d</nav><p>nav tail junk here</p></nav><p>keep this main text</p>"
    assert strip_html(pd.Series([deep]))[0] == "keep this main text"


def test_strip_html_deep_nesting_never_leaks():
    """The fixpoint loop must run to convergence, not a fixed pass count:
    an 11-deep same-tag nest leaked its boilerplate under the old 10-pass
    cap. Past the (generous) pass cap, the residual sweep must DROP the
    unconverged subtree wholesale rather than leak its text."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    def nest(depth):
        return (
            "<nav>" * depth
            + "menu junk boilerplate words"
            + "</nav>" * depth
            + "<p>kept main content sentence</p>"
        )

    # 11-deep: converges (beyond the old cap of 10)
    assert strip_html(pd.Series([nest(11)]))[0] == "kept main content sentence"
    # 300-deep: beyond _MAX_FIXPOINT_PASSES — residual sweep drops the
    # whole subtree; the boilerplate text must not appear in the output
    out = strip_html(pd.Series([nest(300)]))[0]
    assert out == "kept main content sentence"


def test_strip_html_output_independent_of_batch_neighbors():
    """Span-sequence equality is per document: a doc's stripped output must
    not depend on which other rows share its Arrow batch. A converged row
    with a dangling container opener must NOT be hit by the residual sweep
    that an unconverged co-batched row (300-deep nest exhausting the pass
    cap) triggers."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    victim = (
        "<p>intro words here</p> </nav> <p><nav> trailing real content "
        "sentence with many words kept</p>"
    )
    deep = (
        "<nav>" * 300 + "menu junk boilerplate words" + "</nav>" * 300
        + "<p>deep doc content sentence kept</p>"
    )
    alone = strip_html(pd.Series([victim]))[0]
    together = strip_html(pd.Series([victim, deep]))
    assert together[0] == alone
    assert together[1] == "deep doc content sentence kept"


def test_strip_html_unclosed_container_degrades_like_lazy():
    """Malformed (unbalanced) HTML: an unclosed outer <nav> whose only close
    tag belongs to an inner nav must still drop its boilerplate up to that
    close (first-open-to-first-close), not leak it into content."""
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    html = (
        "<nav>home about pricing contact menu <nav>sub items</nav>"
        "<p>real main content sentence here</p>"
    )
    assert strip_html(pd.Series([html]))[0] == "real main content sentence here"

    # a batch mixing balanced and unbalanced rows routes each correctly
    batch = pd.Series([
        html,
        "<nav>a<nav>b</nav>c</nav><p>balanced row main text</p>",
    ])
    out = strip_html(batch)
    assert out[0] == "real main content sentence here"
    assert out[1] == "balanced row main text"


def test_winnowing_guarantee():
    """Any shared run of k+w-1 tokens yields at least one shared fingerprint
    (the winnowing guarantee), checked kernel-side with pandas semantics."""
    import hashlib

    k, w = 3, 4

    def winnow(tokens):
        shingles = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
        hs = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
        return {min(hs[max(0, i - w + 1) : i + 1]) for i in range(w - 1, len(hs))}

    rng = np.random.default_rng(11)
    vocab = ["t%d" % i for i in range(50)]
    shared = [str(v) for v in rng.choice(vocab, size=k + w - 1)]
    a = [str(v) for v in rng.choice(vocab, size=10)] + shared
    b = shared + [str(v) for v in rng.choice(vocab, size=10)]
    assert winnow(a) & winnow(b)


def _random_page(rng, margin):
    """A white page of random ink blocks, its outer ``margin`` px left white."""
    H, W = int(rng.integers(12, 60)), int(rng.integers(12, 90))
    page = np.full((H, W), 255, np.uint8)
    inner = page[margin : H - margin, margin : W - margin]
    for _ in range(int(rng.integers(1, 8))):
        h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        y = int(rng.integers(0, max(inner.shape[0] - h, 0) + 1))
        x = int(rng.integers(0, max(inner.shape[1] - w, 0) + 1))
        block = inner[y : y + h, x : x + w]
        block[rng.random(block.shape) < 0.7] = 0
    return page


def test_recognize_scans_pages_with_ink_on_the_edge(arial_alphabet):
    """Ink on a page edge grows G1 boxes off the page. G1 drops them, so a
    page needs no white margin: a block in columns 0-9, a U glyph touching
    row 0 and seeded random pages with no margin all scan to a str."""
    from ocr_spark.kernel.engine import recognize
    from ocr_spark.kernel.segment import CHAR_SPACING, Settings

    settings = Settings(character_spacing=CHAR_SPACING)
    block = np.full((30, 40), 255, np.uint8)
    block[10:20, 0:10] = 0
    u = np.full((30, 40), 255, np.uint8)
    u[0:12, 10:12] = u[0:12, 18:20] = u[10:12, 10:20] = 0
    rng = np.random.default_rng(20)
    pages = [block, u] + [_random_page(rng, 0) for _ in range(300)]
    for i, page in enumerate(pages):
        assert isinstance(recognize(page, settings, arial_alphabet), str), i


def test_white_padding_shifts_every_box_and_keeps_every_text(arial_alphabet):
    """Padding a page with k white rows and columns on every side moves
    every word box and char box by k and keeps every text: the scan goldens
    and seeded random pages with a margin of at least 2 px."""
    from ocr_spark.kernel.engine import scan_page
    from ocr_spark.kernel.segment import CHAR_SPACING, Settings
    from ocr_spark.png import decode_gray

    settings = Settings(character_spacing=CHAR_SPACING)

    def boxes(page, k):
        return [
            ((w.x - k, w.y - k, w.w, w.h), w.text,
             [(c.x - k, c.y - k, c.w, c.h, c.char) for c in w.chars])
            for w in scan_page(page, settings, arial_alphabet)
        ]

    pages = []
    for path in sorted(glob.glob(os.path.join(GOLDENS, "scan_*.gray.png"))):
        with open(path, "rb") as f:
            pages.append(decode_gray(f.read()))
    rng = np.random.default_rng(21)
    pages += [_random_page(rng, int(rng.integers(2, 5))) for _ in range(200)]
    for i, page in enumerate(pages):
        k = int(rng.integers(1, 6))
        assert boxes(np.pad(page, k, constant_values=255), k) == boxes(page, 0), i


def test_blob_texts_is_each_blob_alone_on_local_data(arial_alphabet, monkeypatch):
    """``blob_texts`` runs on plain lists, no Spark session: media, pdf and
    null blobs interleaved, a pdf with no text, and enough media pixels for
    ``recognize_pages`` to scan two groups. Each text equals the one its
    blob gives alone."""
    from ocr_spark.kernel import engine
    from ocr_spark.kernel.segment import CHAR_SPACING, Settings
    from ocr_spark.pdf import build_pdf, extract_text
    from ocr_spark.pipeline.udfs import blob_texts
    from ocr_spark.png import decode_gray

    pngs = []
    for path in sorted(glob.glob(os.path.join(GOLDENS, "scan_*.gray.png"))):
        with open(path, "rb") as f:
            pngs.append(f.read())
    pngs += pngs[::-1]
    assert sum(decode_gray(b).size for b in pngs) > engine._PIXELS_PER_SCAN
    pdfs = [build_pdf([["hello world"], [], ["page three"]]), build_pdf([[]]),
            build_pdf([["one"]], compress=False)]
    rows = []
    for i, png in enumerate(pngs):
        rows.append(("media", png))
        if i % 5 == 0:
            rows.append(("pdf", pdfs[(i // 5) % len(pdfs)]))
        if i % 7 == 3:
            rows.append(("media" if i % 2 else "pdf", None))

    settings = Settings(character_spacing=CHAR_SPACING)
    want = [
        None if b is None
        else engine.recognize(decode_gray(b), settings, arial_alphabet) if k == "media"
        else " ".join(extract_text(b)) or None
        for k, b in rows
    ]
    assert want[rows.index(("pdf", pdfs[1]))] is None and "hello world page three" in want

    groups, scan_pages = [], engine.scan_pages

    def counted(grays, *args):
        groups.append(len(grays))
        return scan_pages(grays, *args)

    monkeypatch.setattr(engine, "scan_pages", counted)
    kinds, blobs = zip(*rows)
    assert blob_texts(list(kinds), list(blobs), arial_alphabet) == want
    assert len(groups) >= 2 and sum(groups) == len(pngs)
