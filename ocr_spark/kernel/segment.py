"""Page segmentation (reference PageSegmenter.java / WordSegmenter.java).

G1 is vectorized across all seeds of a batch of pages simultaneously (the
reference grows one box per seed in turn; the per-seed state machines are
independent, so they advance in lockstep here — identical results, ~100x
less Python overhead).
G2 and G4-G6 operate on dozens of rectangles and stay loops; G3 reads each
word's column projection from the page's column prefix sums.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .bitmap import black_mask, get_borders


# the character spacing (px) the engine runs with on every page; the
# synthesized corpora size their glyph and word gaps to it
CHAR_SPACING = 8.0

# the reference Settings.java defaults (:15-23) that no caller changes
CHAR_ASPECT_RATIO = 1.4
MIN_SYMBOL_WIDTH, MAX_SYMBOL_WIDTH = 1, 100
MIN_SYMBOL_HEIGHT, MAX_SYMBOL_HEIGHT = 1, 75


@dataclass
class Settings:
    """The one setting of reference Settings.java a caller sets: the G2
    sensor size in px. Every stage takes it, as in the reference."""

    character_spacing: float


@dataclass
class CharBox:
    x: int
    y: int
    w: int
    h: int
    index: int
    char: str = ""


@dataclass
class WordBox:
    x: int
    y: int
    w: int
    h: int
    chars: list = field(default_factory=list)

    @property
    def text(self) -> str:
        return "".join(c.char for c in self.chars)


def find_character_rectangles(gray, settings: Settings):
    """G1 for one page: ``find_character_rectangles_batch`` of ``[gray]``.
    G1 reads no setting, only the symbol size constants."""
    return find_character_rectangles_batch([gray])[0]


def find_character_rectangles_batch(grays):
    """G1 (PageSegmenter.findCharacterRectangles, :107-199) for a list of
    pages, every seed of every page grown and shrunk in one lockstep: per
    page, the rect list [(x, y, w, h)] in reference order (seed row-major
    order, exact-duplicate rects dropped). The pages' prefix sums are laid
    end to end in flat arrays; each seed carries its page's width, height
    and offsets, so every clamp stays per page. The working set grows with
    the summed pixels of ``grays``; ``engine.recognize_pages`` bounds it."""
    if not grays:
        return []
    shapes = np.array([g.shape for g in grays], dtype=np.int64)
    rsize = shapes[:, 0] * (shapes[:, 1] + 1)
    csize = (shapes[:, 0] + 1) * shapes[:, 1]
    roffs = np.cumsum(rsize) - rsize
    coffs = np.cumsum(csize) - csize
    # prefix sums for O(1) "any black in row/col segment" tests, each page's
    # written into its slice of one flat array
    rowsum = np.zeros(rsize.sum(), dtype=np.int32)
    colsum = np.zeros(csize.sum(), dtype=np.int32)
    seeds_of = []
    for i, gray in enumerate(grays):
        mask = black_mask(gray)
        H, W = mask.shape
        # row-major == reference scan order; seeds lie in [1, W-1) x [1, H-1)
        seeds_of.append(np.argwhere(mask[1 : H - 1, 1 : W - 1] & ~mask[0 : H - 2, 1 : W - 1]) + 1)
        page_rows = rowsum[roffs[i] : roffs[i] + rsize[i]].reshape(H, W + 1)
        np.cumsum(mask, axis=1, out=page_rows[:, 1:])
        page_cols = colsum[coffs[i] : coffs[i] + csize[i]].reshape(H + 1, W)
        np.cumsum(mask, axis=0, out=page_cols[1:, :])

    counts = [len(s) for s in seeds_of]
    page = np.repeat(np.arange(len(grays)), counts)
    H = shapes[page, 0]
    W = shapes[page, 1]
    roff = roffs[page]
    coff = coffs[page]
    seeds = np.concatenate(seeds_of)
    x = seeds[:, 1].copy()
    y = seeds[:, 0].copy()
    w = np.full(len(seeds), 2, dtype=np.int64)
    h = np.full(len(seeds), 2, dtype=np.int64)

    def scan_bounds(ia):
        """PageSegmenter.scanBounds (:202-236): 0/1 flags (top, left, bottom,
        right), each 1 where that edge of the box touches ink."""
        # the reference would wrap the raster for x<0/y<0; clamp instead and
        # drop, after the shrink, every rect that leaves the page
        xs, ys = np.maximum(x[ia], 0), np.maximum(y[ia], 0)
        Ws, Hs = W[ia], H[ia]
        cw = np.minimum(w[ia], Ws - xs - 1)
        ch = np.minimum(h[ia], Hs - ys - 1)
        # flat indexes have no per-page bounds check; they stay inside the
        # seed's page because 0 <= xs <= W-1 and 0 <= ys <= H-1 (every box
        # keeps its seed's black pixel: grow adds edges, shrink drops only
        # empty ones) and the clamps give xs+cw <= W-1 and ys+ch <= H-1
        r0 = roff[ia] + ys * (Ws + 1) + xs
        r1 = r0 + ch * (Ws + 1)
        c0 = coff[ia] + ys * Ws + xs
        c1 = c0 + ch * Ws
        edges = (
            rowsum[r0 + cw] > rowsum[r0],
            colsum[c1] > colsum[c0],
            rowsum[r1 + cw] > rowsum[r1],
            colsum[c1 + cw] > colsum[c0 + cw],
        )
        return [e.astype(np.int64) for e in edges]

    max_w, max_h = MAX_SYMBOL_WIDTH, MAX_SYMBOL_HEIGHT
    min_w, min_h = MIN_SYMBOL_WIDTH, MIN_SYMBOL_HEIGHT

    # grow (cap +3 so oversized blobs can be rejected, :125-127)
    growing = np.ones(len(seeds), dtype=bool)
    while True:
        active = growing & (h < max_h + 3) & (w < max_w + 3)
        if not active.any():
            break
        ia = np.nonzero(active)[0]
        t, l, b, r = scan_bounds(ia)
        y[ia] -= t
        x[ia] -= l
        h[ia] += t + b
        w[ia] += l + r
        growing[ia[t + l + b + r == 0]] = False

    # shrink to tight fit (:155-181)
    shrinking = np.ones(len(seeds), dtype=bool)
    while True:
        active = shrinking & (h > min_h) & (w > min_w)
        if not active.any():
            break
        ia = np.nonzero(active)[0]
        t, l, b, r = scan_bounds(ia)
        y[ia] += 1 - t
        x[ia] += 1 - l
        h[ia] -= 2 - t - b
        w[ia] -= 2 - l - r
        shrinking[ia[t + l + b + r == 4]] = False

    keep = (
        (w >= min_w) & (w <= max_w) & (h >= min_h) & (h <= max_h)
        # on the page as the probes read it, row y+h and column x+w too
        # (bitmap._check_box): ink on a page edge grows a box off the page
        & (x >= 0) & (y >= 0) & (x + w < W) & (y + h < H)
    )
    rects = np.stack([page, x, y, w, h], axis=1)[keep]
    out = [[] for _ in grays]
    if len(rects):
        # first occurrence of each (page, rect), in seed order
        _, first = np.unique(rects, axis=0, return_index=True)
        for p, *r in rects[np.sort(first)].tolist():
            out[p].append(tuple(r))
    return out


def _intersects(a, b) -> bool:
    """java.awt.Rectangle.intersects: strict overlap, empty rects never."""
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    if aw <= 0 or ah <= 0 or bw <= 0 or bh <= 0:
        return False
    return ax < bx + bw and ax + aw > bx and ay < by + bh and ay + ah > by


def _union(a, b):
    """java.awt.Rectangle.add (union)."""
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    x0 = min(ax, bx)
    y0 = min(ay, by)
    x1 = max(ax + aw, bx + bw)
    y1 = max(ay + ah, by + bh)
    return (x0, y0, x1 - x0, y1 - y0)


def _sensor(rect, sensor_size: int):
    """The inflated horizontal sensor box (PageSegmenter.findWordRectangles,
    :60-82): widen by sensor, keep the middle half of the height."""
    x, y, w, h = rect
    sw = sensor_size
    sh = h // 2
    return (x - sw // 2, y + h // 2 - sh // 2, w + sw, sh)


def find_word_rectangles(char_rects, settings: Settings):
    """G2 agglomerative word clustering (PageSegmenter.findWordRectangles,
    :46-104). Returns [(x, y, w, h)] in reference construction order."""
    sensor_size = int(settings.character_spacing)
    pool = list(char_rects)
    words = []
    while pool:
        box = pool.pop(0)
        merged = True
        while merged:
            merged = False
            q = _sensor(box, sensor_size)
            for i, r in enumerate(pool):
                if _intersects(q, _sensor(r, sensor_size)):
                    box = _union(box, pool.pop(i))
                    merged = True
                    break
        words.append(box)
    return [
        w
        for w in words
        if MIN_SYMBOL_HEIGHT <= w[3] <= MAX_SYMBOL_HEIGHT and w[2] != 0
    ]


def split_words(gray, word_rects, settings: Settings):
    """G3-G6 (WordSegmenter.scanPage path): per word, column-projection
    character ranges, glued-glyph splitting, ordered child boxes. Reads no
    setting, only the aspect ratio and symbol size constants. Word rects lie
    on the page with row y+h and column x+w, as G1's and G2's do."""
    mask = black_mask(gray)
    colsum = np.zeros((mask.shape[0] + 1, mask.shape[1]), dtype=np.int32)
    np.cumsum(mask, axis=0, out=colsum[1:, :])

    words = []
    for (wx, wy, ww, wh) in word_rects:
        word = WordBox(wx, wy, ww, wh)
        # getCharacterRanges (:113-144): the maximal runs of columns that
        # hold ink (countVerticalLineFillRatio > 0, :161-183)
        ink = colsum[wy + wh, wx : wx + ww] > colsum[wy, wx : wx + ww]
        runs = np.flatnonzero(np.diff(np.concatenate(([0], ink, [0])))).reshape(-1, 2)
        for rx, end in runs.tolist():
            rw = end - rx
            # splitTextBox (:26-60)
            t, _, b, _ = get_borders(mask, wx + rx, wy, rw, wh)
            eff_h = wh - t - b
            sym_count = int(np.ceil(rw / (CHAR_ASPECT_RATIO * eff_h))) if eff_h > 0 else 1
            if sym_count <= 1:
                word.chars.append(CharBox(wx + rx, wy, rw, wh, len(word.chars)))
                continue
            # splitCharacter (:63-110): the reference takes the emptiest
            # column within +-MIN_SYMBOL_WIDTH // 4 = 0 of each even share,
            # so a cut is the share itself; one not past the previous cut
            # becomes 0
            prev = 0
            for i in range(1, sym_count):
                cut = int(rw / sym_count * i)
                if cut <= prev:
                    cut = 0
                if cut - prev > MIN_SYMBOL_WIDTH:
                    word.chars.append(CharBox(wx + rx + prev - 1, wy, cut - prev, wh, len(word.chars)))
                prev = cut
            if rw - prev > MIN_SYMBOL_WIDTH:
                word.chars.append(CharBox(wx + rx + prev, wy, rw - prev, wh, len(word.chars)))
        words.append(word)
    return words
