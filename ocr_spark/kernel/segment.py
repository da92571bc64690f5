"""Page segmentation (reference PageSegmenter.java / WordSegmenter.java).

G1 is vectorized across all seeds simultaneously (the reference grows one
box per seed in turn; the per-seed state machines are independent, so they
advance in lockstep here — identical results, ~100x less Python overhead).
G2-G6 operate on dozens of rectangles and stay as faithful loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .bitmap import black_mask, get_borders


@dataclass
class Settings:
    """Mirror of reference Settings.java (defaults :15-23)."""

    character_aspect_ratio: float = 1.4
    character_spacing: float = 0.0
    min_symbol_width: int = 1
    max_symbol_width: int = 100
    min_symbol_height: int = 1
    max_symbol_height: int = 75
    max_line_width: int = 100


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
    """G1 (PageSegmenter.findCharacterRectangles, :107-199), all seeds in
    lockstep. Returns rect list [(x, y, w, h)] in reference order (seed
    row-major order, exact-duplicate rects dropped)."""
    mask = black_mask(gray)
    H, W = mask.shape
    min_x = min_y = 1
    max_x, max_y = W - 1, H - 1

    sub = mask[min_y:max_y, min_x:max_x]
    above = mask[min_y - 1 : max_y - 1, min_x:max_x]
    seeds = np.argwhere(sub & ~above)  # row-major == reference scan order
    if len(seeds) == 0:
        return []

    x = seeds[:, 1].astype(np.int64) + min_x
    y = seeds[:, 0].astype(np.int64) + min_y
    w = np.full(len(seeds), 2, dtype=np.int64)
    h = np.full(len(seeds), 2, dtype=np.int64)

    # prefix sums for O(1) "any black in row/col segment" tests
    rowsum = np.zeros((H, W + 1), dtype=np.int32)
    np.cumsum(mask, axis=1, out=rowsum[:, 1:])
    colsum = np.zeros((H + 1, W), dtype=np.int32)
    np.cumsum(mask, axis=0, out=colsum[1:, :])

    def scan_bounds(xs, ys, ws, hs):
        """PageSegmenter.scanBounds (:202-236): bitmask TOP=1 LEFT=2 BOTTOM=4 RIGHT=8."""
        cw = np.minimum(ws, W - xs - 1)
        ch = np.minimum(hs, H - ys - 1)
        top = rowsum[ys, xs + cw] - rowsum[ys, xs] > 0
        bottom = rowsum[ys + ch, xs + cw] - rowsum[ys + ch, xs] > 0
        left = colsum[ys + ch, xs] - colsum[ys, xs] > 0
        right = colsum[ys + ch, xs + cw] - colsum[ys, xs + cw] > 0
        return (
            top.astype(np.int64)
            + 2 * left.astype(np.int64)
            + 4 * bottom.astype(np.int64)
            + 8 * right.astype(np.int64)
        )

    max_w = settings.max_symbol_width
    max_h = settings.max_symbol_height
    min_w = settings.min_symbol_width
    min_h = settings.min_symbol_height

    # grow (cap +3 so oversized blobs can be rejected, :125-127)
    growing = np.ones(len(seeds), dtype=bool)
    while True:
        active = growing & (h < max_h + 3) & (w < max_w + 3)
        if not active.any():
            break
        ia = np.nonzero(active)[0]
        # guard: the reference would wrap the raster for x<0/y<0; clamp instead
        # (unreachable for pages with margins, which the pipeline guarantees)
        s = scan_bounds(np.maximum(x[ia], 0), np.maximum(y[ia], 0), w[ia], h[ia])
        t = (s & 1) != 0
        l = (s & 2) != 0
        b = (s & 4) != 0
        r = (s & 8) != 0
        y[ia] -= t
        h[ia] += t
        x[ia] -= l
        w[ia] += l
        h[ia] += b
        w[ia] += r
        growing[ia[s == 0]] = False

    # shrink to tight fit (:155-181)
    shrinking = np.ones(len(seeds), dtype=bool)
    while True:
        active = shrinking & (h > min_h) & (w > min_w)
        if not active.any():
            break
        ia = np.nonzero(active)[0]
        s = scan_bounds(np.maximum(x[ia], 0), np.maximum(y[ia], 0), w[ia], h[ia])
        t = (s & 1) == 0
        l = (s & 2) == 0
        b = (s & 4) == 0
        r = (s & 8) == 0
        y[ia] += t
        h[ia] -= t
        x[ia] += l
        w[ia] -= l
        h[ia] -= b
        w[ia] -= r
        shrinking[ia[s == 15]] = False

    keep = (w >= min_w) & (w <= max_w) & (h >= min_h) & (h <= max_h)
    rects = []
    seen = set()
    for i in np.nonzero(keep)[0]:
        r = (int(x[i]), int(y[i]), int(w[i]), int(h[i]))
        if r not in seen:
            seen.add(r)
            rects.append(r)
    return rects


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
        if settings.min_symbol_height <= w[3] <= settings.max_symbol_height and w[2] != 0
    ]


def split_words(gray, word_rects, settings: Settings):
    """G3-G6 (WordSegmenter.scanPage path): per word, column-projection
    character ranges, glued-glyph splitting, ordered child boxes."""
    mask = black_mask(gray)
    H, W = mask.shape
    colsum = np.zeros((H + 1, W), dtype=np.int32)
    np.cumsum(mask, axis=0, out=colsum[1:, :])

    def col_fill(ax: int, ay: int, ah: int) -> float:
        # WordSegmenter.countVerticalLineFillRatio (:161-183)
        if ax < 0 or ax >= W:
            return 0.0
        y0 = max(ay, 0)
        y1 = min(ay + ah, H)
        n = y1 - y0
        return float(colsum[y1, ax] - colsum[y0, ax]) / n

    words = []
    for (wx, wy, ww, wh) in word_rects:
        word = WordBox(wx, wy, ww, wh)

        # getCharacterRanges (:113-144)
        ranges = []
        x = 0
        while x < ww:
            width = -1
            for i in range(ww - x):
                if col_fill(wx + x + i, wy, wh) > 0:
                    width = i
                    break
            if width == -1:
                break
            x += width
            width = -1
            for i in range(ww - x):
                if col_fill(wx + x + i, wy, wh) == 0:
                    width = i
                    break
            if width == -1:
                width = ww - x
            if width > 0:
                ranges.append((x, width))
                x += width
            x += 1

        # splitTextBox (:26-60)
        char_index = 0
        for (rx, rw) in ranges:
            t, l, b, r = get_borders(mask, wx + rx, wy, rw, wh)
            eff_h = wh - t - b
            if eff_h <= 0:
                sym_count = 1
            else:
                sym_count = int(np.ceil(rw / (settings.character_aspect_ratio * eff_h)))
            if rw > 0 and sym_count <= 1:
                word.chars.append(CharBox(wx + rx, wy, rw, wh, char_index))
                char_index += 1
            elif rw > 0:
                # splitCharacter (:63-110)
                sw = rw / sym_count
                seek = settings.min_symbol_width // 4
                prev_split = 0
                for si in range(1, sym_count):
                    split = 0
                    fill = float(2**31 - 1)
                    for sx in range(-seek, seek + 1):
                        split_pos = int(sw * si + sx)
                        if split_pos <= prev_split or split_pos > rw:
                            continue
                        f = col_fill(wx + rx + split_pos, wy, wh)
                        if f < fill:
                            fill = f
                            split = split_pos
                    if split > prev_split and split - prev_split > settings.min_symbol_width:
                        word.chars.append(
                            CharBox(wx + rx + prev_split - 1, wy, split - prev_split, wh, char_index)
                        )
                        char_index += 1
                    prev_split = split
                if rw - prev_split > settings.min_symbol_width:
                    word.chars.append(
                        CharBox(wx + rx + prev_split, wy, rw - prev_split, wh, char_index)
                    )
                    char_index += 1
        words.append(word)
    return words
