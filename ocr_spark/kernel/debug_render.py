"""F8: debug curvature render (CurvatureClassifier.generateCurvatureBitmap,
/root/reference/src/org/terifan/ocr/CurvatureClassifier.java:498-735).

Renders, per glyph, the 8-orientation diagnostic sheet the reference attaches
to every learned/classified symbol: the binarized glyph tile, orientation
half-masks, the sampling grid, zone third-lines, the merged contour segments
with their incline/decline triangles, and the numeric feature annotations.

Parity contract (tests/test_debug_render.py): the output is bit-exact to the
Java render (tools/java_oracle GoldenDump "debugbmp") everywhere EXCEPT two
documented divergence classes, bounded by the geometric mask the renderer
returns alongside the image:

- antialiased diagonal geometry: Java2D's AA rasterizer quantizes partial
  pixel coverage along triangle hypotenuses / slanted segment lines (probe:
  alpha levels 64/191 at quarter steps); we supersample instead. Fully
  covered pixels are identical on both sides; only the +-4 px band around
  each slanted segment can differ (the segments inherit the 3 px stroke --
  see _draw_line_aa -- whose rotated square caps reach ~3.1 px out).
- text: Java draws JVM-font glyphs ("arial" 8pt, antialiased); we draw a
  built-in 3x5 bitmap font at the same pen positions. Text never overlaps
  non-text content (measured: green row strings end < x=72 where tiles
  start; number labels sit in the inter-tile gutter), so masking the fixed
  text boxes hides no shape content.

Everything else is replicated exactly, calibrated by the committed
"aaprobe" golden: SrcOver on INT_RGB is (src*a + dst*(255-a) + 127) // 255
per channel; normalized (STROKE_CONTROL default) axis-aligned strokes are
crisp -- width 1 covers the inclusive endpoint run, width 3 covers +-1 row
and one extra column per CAP_SQUARE end; fillPolygon paints edge-on-pixel-
boundary rows/columns crisply.

This is a debug visualization (the reference computes it unconditionally in
learn()/classifySymbol(); we expose it on demand) -- it never feeds the
extraction path, so it stays out of the hot pandas-UDF pipeline.
"""

from __future__ import annotations

import numpy as np

from .features import (
    extract_contour,
    extract_curvature,
    extract_curvature_vector,
    extract_slopes,
)

SCALE = 8
PAD_LEFT = 40
PAD_RIGHT = 10
PAD_BOTTOM = 10
PAD_X = 32
PAD_Y = 64

_RED = (255, 0, 0)
_CYAN = (0, 255, 255)
_WHITE = (255, 255, 255)
_BLACK = (0, 0, 0)
_GREEN = (0, 255, 0)

# 3x5 bitmap font for the annotation text (digits plus the few punctuation
# marks generateCurvatureBitmap emits). Rows top->bottom, 3 bits each.
_FONT = {
    "0": (0b111, 0b101, 0b101, 0b101, 0b111),
    "1": (0b010, 0b110, 0b010, 0b010, 0b111),
    "2": (0b111, 0b001, 0b111, 0b100, 0b111),
    "3": (0b111, 0b001, 0b111, 0b001, 0b111),
    "4": (0b101, 0b101, 0b111, 0b001, 0b001),
    "5": (0b111, 0b100, 0b111, 0b001, 0b111),
    "6": (0b111, 0b100, 0b111, 0b101, 0b111),
    "7": (0b111, 0b001, 0b010, 0b010, 0b010),
    "8": (0b111, 0b101, 0b111, 0b101, 0b111),
    "9": (0b111, 0b101, 0b111, 0b001, 0b111),
    "-": (0b000, 0b000, 0b111, 0b000, 0b000),
    ":": (0b000, 0b010, 0b000, 0b010, 0b000),
    ",": (0b000, 0b000, 0b000, 0b010, 0b100),
    " ": (0b000, 0b000, 0b000, 0b000, 0b000),
}


def _blend(dst: np.ndarray, color, alpha: int) -> np.ndarray:
    """Java2D SrcOver onto INT_RGB, bit-exact (aaprobe golden, 30/30 probes):
    out = (src*a + dst*(255-a) + 127) // 255 per channel."""
    src = np.array(color, dtype=np.int64)
    return ((src * alpha + dst.astype(np.int64) * (255 - alpha) + 127) // 255).astype(np.uint8)


def _fill_rect(img, x, y, w, h, color, alpha=255):
    if w <= 0 or h <= 0:
        return
    x0, y0 = max(x, 0), max(y, 0)
    x1, y1 = min(x + w, img.shape[1]), min(y + h, img.shape[0])
    if x1 <= x0 or y1 <= y0:
        return
    img[y0:y1, x0:x1] = _blend(img[y0:y1, x0:x1], color, alpha)


def _draw_hv_line(img, x1, y1, x2, y2, color, alpha=255, width=1):
    """Crisp normalized axis-aligned stroke. Width 1: the inclusive endpoint
    run. Width 3: +-1 perpendicular and one extra pixel per end (CAP_SQUARE
    1.5 px extension after the 0.5 normalization shift) -- both measured on
    the aaprobe golden."""
    ext = 0 if width == 1 else 1
    side = width // 2
    if y1 == y2:
        xa, xb = min(x1, x2) - ext, max(x1, x2) + ext
        _fill_rect(img, xa, y1 - side, xb - xa + 1, width, color, alpha)
    elif x1 == x2:
        ya, yb = min(y1, y2) - ext, max(y1, y2) + ext
        _fill_rect(img, x1 - side, ya, width, yb - ya + 1, color, alpha)
    else:
        raise ValueError("not axis-aligned")


def _coverage_to_img(img, x0, y0, cov, total, color, alpha):
    """Apply a supersampled coverage patch at (x0, y0)."""
    h, w = cov.shape
    x1, y1 = min(x0 + w, img.shape[1]), min(y0 + h, img.shape[0])
    cx0, cy0 = max(x0, 0), max(y0, 0)
    if x1 <= cx0 or y1 <= cy0:
        return
    sub = cov[cy0 - y0 : y1 - y0, cx0 - x0 : x1 - x0]
    eff = (alpha * sub + total // 2) // total  # full coverage -> exactly alpha
    region = img[cy0:y1, cx0:x1].astype(np.int64)
    src = np.array(color, dtype=np.int64)
    out = (src * eff[:, :, None] + region * (255 - eff[:, :, None]) + 127) // 255
    img[cy0:y1, cx0:x1] = out.astype(np.uint8)


_SS = 8  # supersampling grid per axis for AA shapes


def _subpixel_grid(x0, y0, w, h):
    xs = x0 + (np.arange(w * _SS) + 0.5) / _SS
    ys = y0 + (np.arange(h * _SS) + 0.5) / _SS
    return np.meshgrid(xs, ys)


def _fold(mask):
    """Sum an (h*_SS, w*_SS) boolean subsample mask into per-pixel counts."""
    h, w = mask.shape[0] // _SS, mask.shape[1] // _SS
    return mask.reshape(h, _SS, w, _SS).sum(axis=(1, 3))


_SEGMENT_WIDTH = 3  # contour segment lines (see _draw_line_aa)


def _draw_line_aa(img, x1, y1, x2, y2, color):
    """Opaque stroke with square caps. Axis-aligned runs take the crisp path
    (identical to Java under stroke normalization); slants are supersampled
    (divergence-masked). The segment lines use width 3: Java sets
    BasicStroke(3) for the zone third-lines and never restores it
    (CurvatureClassifier.java:631), so every later drawLine inherits it."""
    if x1 == x2 and y1 == y2:
        return
    if x1 == x2 or y1 == y2:
        _draw_hv_line(img, x1, y1, x2, y2, color, 255, width=_SEGMENT_WIDTH)
        return
    # normalized path: pixel centers
    half = _SEGMENT_WIDTH / 2.0
    fx1, fy1, fx2, fy2 = x1 + 0.5, y1 + 0.5, x2 + 0.5, y2 + 0.5
    dx, dy = fx2 - fx1, fy2 - fy1
    ln = float(np.hypot(dx, dy))
    ux, uy = dx / ln, dy / ln
    pad = half + 1.0
    bx0 = int(np.floor(min(fx1, fx2) - pad))
    by0 = int(np.floor(min(fy1, fy2) - pad))
    bw = int(np.ceil(max(fx1, fx2) + pad)) - bx0
    bh = int(np.ceil(max(fy1, fy2) + pad)) - by0
    gx, gy = _subpixel_grid(bx0, by0, bw, bh)
    t = (gx - fx1) * ux + (gy - fy1) * uy
    p = (gx - fx1) * -uy + (gy - fy1) * ux
    inside = (t >= -half) & (t <= ln + half) & (np.abs(p) <= half)
    _coverage_to_img(img, bx0, by0, _fold(inside), _SS * _SS, color, 255)


def _fill_triangle_aa(img, xs, ys, color, alpha):
    """fillPolygon of the segment triangle. Degenerate (zero-area) triangles
    paint nothing, as in Java. Interior pixels reach full coverage and blend
    bit-exactly; the slanted-edge band is divergence-masked."""
    ax, ay, bx, by, cx, cy = xs[0], ys[0], xs[1], ys[1], xs[2], ys[2]
    area2 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    if area2 == 0:
        return
    bx0, by0 = int(min(xs)) - 1, int(min(ys)) - 1
    bw, bh = int(max(xs)) - bx0 + 2, int(max(ys)) - by0 + 2
    gx, gy = _subpixel_grid(bx0, by0, bw, bh)
    s = area2  # orientation sign
    e0 = ((bx - ax) * (gy - ay) - (by - ay) * (gx - ax)) * np.sign(s) >= 0
    e1 = ((cx - bx) * (gy - by) - (cy - by) * (gx - bx)) * np.sign(s) >= 0
    e2 = ((ax - cx) * (gy - cy) - (ay - cy) * (gx - cx)) * np.sign(s) >= 0
    _coverage_to_img(img, bx0, by0, _fold(e0 & e1 & e2), _SS * _SS, color, alpha)


def _draw_text(img, text, x, y, color):
    """Built-in 3x5 font at the Java pen position (x = pen start, y =
    baseline). DIVERGES from the JVM's antialiased 8 pt font by design; the
    parity test masks every text box."""
    pen = x
    for ch in str(text):
        rows = _FONT.get(ch)
        if rows is None:
            rows = _FONT["-"]
        for ry, bits in enumerate(rows):
            for rx in range(3):
                if bits & (1 << (2 - rx)):
                    py, px = y - 5 + ry, pen + rx
                    if 0 <= py < img.shape[0] and 0 <= px < img.shape[1]:
                        img[py, px] = color
        pen += 4


def render_curvature_debug(matrix: np.ndarray, box_xy=(0, 0)):
    """Render the F8 sheet for one n x n glyph matrix (True = black ink).

    Returns (img, mask): img is (H, W, 3) uint8; mask is (H, W) bool, True
    where the render may legitimately differ from Java (AA bands + text).
    Geometry follows generateCurvatureBitmap line by line; the contour
    merge loop is the already-golden-verified F4 `extract_curvature`, whose
    (xs, ys, label) triangles are exactly the polygons the Java loop draws
    (same from/to walk, same slope expression, label==1 -> red else cyan).
    """
    n = matrix.shape[0]
    size = n * SCALE
    width = PAD_LEFT + (size + PAD_X) + PAD_RIGHT
    height = 8 * (size + PAD_Y) + PAD_BOTTOM
    img = np.full((height, width, 3), 255, dtype=np.uint8)
    mask = np.zeros((height, width), dtype=bool)

    contour = extract_contour(matrix)
    slopes, slopes2 = extract_slopes(contour)
    triangles = extract_curvature(contour, slopes, n)
    cv = extract_curvature_vector(triangles, n)  # (8, 2, 3) int

    tile = np.where(matrix, 0, 255).astype(np.uint8)  # binarized: ink=black
    tile_rgb = np.repeat(np.repeat(tile, SCALE, 0), SCALE, 1)[:, :, None].repeat(3, 2)

    for ori in range(8):
        ox = PAD_X + PAD_LEFT
        oy = PAD_Y + ori * (PAD_Y + size)
        # drawImage: nearest 8x upscale of the binarized tile
        img[oy : oy + size, ox : ox + size] = tile_rgb
        # half-tile masks, white alpha 240
        if ori == 4:
            _fill_rect(img, ox, oy, size // 2, size, _WHITE, 240)
        elif ori == 5:
            _fill_rect(img, ox + size // 2, oy, size // 2, size, _WHITE, 240)
        elif ori == 6:
            _fill_rect(img, ox, oy, size, size // 2, _WHITE, 240)
        elif ori == 7:
            _fill_rect(img, ox, oy + size // 2, size, size // 2, _WHITE, 240)
        # grid, white alpha 64: vertical then horizontal per index
        for i in range(n + 1):
            _draw_hv_line(img, ox + i * SCALE, oy, ox + i * SCALE, oy + size, _WHITE, 64)
            _draw_hv_line(img, ox, oy + i * SCALE, ox + size, oy + i * SCALE, _WHITE, 64)

    # zone third-lines: stroke 3, black alpha 16
    for ori in range(8):
        ox = PAD_X + PAD_LEFT
        oy = PAD_Y + ori * (PAD_Y + size)
        for i in range(1, 3):
            if ori > 3:
                _draw_hv_line(img, ox + i * size // 3, oy, ox + i * size // 3, oy + size, _BLACK, 16, width=3)
            else:
                _draw_hv_line(img, ox, oy + i * size // 3, ox + size, oy + i * size // 3, _BLACK, 16, width=3)

    # contour segments: triangle fill (alpha 128) + opaque line per segment
    half = SCALE // 2
    for ori in range(8):
        offx = PAD_X + PAD_LEFT + half
        offy = PAD_Y + ori * (PAD_Y + size) + half
        for xs, ys, label in triangles[ori]:
            c = _RED if label == 1 else _CYAN
            pxs = tuple(offx + SCALE * v for v in xs)
            pys = tuple(offy + SCALE * v for v in ys)
            _fill_triangle_aa(img, pxs, pys, c, 128)
            _draw_line_aa(img, pxs[0], pys[0], pxs[1], pys[1], c)
            if pxs[0] != pxs[1] and pys[0] != pys[1]:
                _mask_segment_band(mask, pxs[0], pys[0], pxs[1], pys[1])
        # black curvature-vector numbers above the tile
        for zone in range(3):
            for typ in range(2):
                tx = PAD_X + 25 * typ + PAD_LEFT
                ty = PAD_Y + ori * (PAD_Y + size) + 11 * zone - 40
                _draw_text(img, int(cv[ori][typ][zone]), tx, ty, _BLACK)

    _draw_text(img, f"{box_xy[0]}, {box_xy[1]}", 0, 10, _BLACK)

    # green per-row contour/slope annotations; each row's divergence box
    # scales with its string (JVM 8pt advance measured <= ~4.25 px/char on
    # both the n=9 and n=16 sheets: 12 chars -> x<=51, 17 chars -> x<=71)
    for ori in range(8):
        for i in range(n):
            a = int(contour[ori][i - 1]) if i > 0 else int(contour[ori][i])
            b = int(contour[ori][i])
            c = int(contour[ori][i + 1]) if i < n - 1 else b
            a, b, c = (n if v == -1 else v for v in (a, b, c))
            text = f"{a}:{b}:{c} {slopes[ori][i]} {slopes2[ori][i]} {int(contour[ori][i])}"
            tx = PAD_X - 30
            ty = PAD_Y + ori * (PAD_Y + size) + i * SCALE + SCALE
            _draw_text(img, text, tx, ty, _GREEN)
            mask[max(ty - 9, 0) : ty + 4, 0 : tx + round(4.5 * len(text)) + 4] = True

    # Remaining text divergence boxes (the green rows mask themselves above).
    # Pen positions are fixed geometry; extents are JVM-font measurements
    # (number labels: x in [73, 106], rows [top-46, top-19]) plus headroom.
    # "x, y" header at baseline (0, 10): width scales with the coordinate
    # digits (JVM 8pt glyph advance <= ~5 px; built-in font uses 4 px)
    mask[0:14, 0 : max(44, 5 * len(f"{box_xy[0]}, {box_xy[1]}") + 6)] = True
    for ori in range(8):
        top = PAD_Y + ori * (PAD_Y + size)
        mask[max(top - 48, 0) : top - 16, 72:115] = True  # black cv numbers
    return img, mask


def _mask_segment_band(mask, x1, y1, x2, y2):
    """Mark the +-4 px AA divergence band around one slanted segment (the
    triangle hypotenuse and the line stroked over it share the same band)."""
    pad = 4.0
    bx0 = int(np.floor(min(x1, x2) - pad - 1))
    by0 = int(np.floor(min(y1, y2) - pad - 1))
    bx1 = int(np.ceil(max(x1, x2) + pad + 1)) + 1
    by1 = int(np.ceil(max(y1, y2) + pad + 1)) + 1
    bx0, by0 = max(bx0, 0), max(by0, 0)
    bx1, by1 = min(bx1, mask.shape[1]), min(by1, mask.shape[0])
    if bx1 <= bx0 or by1 <= by0:
        return
    ys, xs = np.mgrid[by0:by1, bx0:bx1]
    fx1, fy1, fx2, fy2 = x1 + 0.5, y1 + 0.5, x2 + 0.5, y2 + 0.5
    dx, dy = fx2 - fx1, fy2 - fy1
    ln2 = dx * dx + dy * dy
    t = np.clip(((xs + 0.5 - fx1) * dx + (ys + 0.5 - fy1) * dy) / ln2, 0.0, 1.0)
    d2 = (xs + 0.5 - (fx1 + t * dx)) ** 2 + (ys + 0.5 - (fy1 + t * dy)) ** 2
    mask[by0:by1, bx0:bx1] |= d2 <= pad * pad


def render_region_debug(gray: np.ndarray, x: int, y: int, w: int, h: int):
    """Render the F8 sheet for a page region, as classifySymbol does for each
    character box (CurvatureClassifier.java:850-861: extractBitmap ->
    feature chain -> generateCurvatureBitmap, attached to the TextBox).
    Returns (img, mask) like `render_curvature_debug`; encode with
    ocr_spark.png.encode_rgb to persist."""
    from .bitmap import extract_matrix
    from .classify import DEFAULT_MATRIX_SIZE

    matrix, _ = extract_matrix(gray, x, y, w, h, DEFAULT_MATRIX_SIZE)
    return render_curvature_debug(matrix, (x, y))
