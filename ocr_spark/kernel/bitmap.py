"""Bitmap-level operators (reference Bitmap.java), vectorized.

A "page" is a (h, w) uint8 gray raster; the black mask is ``raster < 128``
(Bitmap.java:63-66: the signed-byte sign-bit test means 0-127 = black).
"""

from __future__ import annotations

import math

import numpy as np

from .javaimg import java_resize

WHITE_THRESHOLD = 160  # CurvatureClassifier.java:18


def black_mask(gray: np.ndarray) -> np.ndarray:
    """P1 binarize (Bitmap.isBlack, Bitmap.java:63-66)."""
    return gray < 128


def get_borders(mask: np.ndarray, x: int, y: int, w: int, h: int):
    """P12 border trim (Bitmap.getBorders, Bitmap.java:506-568).

    Returns (top, left, bottom, right). Quirk preserved: the bottom scan
    starts at row y+h and the right scan at column x+w — one row/column
    OUTSIDE the box (Bitmap.java:529,555). Callers must guarantee
    y+h < page height and x+w < page width (true for any page with margins;
    the reference throws/wraps otherwise).
    """
    H, W = mask.shape
    x1, y1 = x + w, y + h
    if not (0 <= x and 0 <= y and x1 < W and y1 < H):
        raise ValueError(f"box ({x},{y},{w},{h}) reaches the page edge")

    box = mask[y:y1, x:x1]
    rows = box.any(axis=1)
    cols = box.any(axis=0)

    top = int(np.argmax(rows)) if rows.any() else 0

    # bottom: rows y1 .. y, row y1 restricted to cols [x, x1)
    bottom = 0
    if mask[y1, x:x1].any():
        bottom = 0
    else:
        below = rows[::-1]  # row y1-1 first
        if below.any():
            bottom = int(np.argmax(below)) + 1
        else:
            bottom = 0
    # NOTE: Java sets bottom = y1 - (first black row scanning down from y1);
    # if row y1 itself has black, bottom = 0, matching the branch above.

    left = int(np.argmax(cols)) if cols.any() else 0

    right = 0
    if mask[y:y1, x1].any():
        right = 0
    else:
        rcols = cols[::-1]
        if rcols.any():
            right = int(np.argmax(rcols)) + 1
        else:
            right = 0

    return top, left, bottom, right


def extract_matrix(gray: np.ndarray, x: int, y: int, w: int, h: int, n: int):
    """F1 glyph normalize (CurvatureClassifier.extractBitmap, :88-113).

    Crop with border trim (+1 row/col per the getRegion call at :96), resize
    to n x n (ImageTools parity), threshold at 160 -> black mask (True=black).
    Returns (matrix_bool, (top, left, bottom, right)).
    """
    mask = black_mask(gray)
    t, l, b, r = get_borders(mask, x, y, w, h)
    crop = gray[y + t : y + h - b + 1, x + l : x + w - r + 1]
    resized = java_resize(crop, n, n)
    return resized <= WHITE_THRESHOLD, (t, l, b, r)


def find_hor_line(mask: np.ndarray, x: int, y: int, deviation: int, max_errors: int):
    """P3 gap-tolerant horizontal line trace (Bitmap.findHorLine, :258-292)."""
    H, W = mask.shape
    ex, ey = x, y
    error = 0
    while error < max_errors and x < W:
        error += 1
        for i in range(1, 2 + 2 * deviation):
            iy = y + (i // 2 if (i & 1) == 0 else -(i // 2))
            if 0 <= iy < H and mask[iy, x]:
                ex, ey = x, iy
                error = 0
                if iy < y:
                    y -= 1
                elif iy > y:
                    y += 1
                break
        x += 1
    return ex, ey


def find_ver_line(mask: np.ndarray, x: int, y: int, deviation: int, max_errors: int):
    """P4 gap-tolerant vertical line trace (Bitmap.findVerLine, :304-338).

    The reference declares a cumulative-deviation cutoff but never updates
    the `deviation` counter, so the |deviation| <= max test is always true —
    replicated by simply omitting it."""
    H, W = mask.shape
    ex, ey = x, y
    error = 0
    while error < max_errors and y < H:
        error += 1
        for i in range(1, 2 + 2 * deviation):
            ix = x + (i // 2 if (i & 1) == 0 else -(i // 2))
            if 0 <= ix < W and mask[y, ix]:
                ex, ey = ix, y
                error = 0
                if ix < x:
                    x -= 1
                elif ix > x:
                    x += 1
                break
        y += 1
    return ex, ey


def _draw_line_white(gray: np.ndarray, x0: int, y0: int, x1: int, y1: int):
    """Graphics2D.drawLine(x0,y0,x1,y1) in WHITE on the byte raster.

    OpenJDK's solid 1-px line loop (GeneralRenderer.doDrawLine): Bresenham
    stepping along the major axis with `error >= 0` as the bump condition,
    inclusive of both endpoints, always iterated from the first endpoint."""
    H, W = gray.shape
    dx, dy = x1 - x0, y1 - y0
    ax, ay = abs(dx), abs(dy)
    sx = 1 if dx >= 0 else -1
    sy = 1 if dy >= 0 else -1
    x, y = x0, y0
    if ax >= ay:
        err = -((ax + 1) >> 1)  # OpenJDK rounds the half-step UP (validated)
        for _ in range(ax + 1):
            if 0 <= x < W and 0 <= y < H:
                gray[y, x] = 255
            x += sx
            err += ay
            if err >= 0:
                y += sy
                err -= ax
    else:
        err = -((ay + 1) >> 1)
        for _ in range(ay + 1):
            if 0 <= x < W and 0 <= y < H:
                gray[y, x] = 255
            y += sy
            err += ax
            if err >= 0:
                x += sx
                err -= ay


def erase_lines(gray: np.ndarray, min_inches: float, extra: int) -> np.ndarray:
    """P11 ruling-line erasure (Bitmap.eraseLines, :433-497), in place.

    Scan order, the mid-line skip (`x += (x1-x0)/2`), the (dev=2, err=3)
    trace parameters and the +-extra smeared white drawLine all follow the
    reference exactly (validated against erase_lines.gray.png golden)."""
    mask = black_mask(gray)
    H, W = gray.shape
    min_len = min_inches * max(W, H) / 30.0 * 2.54
    rects = []

    for y in range(H):
        x = 0
        while x < W - min_len:
            if mask[y, x] and mask[y, x + 1]:
                px, py = find_hor_line(mask, x, y, 2, 3)
                if px - x > min_len:
                    rects.append((x, y, px - x, py - y))
                    x += (px - x) // 2
            x += 1

    for x in range(W):
        y = 0
        while y < H - min_len:
            if mask[y, x] and mask[y + 1, x]:
                px, py = find_ver_line(mask, x, y, 2, 3)
                if py - y > min_len:
                    rects.append((x, y, px - x, py - y))
                    y += (py - y) // 2
            y += 1

    for (rx, ry, rw, rh) in rects:
        for oy in range(-extra, extra + 1):
            for ox in range(-extra, extra + 1):
                _draw_line_white(gray, rx + ox, ry + oy, rx + rw + ox, ry + rh + oy)
    return gray


def get_line_fill_factor_hor(mask, x1, x0, y0, y1, w, deviation):
    """Bitmap.getLineFillFactorHor (:392-425)."""
    H, W = mask.shape
    if x1 < x0:
        x0, x1 = x1, x0
        y0, y1 = y1, y0
    y = y0 + 0.5
    dy = (y1 - y0) / w
    total = 0
    x = x0
    while x < x1:
        if 0 <= x < W:
            for d in range(1, 2 + 2 * deviation):
                iy = int(y) + (d // 2 if (d & 1) == 0 else -(d // 2))
                if 0 <= iy < H and mask[iy, x]:
                    total += 1
                    break
        x += 1
        y += dy
    return total / w


def find_skew_angle(gray: np.ndarray, from_y: int, to_y: int) -> float:
    """P6 skew estimation (Bitmap.findAngle, :178-237), incl. the brute-force
    slope->degrees inversion loop for bit parity with the reference."""
    mask = black_mask(gray)
    H, W = mask.shape
    skewed = 0.0
    count = 0
    for deviation in range(1, 5):
        if count >= 10000:
            break
        for y in range(from_y, to_y):
            if count >= 10000:
                break
            for x in range(10, W - 10):
                if mask[y, x] and (mask[y, x + 1] or mask[y, x + 2] or mask[y, x + 3]):
                    px, py = find_hor_line(mask, x, y, deviation, 5)
                    if px - x > W // 4:
                        if get_line_fill_factor_hor(mask, px, x, y, py, abs(px - x), 0) > 0.95:
                            skewed += (py - y) / (px - x)
                            count += 1
    if count == 0:
        return 0.0
    skewed /= count
    error = float("inf")
    corr = 0.0
    i = 0.0
    while i < 1.0:
        xx = 1000 * math.cos(math.pi * 2 * i)
        yy = 1000 * math.sin(math.pi * 2 * i)
        e = abs((yy / xx) - skewed)
        if e < error:
            error = e
            corr = (i * 360) % 90
        i += 0.0001
    if corr > 45:
        corr -= 90
    return -corr
