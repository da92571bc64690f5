"""Bitmap-level operators (reference Bitmap.java), vectorized.

A "page" is a (h, w) uint8 gray raster; the black mask is ``raster < 128``
(Bitmap.java:63-66: the signed-byte sign-bit test means 0-127 = black).
"""

from __future__ import annotations

import numpy as np

from .javaimg import java_resize

WHITE_THRESHOLD = 160  # CurvatureClassifier.java:18


def black_mask(gray: np.ndarray) -> np.ndarray:
    """P1 binarize (Bitmap.isBlack, Bitmap.java:63-66)."""
    return gray < 128


def _check_box(shape: tuple, x: int, y: int, w: int, h: int) -> None:
    """Raise unless the box and its row y+h and column x+w lie on the page."""
    H, W = shape
    if not (0 <= x and 0 <= y and x + w < W and y + h < H):
        raise ValueError(f"box ({x},{y},{w},{h}) reaches the page edge")


def get_borders(mask: np.ndarray, x: int, y: int, w: int, h: int):
    """P12 border trim (Bitmap.getBorders, Bitmap.java:506-568).

    Returns (top, left, bottom, right). Quirk preserved: the bottom scan
    starts at row y+h and the right scan at column x+w — one row/column
    OUTSIDE the box (Bitmap.java:529,555). Callers must guarantee
    y+h < page height and x+w < page width (true for any page with margins;
    the reference throws/wraps otherwise).
    """
    _check_box(mask.shape, x, y, w, h)
    x1, y1 = x + w, y + h

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

    Reads only the (h+1) x (w+1) window at (x, y), which it binarizes alone.
    """
    # checked on the page: a negative x or y would wrap the window's slice
    _check_box(gray.shape, x, y, w, h)
    win = gray[y : y + h + 1, x : x + w + 1]
    t, l, b, r = get_borders(black_mask(win), 0, 0, w, h)
    crop = win[t : h - b + 1, l : w - r + 1]
    resized = java_resize(crop, n, n)
    return resized <= WHITE_THRESHOLD, (t, l, b, r)

