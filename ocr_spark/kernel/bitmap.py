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

    Returns (top, left, bottom, right): how many rows/columns each side's
    scan passes before its first ink, 0 where it finds none. Quirk
    preserved: the bottom scan starts at row y+h and the right scan at
    column x+w, one row/column OUTSIDE the box (Bitmap.java:529,555).
    """
    _check_box(mask.shape, x, y, w, h)
    if w == 0 or h == 0:
        return 0, 0, 0, 0  # argmax of an empty array raises
    box = mask[y : y + h, x : x + w]
    rows, cols = box.any(axis=1), box.any(axis=0)
    return (
        int(rows.argmax()),
        int(cols.argmax()),
        int(rows[::-1].argmax()) + 1 if rows.any() and not mask[y + h, x : x + w].any() else 0,
        int(cols[::-1].argmax()) + 1 if cols.any() and not mask[y : y + h, x + w].any() else 0,
    )


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

