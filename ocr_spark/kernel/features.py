"""Glyph feature extraction (reference CurvatureClassifier.java), NumPy.

All functions take an (n, n) boolean glyph matrix (True = black) produced by
``bitmap.extract_matrix``. Contour values are small integers stored as int64;
the curvature vector is integer-valued by construction (areas are lattice
point counts), which is why the reference's truncating ``int[] += double``
accumulation (CurvatureClassifier.java:981,1001) is exactly an integer L1.
"""

from __future__ import annotations

import numpy as np


def extract_contour(matrix: np.ndarray) -> np.ndarray:
    """F2: 8-orientation first-ink profiles (CurvatureClassifier.java:130-215).

    The glyph is always n x n here (fx = fy = 1), so each profile entry is the
    raw first-ink index: forward scans yield n when a line has no ink, reverse
    scans yield -1.
    """
    n = matrix.shape[0]
    m = matrix
    out = np.empty((8, n), dtype=np.int64)

    def first_fwd(a, start):  # scan increasing index from `start`
        sl = a[:, start:]
        hit = sl.any(axis=1)
        idx = np.argmax(sl, axis=1) + start
        return np.where(hit, idx, n)

    def first_rev(a, start):  # scan decreasing index from `start`
        sl = a[:, : start + 1]
        hit = sl.any(axis=1)
        idx = start - np.argmax(sl[:, ::-1], axis=1)
        return np.where(hit, idx, -1)

    half = n // 2
    out[0] = first_fwd(m, 0)                # rows, left -> right
    out[1] = first_rev(m, n - 1)            # rows, right -> left
    out[2] = first_fwd(m.T, 0)              # cols, top -> bottom
    out[3] = first_rev(m.T, n - 1)          # cols, bottom -> top
    out[4] = first_fwd(m, half)             # rows, from mid to right
    out[5] = first_rev(m, n - 1 - half)     # rows, from mid to left
    out[6] = first_fwd(m.T, half)           # cols, from mid down
    out[7] = first_rev(m.T, n - 1 - half)   # cols, from mid up
    return out


def extract_slopes(contour: np.ndarray):
    """F3: 16-case slope classification (CurvatureClassifier.java:218-331).

    Returns (slopes, slopes2) int64 arrays of shape (8, n).
    """
    n = contour.shape[1]
    b = contour.astype(np.int64)
    a = np.concatenate([b[:, :1], b[:, :-1]], axis=1)
    c = np.concatenate([b[:, 1:], b[:, -1:]], axis=1)
    a = np.where(a == -1, n, a)
    b = np.where(b == -1, n, b)
    c = np.where(c == -1, n, c)

    conds = [
        b == n,                      # t=0,  s=-1
        (a == b) & (b == c),         # t=1,  s=0
        (a == n) & (b == c),         # t=2,  s=0
        (a == b) & (c == n),         # t=3,  s=0
        (a < b) & (c < b),           # t=4,  s=2
        (a > b) & (c > b),           # t=5,  s=0
        (a > b) & (c <= b),          # t=6,  s=1
        (a >= b) & (c < b),          # t=7,  s=1
        (a == n) & (c < b),          # t=8,  s=1
        (a > b) & (c == n),          # t=9,  s=1
        (a < b) & (c >= b),          # t=10, s=2
        (a <= b) & (c > b),          # t=11, s=2
        (a == n) & (c > b),          # t=12, s=2
        (a < b) & (c == n),          # t=13, s=3
    ]
    svals = [-1, 0, 0, 0, 2, 0, 1, 1, 1, 1, 2, 2, 2, 3]
    tvals = list(range(14))
    slopes = np.select(conds, svals, default=-1).astype(np.int64)
    slopes2 = np.select(conds, tvals, default=15).astype(np.int64)
    return slopes, slopes2


def extract_curvature(contour: np.ndarray, slopes: np.ndarray, n: int):
    """F4: merge equal-slope runs into chords, emit triangles
    (CurvatureClassifier.java:334-495). Returns per orientation a list of
    (triangle_xs, triangle_ys, incline_label) with int vertex coords."""
    result = []
    for ori in range(8):
        hor = ori in (2, 3, 6, 7)
        cont = contour[ori]
        slp = slopes[ori]
        tris = []
        tx = 0
        from_x = from_y = 0
        first = True
        i = 0
        while i < n:
            if first:
                tx = int(cont[i])
            else:
                start_slope = slp[i]
                while i < n:
                    if cont[i] == -1:
                        break
                    if start_slope != slp[i] and slp[i] != 0:
                        break
                    tx = int(cont[i])
                    i += 1
            if tx == -1 or tx == n:
                first = True
                i += 1
                continue
            if hor:
                to_x = i - (0 if first else 1)
                to_y = tx
            else:
                to_x = tx
                to_y = i - (0 if first else 1)
            if (not first) and -1 < tx < n and (from_x != to_x or from_y != to_y):
                if ori in (0, 4):
                    slope = 1 if to_x < from_x else -1
                elif ori in (1, 5):
                    slope = -1 if to_x < from_x else 1
                elif ori in (2, 6):
                    slope = -1 if to_y < from_y else 1
                else:
                    slope = 1 if to_y < from_y else -1
                if slope == 1:
                    xs = (from_x, to_x, from_x)
                    ys = (from_y, to_y, to_y)
                else:
                    xs = (from_x, to_x, to_x)
                    ys = (from_y, to_y, from_y)
                label = (-1 if slope == 1 else 1) if hor else slope
                tris.append((xs, ys, label))
            from_x, from_y = to_x, to_y
            first = False
            if i < n and cont[i] == -1:
                first = True
            i += 1
        result.append(tris)
    return result


def polygon_contains_lattice(xs, ys, n: int) -> np.ndarray:
    """java.awt.Polygon.contains(double,double) evaluated on the n x n
    integer lattice, replicating the JDK crossing algorithm exactly
    (including the bounding-box pre-test with exclusive right/bottom)."""
    px = np.arange(n, dtype=np.float64)[None, :].repeat(n, axis=0)
    py = np.arange(n, dtype=np.float64)[:, None].repeat(n, axis=1)

    bx0, bx1 = min(xs), max(xs)
    by0, by1 = min(ys), max(ys)
    inside_bb = (px >= bx0) & (py >= by0) & (px < bx1) & (py < by1)
    if not inside_bb.any():
        return np.zeros((n, n), dtype=bool)

    hits = np.zeros((n, n), dtype=np.int64)
    npts = 3
    lastx, lasty = xs[npts - 1], ys[npts - 1]
    for i in range(npts):
        curx, cury = xs[i], ys[i]
        if cury == lasty:
            lastx, lasty = curx, cury
            continue
        if curx < lastx:
            skip_x = px >= lastx
            leftx = curx
        else:
            skip_x = px >= curx
            leftx = lastx
        if cury < lasty:
            in_y = (py >= cury) & (py < lasty)
            test1 = px - curx
            test2 = py - cury
        else:
            in_y = (py >= lasty) & (py < cury)
            test1 = px - lastx
            test2 = py - lasty
        consider = (~skip_x) & in_y
        easy = consider & (px < leftx)
        hard = consider & (px >= leftx) & (
            test1 < (test2 / (lasty - cury) * (lastx - curx))
        )
        hits += easy | hard
        lastx, lasty = curx, cury
    return inside_bb & ((hits & 1) == 1)


def extract_curvature_vector(triangles, n: int) -> np.ndarray:
    """F5: rasterized triangle areas per 3 zone bands x 2 incline types
    (CurvatureClassifier.java:738-801). Integer-valued (8, 2, 3) array."""
    third = n / 3.0
    v = [int(k * third) for k in range(4)]
    fill = np.zeros((8, 2, 3), dtype=np.int64)
    for ori in range(8):
        hor = ori in (0, 1, 4, 5)
        for xs, ys, label in triangles[ori]:
            t = 0 if label == -1 else 1
            lat = polygon_contains_lattice(xs, ys, n)
            for z in range(3):
                if hor:
                    area = lat[v[z] : v[z + 1], :].sum()
                else:
                    area = lat[:, v[z] : v[z + 1]].sum()
                fill[ori, t, z] += area
    return fill


def curvature_vector(matrix: np.ndarray) -> np.ndarray:
    """Full F2->F5 chain for one glyph matrix; (8,2,3) int64."""
    n = matrix.shape[0]
    cont = extract_contour(matrix)
    slopes, _ = extract_slopes(cont)
    tris = extract_curvature(cont, slopes, n)
    return extract_curvature_vector(tris, n)
