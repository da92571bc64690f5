"""Glyph feature extraction (reference CurvatureClassifier.java), NumPy.

The chain starts from (n, n) boolean glyph matrices (True = black) produced
by ``bitmap.extract_matrix``. F2, F3 and F5 run over a stack of glyphs at
once; the single-glyph functions are that path called with one glyph.
Contour values are small integers stored as int64; the curvature vector is
integer-valued by construction (areas are lattice point counts), which is why
the reference's truncating ``int[] += double`` accumulation
(CurvatureClassifier.java:981,1001) is exactly an integer L1.
"""

from __future__ import annotations

import numpy as np


def extract_contour(matrix: np.ndarray) -> np.ndarray:
    """F2: 8-orientation first-ink profiles (CurvatureClassifier.java:130-215).

    ``matrix`` is (..., n, n); the result is (..., 8, n). The glyph is always
    n x n here (fx = fy = 1), so each profile entry is the raw first-ink
    index: forward scans yield n when a line has no ink, reverse scans yield -1.
    """
    n = matrix.shape[-1]
    m = matrix
    mt = np.swapaxes(matrix, -1, -2)
    out = np.empty(matrix.shape[:-2] + (8, n), dtype=np.int64)

    def first_fwd(a, start):  # scan increasing index from `start`
        sl = a[..., start:]
        hit = sl.any(axis=-1)
        idx = np.argmax(sl, axis=-1) + start
        return np.where(hit, idx, n)

    def first_rev(a, start):  # scan decreasing index from `start`
        sl = a[..., : start + 1]
        hit = sl.any(axis=-1)
        idx = start - np.argmax(sl[..., ::-1], axis=-1)
        return np.where(hit, idx, -1)

    half = n // 2
    out[..., 0, :] = first_fwd(m, 0)                # rows, left -> right
    out[..., 1, :] = first_rev(m, n - 1)            # rows, right -> left
    out[..., 2, :] = first_fwd(mt, 0)               # cols, top -> bottom
    out[..., 3, :] = first_rev(mt, n - 1)           # cols, bottom -> top
    out[..., 4, :] = first_fwd(m, half)             # rows, from mid to right
    out[..., 5, :] = first_rev(m, n - 1 - half)     # rows, from mid to left
    out[..., 6, :] = first_fwd(mt, half)            # cols, from mid down
    out[..., 7, :] = first_rev(mt, n - 1 - half)    # cols, from mid up
    return out


def extract_slopes(contour: np.ndarray):
    """F3: 16-case slope classification (CurvatureClassifier.java:218-331).

    ``contour`` is (..., 8, n); returns (slopes, slopes2) int64 arrays of the
    same shape.
    """
    n = contour.shape[-1]
    b = contour.astype(np.int64)
    a = np.concatenate([b[..., :1], b[..., :-1]], axis=-1)
    c = np.concatenate([b[..., 1:], b[..., -1:]], axis=-1)
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
    (CurvatureClassifier.java:334-495) for one glyph's (8, n) profiles,
    given as arrays or nested lists. Returns per orientation a list of
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
    integer lattice for a stack of triangles, replicating the JDK crossing
    algorithm exactly (including the bounding-box pre-test with exclusive
    right/bottom). ``xs``/``ys`` are (T, 3) vertex coordinates; returns a
    (T, n, n) bool array indexed [triangle, y, x]."""
    xs = np.asarray(xs, dtype=np.int64).reshape(-1, 1, 1, 3)
    ys = np.asarray(ys, dtype=np.int64).reshape(-1, 1, 1, 3)
    px = np.arange(n, dtype=np.float64)[None, None, :]
    py = np.arange(n, dtype=np.float64)[None, :, None]

    inside_bb = (
        (px >= xs.min(axis=3)) & (py >= ys.min(axis=3))
        & (px < xs.max(axis=3)) & (py < ys.max(axis=3))
    )
    hits = np.zeros(inside_bb.shape, dtype=bool)  # crossing-count parity
    for i in range(3):
        curx, cury = xs[..., i], ys[..., i]
        lastx, lasty = xs[..., i - 1], ys[..., i - 1]
        live = cury != lasty  # horizontal edges never cross
        up = cury < lasty
        in_y = np.where(up, (py >= cury) & (py < lasty), (py >= lasty) & (py < cury))
        test1 = px - np.where(up, curx, lastx)
        test2 = py - np.where(up, cury, lasty)
        slope = np.where(live, lasty - cury, 1.0)
        cross = (px < np.minimum(curx, lastx)) | (test1 < (test2 / slope * (lastx - curx)))
        hits ^= live & in_y & (px < np.maximum(curx, lastx)) & cross
    return inside_bb & hits


def extract_curvature_vectors(triangle_lists, n: int) -> np.ndarray:
    """F5: rasterized triangle areas per 3 zone bands x 2 incline types
    (CurvatureClassifier.java:738-801), for a list of glyphs' F4 triangles
    at once: one lattice pass over every triangle. Integer-valued
    (B, 8, 2, 3) array."""
    third = n / 3.0
    v = [int(k * third) for k in range(4)]
    xs, ys, cell, hor = [], [], [], []
    for g, triangles in enumerate(triangle_lists):
        for ori in range(8):
            for txs, tys, label in triangles[ori]:
                xs.append(txs)
                ys.append(tys)
                cell.append((g * 8 + ori) * 2 + (label != -1))
                hor.append(ori in (0, 1, 4, 5))
    fill = np.zeros((len(triangle_lists) * 16, 3), dtype=np.int64)
    if cell:
        lat = polygon_contains_lattice(xs, ys, n)
        # horizontal orientations band by rows, the others by columns
        line = np.where(np.array(hor)[:, None], lat.sum(axis=2), lat.sum(axis=1))
        acc = np.zeros((len(cell), n + 1), dtype=np.int64)
        np.cumsum(line, axis=1, out=acc[:, 1:])
        np.add.at(fill, np.array(cell), acc[:, v[1:]] - acc[:, v[:3]])
    return fill.reshape(-1, 8, 2, 3)


def extract_curvature_vector(triangles, n: int) -> np.ndarray:
    """F5 for one glyph's triangles; (8, 2, 3) int64."""
    return extract_curvature_vectors([triangles], n)[0]


#: glyphs per F2-F5 pass: bounds the (triangles, n, n) lattice temporaries
_GLYPHS_PER_PASS = 64


def curvature_vectors(matrices: np.ndarray) -> np.ndarray:
    """Full F2->F5 chain for a (B, n, n) stack of glyph matrices; (B, 48)
    int64. F2/F3 and F5 run once per ``_GLYPHS_PER_PASS`` glyphs; F4 walks
    each glyph's profiles as Python lists."""
    matrices = np.asarray(matrices, dtype=bool)
    n = matrices.shape[-1]
    out = np.empty((len(matrices), 48), dtype=np.int64)
    for s in range(0, len(matrices), _GLYPHS_PER_PASS):
        cont = extract_contour(matrices[s : s + _GLYPHS_PER_PASS])
        slopes, _ = extract_slopes(cont)
        tris = [
            extract_curvature(c, sl, n) for c, sl in zip(cont.tolist(), slopes.tolist())
        ]
        out[s : s + len(tris)] = extract_curvature_vectors(tris, n).reshape(len(tris), -1)
    return out


def curvature_vector(matrix: np.ndarray) -> np.ndarray:
    """Full F2->F5 chain for one glyph matrix; (8,2,3) int64."""
    return curvature_vectors(matrix[None]).reshape(8, 2, 3)
