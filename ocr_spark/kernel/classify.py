"""Alphabet learning and 1-NN classification (reference CurvatureClassifier).

The learned ``Alphabet`` holds stacked ndarrays — cheap to pickle
into a Spark broadcast / UDF closure. Classification is a batched integer L1
over the 48-dim curvature vectors with first-index tie-break, exactly the
reference's truncating accumulation + strict-less argmin
(CurvatureClassifier.java:977-1021).
"""

from __future__ import annotations

import numpy as np

from .bitmap import extract_matrix
from .features import curvature_vectors

# CurvatureClassifier.java:19-22 ('*' appears twice; first-wins argmin makes
# the second template unreachable, preserved bug-for-bug)
DEFAULT_ALPHABET = (
    "ABCDEFGHIJKLM"
    "NOPQRSTUVWXYZ"
    "abcdefghijklm"
    "nopqrstuvwxyz"
    "0123456789@+'"
    "/\\\"*.-:,&()=*"
)

DEFAULT_MATRIX_SIZE = 9  # OCREngine.java:10


class Alphabet:
    """Learned template set: characters + stacked feature arrays."""

    def __init__(self):
        self.n = DEFAULT_MATRIX_SIZE
        self.chars: list[str] = []
        self.fonts: list[str] = []
        self.vectors = np.zeros((0, 8 * 2 * 3), dtype=np.int64)

    def reset(self):
        """E4: drop every learned template (CurvatureClassifier.reset,
        :82-85 — the constructor calls it too, so a fresh instance and a
        reset one are indistinguishable)."""
        self.__init__()
        return self

    def learn_sheet(self, gray: np.ndarray, font_name: str):
        """T1: learn the fixed 13x6 font sheet grid of ``DEFAULT_ALPHABET``
        (CurvatureClassifier.learn, :45-79; grid cell (71x+1, 69y+1, 69, 67)).
        Repeated calls append (multi-font), matching engine semantics."""
        gw, gh = 71, 69
        matrices = []
        for gy in range(6):
            for gx in range(13):
                bx, by, bw, bh = gw * gx + 1, gh * gy + 1, gw - 2, gh - 2
                matrix, _ = extract_matrix(gray, bx, by, bw, bh, self.n)
                if not matrix.any():  # empty cell, skipped (:832-835)
                    continue
                matrices.append(matrix)
                self.chars.append(DEFAULT_ALPHABET[13 * gy + gx])
                self.fonts.append(font_name)
        if matrices:
            self.vectors = np.concatenate([self.vectors, curvature_vectors(np.stack(matrices))])
        return self


#: rows per 1-NN block: bounds the (rows, templates, 48) difference array
_NN_ROWS = 64


def classify_batch(vectors: np.ndarray, alphabet: Alphabet):
    """T2: batched nearest-neighbor by integer L1 on curvature vectors.

    ``vectors``: (B, 48) int64. Returns (indices, distances).
    """
    idx = np.empty(len(vectors), dtype=np.intp)
    dist = np.empty(len(vectors), dtype=np.int64)
    for s in range(0, len(vectors), _NN_ROWS):
        block = vectors[s : s + _NN_ROWS]
        d = np.abs(block[:, None, :] - alphabet.vectors[None, :, :]).sum(axis=2)
        i = d.argmin(axis=1)  # first index wins ties, like the reference loop
        idx[s : s + len(i)] = i
        dist[s : s + len(i)] = d[np.arange(len(i)), i]
    return idx, dist
