"""Page-level orchestration (reference OCREngine.java): segment + classify.

``scan_page`` is the per-page kernel the Spark UDFs call: one gray raster in,
recognized words (with char boxes) out. Feature extraction is memoized by
matrix bytes — rendered corpora reuse a small glyph set, and even organic
pages repeat glyphs heavily, so the cache turns the O(glyphs) feature chain
into O(distinct glyphs).
"""

from __future__ import annotations

import numpy as np

from .bitmap import extract_matrix
from .classify import Alphabet, classify_batch
from .segment import (
    CharBox,
    Settings,
    WordBox,
    find_character_rectangles,
    find_word_rectangles,
    split_words,
)
from .features import curvature_vector

_VEC_CACHE: dict[bytes, np.ndarray] = {}
_VEC_CACHE_MAX = 200_000

_MATRIX_CACHE: dict[bytes, np.ndarray] = {}
_MATRIX_CACHE_MAX = 200_000


def _vector_of(matrix: np.ndarray) -> np.ndarray:
    key = np.packbits(matrix).tobytes()
    v = _VEC_CACHE.get(key)
    if v is None:
        v = curvature_vector(matrix).reshape(-1)
        if len(_VEC_CACHE) >= _VEC_CACHE_MAX:
            _VEC_CACHE.clear()
        _VEC_CACHE[key] = v
    return v


def _matrix_of(gray: np.ndarray, x: int, y: int, w: int, h: int, n: int) -> np.ndarray:
    """extract_matrix memoized by exact crop bytes: repeated glyph imagery
    (rendered corpora, scanned forms, repeated logos) skips the normalize +
    Java-bilinear resize chain entirely. Pure memoization — identical input
    bytes, identical output. Full dimensions go into the key (two crops with
    identical pixel bytes but transposed shapes must not collide)."""
    import struct

    key = gray[y : y + h, x : x + w].tobytes() + struct.pack(">IIB", w, h, n)
    m = _MATRIX_CACHE.get(key)
    if m is None:
        m, _ = extract_matrix(gray, x, y, w, h, n)
        if len(_MATRIX_CACHE) >= _MATRIX_CACHE_MAX:
            _MATRIX_CACHE.clear()
        _MATRIX_CACHE[key] = m
    return m


def load_page(gray: np.ndarray, settings: Settings):
    """OCREngine.loadPage (:54-71): segmentation only; returns [WordBox]."""
    rects = find_character_rectangles(gray, settings)
    word_rects = find_word_rectangles(rects, settings)
    return split_words(gray, word_rects, settings)


def scan_page(gray: np.ndarray, settings: Settings, alphabet: Alphabet) -> list[WordBox]:
    """OCREngine.scan (:101-159) over the whole loaded page.

    Words whose segmentation produced no children are classified as a single
    glyph (scanBox leaf case, :136-149), exactly like the reference.
    """
    words = load_page(gray, settings)

    boxes = []  # (word, char_or_none)
    for word in words:
        if word.chars:
            for cb in word.chars:
                boxes.append((word, cb))
        else:
            boxes.append((word, None))

    if boxes:
        vecs = []
        for word, cb in boxes:
            b = cb if cb is not None else word
            matrix = _matrix_of(gray, b.x, b.y, b.w, b.h, alphabet.n)
            vecs.append(_vector_of(matrix))
        idx, _ = classify_batch(np.stack(vecs), alphabet)
        for (word, cb), i in zip(boxes, idx):
            ch = alphabet.chars[int(i)]
            if cb is None:
                word.chars.append(CharBox(word.x, word.y, word.w, word.h, 0, ch))
            else:
                cb.char = ch
    return words


def page_text(words: list[WordBox]) -> str:
    """Canonical page text: recognized words in engine scan order."""
    return " ".join(w.text for w in words)


def recognize(gray: np.ndarray, settings: Settings, alphabet: Alphabet) -> str:
    """Full page -> text: ``scan_page`` joined in engine scan order."""
    return page_text(scan_page(gray, settings, alphabet))
