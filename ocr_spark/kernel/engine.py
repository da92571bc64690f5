"""Page-level orchestration (reference OCREngine.java): segment + classify.

``scan_pages`` is the kernel entry point: a batch of gray rasters in,
recognized words (with char boxes) per page out. It runs G1 over the batch
in lockstep, sends every distinct uncached glyph of the batch through one
F2-F5 pass and every distinct curvature vector through one 1-NN call; the
single-page functions are that path called with one page. The Spark UDF
reaches it through ``recognize_pages``, which decodes and scans an Arrow
batch in groups of about ``_PIXELS_PER_SCAN`` pixels.

Matrix extraction and feature extraction are memoized by exact input bytes —
rendered corpora reuse a small glyph set, and even organic pages repeat
glyphs heavily, so the caches turn the O(glyphs) feature chain into
O(distinct glyphs). Both caches are bounded in bytes and evict least
recently used entries first.
"""

from __future__ import annotations

import struct
from collections import OrderedDict
from typing import Iterable

import numpy as np

from .bitmap import extract_matrix
from .classify import Alphabet, classify_batch
from .segment import (
    CharBox,
    Settings,
    WordBox,
    find_character_rectangles_batch,
    find_word_rectangles,
    split_words,
)
from .features import curvature_vectors

#: pixels of decoded pages at which ``recognize_pages`` scans its group
#: (a group holds less than this plus one page): bounds the resident rasters
#: and G1's prefix sums (~15 bytes a pixel)
_PIXELS_PER_SCAN = 1 << 18

#: byte budgets (key + value bytes) of the two per-process memo caches
_MATRIX_CACHE_BYTES = 64 << 20
_VEC_CACHE_BYTES = 16 << 20


class _LRUBytes:
    """Memo cache bounded by the summed bytes of its keys and ndarray
    values; inserting past the budget evicts least recently used entries."""

    def __init__(self, budget: int):
        self.budget = budget
        self.nbytes = 0
        self._entries: OrderedDict[bytes, np.ndarray] = OrderedDict()

    def get(self, key: bytes):
        v = self._entries.get(key)
        if v is not None:
            self._entries.move_to_end(key)
        return v

    def put(self, key: bytes, value: np.ndarray) -> None:
        """Insert a key that missed."""
        self._entries[key] = value
        self.nbytes += len(key) + value.nbytes
        while self.nbytes > self.budget:
            k, v = self._entries.popitem(last=False)
            self.nbytes -= len(k) + v.nbytes

    def clear(self) -> None:
        self._entries.clear()
        self.nbytes = 0


_VEC_CACHE = _LRUBytes(_VEC_CACHE_BYTES)
_MATRIX_CACHE = _LRUBytes(_MATRIX_CACHE_BYTES)


def _vectors_of(matrices: list[np.ndarray]) -> np.ndarray:
    """(B, 48) curvature vectors of ``matrices``, memoized by matrix bits.
    The distinct cache misses go through one ``curvature_vectors`` call;
    hits are held locally, so an eviction during the call cannot drop them."""
    keys = [np.packbits(m).tobytes() for m in matrices]
    found: dict[bytes, np.ndarray] = {}
    missed: dict[bytes, np.ndarray] = {}
    for key, m in zip(keys, matrices):
        if key in found or key in missed:
            continue
        v = _VEC_CACHE.get(key)
        if v is None:
            missed[key] = m
        else:
            found[key] = v
    if missed:
        for key, v in zip(missed, curvature_vectors(np.stack(list(missed.values())))):
            found[key] = v
            _VEC_CACHE.put(key, v.copy())  # a row view would pin the whole batch
    return np.stack([found[key] for key in keys])


def _matrix_of(gray: np.ndarray, x: int, y: int, w: int, h: int, n: int) -> np.ndarray:
    """extract_matrix memoized by the exact bytes it reads: repeated glyph
    imagery (rendered corpora, scanned forms, repeated logos) skips the
    normalize + Java-bilinear resize chain entirely. Pure memoization —
    identical input bytes, identical output. The key is the (h+1) x (w+1)
    window, because the border trim also reads row y+h and column x+w; full
    dimensions go into it too (two windows with identical pixel bytes but
    transposed shapes must not collide)."""
    key = gray[y : y + h + 1, x : x + w + 1].tobytes() + struct.pack(">IIB", w, h, n)
    m = _MATRIX_CACHE.get(key)
    if m is None:
        m, _ = extract_matrix(gray, x, y, w, h, n)
        _MATRIX_CACHE.put(key, m)
    return m


def load_pages(grays: list[np.ndarray], settings: Settings) -> list[list[WordBox]]:
    """OCREngine.loadPage (:54-71) per page: segmentation only."""
    rects = find_character_rectangles_batch(grays)
    return [
        split_words(gray, find_word_rectangles(r, settings), settings)
        for gray, r in zip(grays, rects)
    ]


def scan_pages(
    grays: list[np.ndarray], settings: Settings, alphabet: Alphabet
) -> list[list[WordBox]]:
    """OCREngine.scan (:101-159) over each whole loaded page of a batch.

    Words whose segmentation produced no children are classified as a single
    glyph (scanBox leaf case, :136-149), exactly like the reference.
    """
    pages = load_pages(grays, settings)

    boxes = []  # (word, char_or_none)
    matrices = []
    for gray, words in zip(grays, pages):
        for word in words:
            for cb in word.chars or [None]:
                b = cb if cb is not None else word
                boxes.append((word, cb))
                matrices.append(_matrix_of(gray, b.x, b.y, b.w, b.h, alphabet.n))

    if boxes:
        # 1-NN once per distinct vector
        vecs, inverse = np.unique(_vectors_of(matrices), axis=0, return_inverse=True)
        idx, _ = classify_batch(vecs, alphabet)
        for (word, cb), i in zip(boxes, idx[inverse.reshape(-1)].tolist()):
            ch = alphabet.chars[i]
            if cb is None:
                word.chars.append(CharBox(word.x, word.y, word.w, word.h, 0, ch))
            else:
                cb.char = ch
    return pages


def scan_page(gray: np.ndarray, settings: Settings, alphabet: Alphabet) -> list[WordBox]:
    return scan_pages([gray], settings, alphabet)[0]


def page_text(words: list[WordBox]) -> str:
    """Canonical page text: recognized words in engine scan order."""
    return " ".join(w.text for w in words)


def recognize_pages(
    grays: Iterable[np.ndarray], settings: Settings, alphabet: Alphabet
) -> list[str]:
    """Pages -> texts (``scan_pages`` joined in engine scan order).

    ``grays`` is consumed lazily: a group of pages is scanned as soon as it
    reaches ``_PIXELS_PER_SCAN`` pixels, before the next page is pulled, so
    a generator of decoded pages keeps one group of rasters resident."""

    def texts_of(group):
        return [page_text(words) for words in scan_pages(group, settings, alphabet)]

    texts: list[str] = []
    group: list[np.ndarray] = []
    pixels = 0
    for gray in grays:
        group.append(gray)
        pixels += gray.size
        if pixels >= _PIXELS_PER_SCAN:
            texts += texts_of(group)
            group, pixels = [], 0
    return texts + texts_of(group) if group else texts


def recognize(gray: np.ndarray, settings: Settings, alphabet: Alphabet) -> str:
    return recognize_pages([gray], settings, alphabet)[0]
