"""Driver-side per-layer timing through the public kernel, stripper and PDF
functions, on one workload's own inputs.

The kernel replay repeats ``engine.scan_page`` step by step (decode, G1, G2,
G3-G6 split, matrix, curvature vector, 1-NN) with memo caches keyed exactly
like the engine's, starting empty, and requires the replayed text to equal
``engine.recognize`` on every page.
"""

from __future__ import annotations

import struct
import time

import numpy as np

KERNEL_STEPS = ("png.decode", "segment.g1", "segment.g2", "segment.split",
                "bitmap.matrix", "features.curvature", "classify.nn")

# Arrow batch size the job configures (spark.sql.execution.arrow.maxRecordsPerBatch)
STRIP_BATCH = 1024


def kernel(pngs: list[bytes], alphabet, settings) -> dict[str, float]:
    from ocr_spark.kernel import engine
    from ocr_spark.kernel.bitmap import extract_matrix
    from ocr_spark.kernel.classify import classify_batch
    from ocr_spark.kernel.features import curvature_vector
    from ocr_spark.kernel.segment import (
        CharBox, find_character_rectangles, find_word_rectangles, split_words,
    )
    from ocr_spark.png import decode_gray

    clock = time.perf_counter
    spent = dict.fromkeys(KERNEL_STEPS, 0.0)
    matrices: dict[bytes, np.ndarray] = {}
    vectors: dict[bytes, np.ndarray] = {}
    crops = crop_hits = vec_hits = 0
    texts, grays = [], []
    for blob in pngs:
        t0 = clock()
        gray = decode_gray(blob)
        t1 = clock()
        rects = find_character_rectangles(gray, settings)
        t2 = clock()
        word_rects = find_word_rectangles(rects, settings)
        t3 = clock()
        words = split_words(gray, word_rects, settings)
        t4 = clock()
        spent["png.decode"] += t1 - t0
        spent["segment.g1"] += t2 - t1
        spent["segment.g2"] += t3 - t2
        spent["segment.split"] += t4 - t3
        grays.append(gray)

        boxes = [(w, cb) for w in words for cb in (w.chars or [None])]
        vecs = []
        for word, cb in boxes:
            b = cb if cb is not None else word
            t0 = clock()
            key = gray[b.y : b.y + b.h, b.x : b.x + b.w].tobytes() + struct.pack(
                ">IIB", b.w, b.h, alphabet.n
            )
            m = matrices.get(key)
            crops += 1
            if m is None:
                m, _ = extract_matrix(gray, b.x, b.y, b.w, b.h, alphabet.n)
                matrices[key] = m
            else:
                crop_hits += 1
            t1 = clock()
            vkey = np.packbits(m).tobytes()
            v = vectors.get(vkey)
            if v is None:
                v = curvature_vector(m).reshape(-1)
                vectors[vkey] = v
            else:
                vec_hits += 1
            t2 = clock()
            spent["bitmap.matrix"] += t1 - t0
            spent["features.curvature"] += t2 - t1
            vecs.append(v)
        if boxes:
            t0 = clock()
            idx, _ = classify_batch(np.stack(vecs), alphabet)
            spent["classify.nn"] += clock() - t0
            for (word, cb), i in zip(boxes, idx):
                ch = alphabet.chars[int(i)]
                if cb is None:
                    word.chars.append(CharBox(word.x, word.y, word.w, word.h, 0, ch))
                else:
                    cb.char = ch
        texts.append(" ".join(w.text for w in words))

    # the reference pass: the engine itself, from empty caches
    engine._MATRIX_CACHE.clear()
    engine._VEC_CACHE.clear()
    t0 = clock()
    expected = [engine.recognize(g, settings, alphabet) for g in grays]
    scan_s = clock() - t0
    bad = sum(a != b for a, b in zip(texts, expected))
    if bad:
        raise AssertionError(f"kernel replay differs from engine.recognize on {bad} pages")

    n = max(len(pngs), 1)
    out = {f"{step}_ms_per_page": 1e3 * s / n for step, s in spent.items()}
    out["engine.scan_ms_per_page"] = 1e3 * scan_s / n
    out["engine.glyphs_per_page"] = crops / n
    out["engine.matrix_hit_ratio"] = crop_hits / max(crops, 1)
    out["engine.vector_hit_ratio"] = vec_hits / max(crops, 1)
    return out


def strip(htmls: list[str]) -> dict[str, float]:
    import pandas as pd

    from ocr_spark.html.strip import strip_html

    emptied = 0
    t0 = time.perf_counter()
    for i in range(0, len(htmls), STRIP_BATCH):
        out = strip_html(pd.Series(htmls[i : i + STRIP_BATCH], dtype=object))
        emptied += int((out == "").sum())
    spent = time.perf_counter() - t0
    if not htmls:
        return {"strip.ms_per_span": 0.0, "strip.emptied_ratio": 0.0}
    return {"strip.ms_per_span": 1e3 * spent / len(htmls),
            "strip.emptied_ratio": emptied / len(htmls)}


def pdf(blobs: list[bytes]) -> dict[str, float]:
    from ocr_spark.pdf import extract_text

    t0 = time.perf_counter()
    for b in blobs:
        extract_text(b)
    spent = time.perf_counter() - t0
    return {"pdf.ms_per_pdf": 1e3 * spent / len(blobs) if blobs else 0.0}
