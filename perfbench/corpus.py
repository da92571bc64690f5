"""Seeded workload generator for the extraction benchmark.

Each workload is a corpus directory in the layout ``ocr_spark.pipeline.job``
reads (``documents.parquet``, ``media.parquet`` and, when the workload has
PDF spans, ``pdfs.parquet``) plus ``truth.parquet``: one row per span with
the text the job must commit. Truth holds by construction:

* text spans wrap a WORDLIST sentence in ``fixtures.make_html`` boilerplate
  that the stripper provably removes;
* PDF spans come from ``fixtures.synthesize_pdfs``, whose truth is the page
  texts joined the way the job joins them;
* media pages are kept only when ``engine.recognize`` reads back exactly
  their words.

A corpus is a pure function of (workload, seed, GEN_VERSION) and is cached
on disk under that key; a directory without its ``_DONE`` marker is rebuilt.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when generated bytes change, so cached corpora are rebuilt
GEN_VERSION = 2

# recognition setting the generated layout is validated against; it is the
# extract() default as well
CHAR_SPACING = 8.0


@dataclass(frozen=True)
class Shape:
    """Span mix of one workload.

    ``media_reuse``: occurrences per distinct media ref (1 = every ref is
    used once). ``cold``: each glyph occurrence gets its own x/y scale and
    edge noise, so no two crops repeat and the memo caches cannot hit.
    """

    n_docs: int
    spans: tuple[int, int]  # spans per doc, rng.integers bounds
    media_p: float
    pdf_p: float
    media_reuse: int
    cold: bool
    buckets: int
    words: tuple[int, int] = (2, 3)  # words per page, rng.integers bounds
    pdf_reuse: int = 2


WORKLOADS = {
    # pixel-identical glyphs and every page referenced three times: the memo
    # caches hit, so segmentation (G1) and the per-page classify dominate;
    # the text and PDF spans keep the stripper and PDF stages in the plan
    "ocr_warm": Shape(n_docs=450, spans=(6, 11), media_p=0.8, pdf_p=0.08,
                      media_reuse=3, cold=False, buckets=4),
    # every glyph occurrence distinct and every page used once: the feature
    # chain runs for every glyph and the caches only grow
    "ocr_cold": Shape(n_docs=80, spans=(4, 7), media_p=0.9, pdf_p=0.0,
                      media_reuse=1, cold=True, buckets=4),
}

# per-occurrence distortion of the cold workload
COLD_SCALE = (0.9, 1.1)
COLD_EDGE_NOISE = 0.05  # share of edge pixels flipped


def scaled(shape: Shape, factor: float) -> Shape:
    """The same span mix with ``factor`` times the documents."""
    return replace(shape, n_docs=max(4, int(round(shape.n_docs * factor))))


def _cold_glyph(g: np.ndarray, rng) -> np.ndarray:
    """One occurrence of glyph crop ``g`` with its own scale and edge noise."""
    from ocr_spark.kernel.javaimg import java_bilinear

    h, w = g.shape
    sx, sy = rng.uniform(*COLD_SCALE, size=2)
    out = java_bilinear(g, max(1, round(w * sx)), max(1, round(h * sy)))
    ink = out <= 160
    pad = np.pad(ink, 1)
    inner = pad[:-2, 1:-1] & pad[2:, 1:-1] & pad[1:-1, :-2] & pad[1:-1, 2:]
    edge = ink & ~inner
    flip = edge & (rng.random(ink.shape) < COLD_EDGE_NOISE)
    out = out.copy()
    out[flip] = 255
    # re-crop to the remaining ink: the page layout assumes tight crops
    ys, xs = np.nonzero(out <= 160)
    return out[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]


def _render_cold(words: list[str], glyphs, rng) -> np.ndarray:
    """``fixtures.render_page`` layout, with every glyph drawn afresh."""
    from ocr_spark.fixtures import GLYPH_GAP, MARGIN, WORD_GAP

    crops = [[_cold_glyph(glyphs[c], rng) for c in w] for w in words]
    h = max(g.shape[0] for w in crops for g in w)
    w_tot = sum(sum(g.shape[1] for g in w) + GLYPH_GAP * (len(w) - 1) for w in crops)
    w_tot += WORD_GAP * (len(crops) - 1)
    page = np.full((h + 2 * MARGIN, w_tot + 2 * MARGIN), 255, dtype=np.uint8)
    x = MARGIN
    for w in crops:
        for g in w:
            page[MARGIN : MARGIN + g.shape[0], x : x + g.shape[1]] = g
            x += g.shape[1] + GLYPH_GAP
        x += WORD_GAP - GLYPH_GAP
    return page


def _page_candidates(args) -> list[tuple[int, str, bytes] | None]:
    """Render candidate pages ``lo..hi`` of one corpus; each is kept only if
    the engine reads it back exactly. Candidate i draws from its own rng
    stream, so the result does not depend on how candidates are chunked."""
    seed, stream, lo, hi, words_rng, cold = args
    from ocr_spark.fixtures import WORDLIST, load_glyphs, render_page
    from ocr_spark.kernel import engine
    from ocr_spark.kernel.segment import Settings
    from ocr_spark.pipeline.udfs import default_alphabet
    from ocr_spark.png import decode_gray, encode_gray

    glyphs = load_glyphs()
    alpha = default_alphabet()
    settings = Settings(character_spacing=CHAR_SPACING)
    out = []
    for i in range(lo, hi):
        rng = np.random.default_rng([seed, stream, i])
        words = [str(w) for w in rng.choice(WORDLIST, size=int(rng.integers(*words_rng)))]
        page = _render_cold(words, glyphs, rng) if cold else render_page(words, glyphs)
        blob = encode_gray(page)
        text = " ".join(words)
        if cold:
            # validate from the encoded bytes, as the job will see them
            if engine.recognize(decode_gray(blob), settings, alpha) != text:
                out.append(None)
                continue
        out.append((i, text, blob))
    return out


def _pages(n: int, seed: int, stream: int, shape: Shape, procs: int):
    """``n`` validated pages as (text, png) in candidate order."""
    chunk = 16
    accepted: list[tuple[int, str, bytes]] = []
    lo = 0
    pool = None
    if shape.cold and procs > 1:
        import multiprocessing as mp

        # fork, not spawn: a spawned pool starts a resource-tracker process
        # that outlives the pool and would still run after the benchmark
        pool = mp.get_context("fork").Pool(procs)
    try:
        while len(accepted) < n:
            # a round sized to the shortfall (at ~50% acceptance), spread
            # over the pool
            need = n - len(accepted)
            span = max(chunk, 2 * need if shape.cold else need)
            jobs = [
                (seed, stream, a, min(a + chunk, lo + span), shape.words, shape.cold)
                for a in range(lo, lo + span, chunk)
            ]
            lo += span
            results = pool.map(_page_candidates, jobs) if pool else map(_page_candidates, jobs)
            for part in results:
                accepted.extend(p for p in part if p is not None)
            if lo > 50 * n + 1000:
                raise RuntimeError("page validation accepts almost nothing; check the generator")
    finally:
        if pool is not None:
            pool.close()
            pool.join()
    return [(t, b) for _, t, b in accepted[:n]]


def synthesize(shape: Shape, seed: int, procs: int = 1) -> dict[str, pa.Table]:
    """All tables of one corpus (documents, media, pdfs, truth)."""
    from ocr_spark.fixtures import WORDLIST, make_html, synthesize_pdfs

    rng = np.random.default_rng([seed, 0])

    # span kinds first, so the media and pdf pools can be sized to them. The
    # span count per document and the count of each kind are exact, and
    # only their order is random, so every seed does the same amount of work
    counts = rng.permutation(np.resize(np.arange(*shape.spans), shape.n_docs))
    total = int(counts.sum())
    n_media = round(total * shape.media_p)
    n_pdf = round(total * shape.pdf_p)
    all_kinds = rng.permutation(
        np.array(["media"] * n_media + ["pdf"] * n_pdf + ["text"] * (total - n_media - n_pdf))
    )
    kinds_per_doc = np.split(all_kinds, np.cumsum(counts)[:-1])

    n_pages = -(-n_media // shape.media_reuse) if n_media else 0
    pages = _pages(n_pages, seed, 1, shape, procs) if n_pages else []
    page_refs = [f"pg-{i:06d}" for i in range(n_pages)]
    media_order = rng.permutation(np.arange(n_media) % max(n_pages, 1))

    n_pdfs = -(-n_pdf // shape.pdf_reuse) if n_pdf else 0
    pdf_refs, pdf_truth, pdf_blobs = [], [], []
    if n_pdfs:
        pdfs, pdf_rows = synthesize_pdfs(n_pdfs, seed=seed)
        pdf_refs = pdfs.column("media_ref").to_pylist()
        pdf_blobs = pdfs.column("pdf").to_pylist()
        per_ref: dict[str, list[tuple[int, str]]] = {}
        for ref, pi, txt in zip(*(pdf_rows.column(c).to_pylist()
                                  for c in ("media_ref", "page_idx", "text"))):
            per_ref.setdefault(ref, []).append((pi, txt))
        pdf_truth = [" ".join(t for _, t in sorted(per_ref[r])) for r in pdf_refs]
    pdf_order = rng.permutation(np.arange(n_pdf) % max(n_pdfs, 1))

    doc_ids, spans_col = [], []
    t_doc, t_ord, t_kind, t_text, t_ref = [], [], [], [], []
    mi = pi = 0
    for d, kinds in enumerate(kinds_per_doc):
        doc_id = f"doc-{d:08d}"
        spans, offset = [], 0
        for o, kind in enumerate(kinds):
            if kind == "media":
                k = int(media_order[mi])
                mi += 1
                ref, text, html = page_refs[k], pages[k][0], None
            elif kind == "pdf":
                k = int(pdf_order[pi])
                pi += 1
                ref, text, html = pdf_refs[k], pdf_truth[k], None
            else:
                text = " ".join(str(w) for w in rng.choice(WORDLIST, size=int(rng.integers(3, 9))))
                ref, html = None, make_html(rng, text)
            spans.append({"kind": str(kind), "text": html, "media_ref": ref, "offset": offset})
            offset += len(html) if html else 64
            t_doc.append(doc_id)
            t_ord.append(o)
            t_kind.append(str(kind))
            t_text.append(text)
            t_ref.append(ref)
        doc_ids.append(doc_id)
        spans_col.append(spans)

    span_type = pa.struct([("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string()), ("offset", pa.int32())])
    tables = {
        "documents": pa.table({"doc_id": doc_ids,
                               "spans": pa.array(spans_col, pa.list_(span_type))}),
        "media": pa.table({"media_ref": page_refs,
                           "png": pa.array([b for _, b in pages], pa.binary())}),
        "truth": pa.table({"doc_id": t_doc, "ord": pa.array(t_ord, pa.int32()),
                           "kind": t_kind, "text": t_text, "media_ref": t_ref}),
    }
    if n_pdfs:
        tables["pdfs"] = pa.table({"media_ref": pdf_refs,
                                   "pdf": pa.array(pdf_blobs, pa.binary())})
    return tables


def ensure(root: str, name: str, shape: Shape, seed: int, procs: int = 1) -> str:
    """Materialize (or reuse) the corpus of ``name`` at ``seed`` under
    ``root`` and return its directory."""
    key = f"v{GEN_VERSION} {name} {shape} seed={seed}\n"
    out = os.path.join(root, f"{name}-v{GEN_VERSION}-s{seed}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == key:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for tname, table in synthesize(shape, seed, procs).items():
        # small row groups keep the single-file scan splittable
        pq.write_table(table, os.path.join(out, f"{tname}.parquet"), row_group_size=256)
    with open(marker, "w") as f:
        f.write(key)
    return out
