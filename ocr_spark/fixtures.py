"""Deterministic synthetic corpus generator (FIXTURES.md), packaged so the
pipeline, ``__spark_entry__`` and ``bench.py`` can synthesize inputs without
external data.

Media pages are rendered by pasting tight-ink glyph crops from the packaged
Java-gray arial sheet (``ocr_spark/data/arial.gray.png``) — the same pixels
the classifier learns from, so recognition truth is known by construction
(reference grid layout: CurvatureClassifier.java:56-66). Text spans wrap one
known main-content sentence in nav/footer/link-list boilerplate the stripper
provably removes.

No wall-clock, no ``random`` module: a fixed-seed ``numpy.default_rng`` makes
every corpus a pure function of (n_docs, n_pages, skew, seed).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .kernel.bitmap import black_mask
from .kernel.classify import DEFAULT_ALPHABET
from .kernel.segment import CHAR_SPACING  # noqa: F401 (the engine setting the gaps below pair with)
from .png import decode_gray, encode_gray

SEED = 1337
AUDIO_RATE = 8000  # Hz, every synthesized WAV clip
IDX_ITEMS = 64  # rasters in the idx fixture
IDX_SIDE = 28  # their side, in pixels (MNIST's)

# bump when the corpus schema/content changes: ensure_corpus regenerates any
# cached dir whose _DONE marker carries an older version
# v6: video clip count capped at 32 — changed videos.parquet for the
# 'small'/'bench' named scales and the bench/scaling corpora (tiny kept its
# 30 clips; documents/media/expected unchanged at every scale)
FIXTURE_VERSION = 6

# where __spark_entry__ and bench.py cache their corpora (a deployment path)
FIXTURE_ROOT = os.environ.get("OCR_SPARK_FIXTURES", "/tmp/ocr_spark_fixtures")

# validated: each word round-trips render -> segment -> classify exactly
# (glyphs i j l m w W X 0 and thin punctuation excluded — the reference
# engine itself misreads them, e.g. 'm' -> 'rn', '0' -> 'o')
WORDLIST = [
    "Data", "Spark", "Query", "scan", "sort", "hash", "batch", "group",
    "key", "fast", "query", "part", "order", "Extract", "pages", "spans",
    "rotate", "curve", "zone", "After", "Crops", "shard", "bucket", "vector",
    "18", "code", "Test", "Range", "FAST", "SCAN", "KEY", "1234", "567",
    "89", "quartz", "Turbo", "neptune", "Zebra",
]

MARGIN = 12
GLYPH_GAP = 3
WORD_GAP = 20

SCALES = {
    "tiny": dict(n_docs=100, n_pages=60),
    # three-kind interleave: text + media + pdf spans in one corpus
    "tiny3": dict(n_docs=100, n_pages=60, pdf_p=0.25),
    "small": dict(n_docs=10_000, n_pages=2_000),
    "bench": dict(n_docs=40_000, n_pages=6_000),
}



def load_glyphs():
    from importlib import resources

    sheet = decode_gray(
        resources.files("ocr_spark").joinpath("data/arial.gray.png").read_bytes()
    )
    mask = black_mask(sheet)
    glyphs = {}
    for gy in range(6):
        for gx in range(13):
            bx, by, bw, bh = 71 * gx + 1, 69 * gy + 1, 69, 67
            ch = DEFAULT_ALPHABET[13 * gy + gx]
            sub = mask[by : by + bh, bx : bx + bw]
            if not sub.any():
                continue
            ys, xs = np.nonzero(sub)
            crop = sheet[by + ys.min() : by + ys.max() + 1, bx + xs.min() : bx + xs.max() + 1]
            glyphs.setdefault(ch, crop)
    return glyphs


def render_page(words: list[str], glyphs) -> np.ndarray:
    h = max(max(glyphs[c].shape[0] for c in w) for w in words)
    w_tot = (
        sum(sum(glyphs[c].shape[1] for c in w) + GLYPH_GAP * (len(w) - 1) for w in words)
        + WORD_GAP * (len(words) - 1)
    )
    page = np.full((h + 2 * MARGIN, w_tot + 2 * MARGIN), 255, dtype=np.uint8)
    x = MARGIN
    for w in words:
        for c in w:
            g = glyphs[c]
            page[MARGIN : MARGIN + g.shape[0], x : x + g.shape[1]] = g
            x += g.shape[1] + GLYPH_GAP
        x += WORD_GAP - GLYPH_GAP
    return page


def make_html(rng, sentence: str) -> str:
    """Boilerplate-wrapped main content; the stripper recovers `sentence`."""
    nav_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.choice(WORDLIST, size=4)
    )
    link_list = "".join(
        f'<li><a href="/p/{i}">{rng.choice(WORDLIST)}</a></li>' for i in range(rng.integers(2, 6))
    )
    footer_words = " ".join(rng.choice(WORDLIST, size=2))
    return (
        "<html><head><title>page</title><style>body{margin:0}</style></head><body>"
        f"<nav>{nav_links}</nav>"
        f'<div class="sidebar"><ul>{link_list}</ul></div>'
        f"<p>{sentence}</p>"
        f"<div><a href=\"/more\">read even more related items</a></div>"
        f"<footer>{footer_words}</footer>"
        "</body></html>"
    )


def synthesize(n_docs: int, n_pages: int, skew: bool = False, seed: int = SEED,
               n_pdfs: int = 0, pdf_p: float = 0.0, pdf_expected=None):
    """Return (documents, media, expected_spans) pyarrow tables.

    With ``n_pdfs``/``pdf_p`` set, documents interleave a third span kind
    ``pdf`` referencing the deterministic PDF pool (same refs/truths as
    ``synthesize_pdfs(n_pdfs, seed)`` — regenerate the pool with the same
    args to get the matching ``pdfs`` table, or pass its expected table as
    ``pdf_expected`` to avoid building the pool twice). pdf_p=0 consumes no
    extra rng draws, so corpora without PDFs are bit-identical to earlier
    versions."""
    rng = np.random.default_rng(seed)
    glyphs = load_glyphs()

    pdf_refs, pdf_truths = [], []
    if n_pdfs:
        pdf_exp = (
            pdf_expected if pdf_expected is not None
            else synthesize_pdfs(n_pdfs, seed=seed)[1]
        )
        per_ref: dict[str, list[tuple[int, str]]] = {}
        for ref, pi, txt in zip(
            pdf_exp.column("media_ref").to_pylist(),
            pdf_exp.column("page_idx").to_pylist(),
            pdf_exp.column("text").to_pylist(),
        ):
            per_ref.setdefault(ref, []).append((pi, txt))
        for ref in sorted(per_ref):
            pdf_refs.append(ref)
            pdf_truths.append(" ".join(t for _, t in sorted(per_ref[ref])))

    # --- media pool -----------------------------------------------------
    media_refs, widths, heights, pngs, truths = [], [], [], [], []
    ink_ratios, ink_rows = [], []
    for p in range(n_pages):
        n_words = int(rng.integers(1, 5))
        words = [str(w) for w in rng.choice(WORDLIST, size=n_words)]
        page = render_page(words, glyphs)
        media_refs.append(f"pg-{p:06d}")
        heights.append(page.shape[0])
        widths.append(page.shape[1])
        pngs.append(encode_gray(page))
        truths.append(" ".join(words))
        # by-construction ink stats, computed on the raster BEFORE png
        # encoding — the oracle for the decode->feature path (same formulas
        # as functions/multimodal.image_features, but this side never goes
        # through the codec, so a broken decode cannot cancel out)
        mask = black_mask(page)
        ink_ratios.append(round(float(mask.mean()), 6))
        ink_rows.append(int(mask.any(axis=1).sum()))

    # --- documents + expected spans -------------------------------------
    doc_ids, spans_col = [], []
    exp_doc, exp_ord, exp_kind, exp_text, exp_ref = [], [], [], [], []

    def add_doc(doc_id: str, n_spans: int, media_p: float):
        spans = []
        offset = 0
        for ord_ in range(n_spans):
            r = rng.random()
            if media_p <= r < media_p + pdf_p and pdf_refs:
                pi = int(rng.integers(0, len(pdf_refs)))
                ref = pdf_refs[pi]
                spans.append(
                    {"kind": "pdf", "text": None, "media_ref": ref, "offset": offset}
                )
                offset += 64
                exp_doc.append(doc_id)
                exp_ord.append(ord_)
                exp_kind.append("pdf")
                exp_text.append(pdf_truths[pi])
                exp_ref.append(ref)
            elif r < media_p:
                pi = int(rng.integers(0, n_pages))
                ref = media_refs[pi]
                spans.append(
                    {"kind": "media", "text": None, "media_ref": ref, "offset": offset}
                )
                offset += 64
                exp_doc.append(doc_id)
                exp_ord.append(ord_)
                exp_kind.append("media")
                exp_text.append(truths[pi])
                exp_ref.append(ref)
            else:
                n_words = int(rng.integers(3, 9))
                sentence = " ".join(str(w) for w in rng.choice(WORDLIST, size=n_words))
                html = make_html(rng, sentence)
                spans.append(
                    {"kind": "text", "text": html, "media_ref": None, "offset": offset}
                )
                offset += len(html)
                exp_doc.append(doc_id)
                exp_ord.append(ord_)
                exp_kind.append("text")
                exp_text.append(sentence)
                exp_ref.append(None)
        doc_ids.append(doc_id)
        spans_col.append(spans)

    for d in range(n_docs):
        add_doc(f"doc-{d:08d}", int(rng.integers(1, 13)), 0.25)
    if skew:
        for k in range(3):
            add_doc(f"doc-hot-{k:04d}", int(rng.integers(500, 1001)), 1.0)

    span_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    documents = pa.table(
        {"doc_id": pa.array(doc_ids), "spans": pa.array(spans_col, type=pa.list_(span_type))}
    )
    media = pa.table(
        {
            "media_ref": media_refs,
            "width": pa.array(widths, pa.int32()),
            "height": pa.array(heights, pa.int32()),
            "png": pa.array(pngs, pa.binary()),
            "truth": truths,
            "ink_ratio": pa.array(ink_ratios, pa.float64()),
            "n_ink_rows": pa.array(ink_rows, pa.int64()),
        }
    )
    expected = pa.table(
        {
            "doc_id": exp_doc,
            "ord": pa.array(exp_ord, pa.int32()),
            "kind": exp_kind,
            "text": exp_text,
            "media_ref": exp_ref,
        }
    )
    return documents, media, expected


def synthesize_audio(n_clips: int, seed: int = SEED):
    """Deterministic PCM16 WAV clips (stdlib ``wave`` — no external codec)
    with by-construction stats computed on the int16 samples BEFORE
    encoding, so the decode->feature path has a codec-independent oracle
    (same pattern as the media ink stats)."""
    import io
    import wave

    rng = np.random.default_rng(seed + 7)
    refs, wavs, srs, n_samps, durs, rmss, zcs = [], [], [], [], [], [], []
    for i in range(n_clips):
        n = int(rng.integers(AUDIO_RATE // 4, AUDIO_RATE))
        t = np.arange(n, dtype=np.float64) / AUDIO_RATE
        freq = float(rng.uniform(80.0, 1200.0))
        amp = float(rng.uniform(0.2, 0.9))
        sig = amp * np.sin(2.0 * np.pi * freq * t)
        sig += rng.normal(0.0, 0.02, size=n)  # deterministic (seeded) noise
        x = np.clip(sig * 32767.0, -32768, 32767).astype(np.int16)

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(AUDIO_RATE)
            w.writeframes(x.tobytes())

        refs.append(f"au-{i:06d}")
        wavs.append(buf.getvalue())
        srs.append(AUDIO_RATE)
        n_samps.append(n)
        durs.append(round(n / AUDIO_RATE, 6))
        xf = x.astype(np.float64)
        rmss.append(round(float(np.sqrt(np.mean(xf * xf))), 6))
        zcs.append(int(np.sum((x[1:] < 0) != (x[:-1] < 0))))

    return pa.table(
        {
            "media_ref": refs,
            "wav": pa.array(wavs, pa.binary()),
            "sample_rate": pa.array(srs, pa.int64()),
            "n_samples": pa.array(n_samps, pa.int64()),
            "duration_s": pa.array(durs, pa.float64()),
            "rms": pa.array(rmss, pa.float64()),
            "n_zero_cross": pa.array(zcs, pa.int64()),
        }
    )


def synthesize_videos(n_clips: int, seed: int = SEED):
    """Deterministic y4m video clips (raw planar YUV — ocr_spark.y4m, no
    codec library) plus by-construction frame-sampling truth: the expected
    table holds mean luma per sampled frame, computed on the uint8 planes
    BEFORE serialization (same codec-independent pattern as the WAV/ink
    stats). Colorspaces cycle 420jpeg/422/444/mono so every chroma layout's
    frame stride is exercised — a desynced frame walk reads chroma bytes as
    luma and fails the value hash. Returns (videos, expected) tables."""
    from .y4m import SAMPLED_FRAMES, build_y4m, sample_indices

    rng = np.random.default_rng(seed + 23)
    spaces = ["420jpeg", "422", "444", "mono"]
    chroma_div = {"420jpeg": (2, 2), "422": (1, 2), "444": (1, 1)}
    refs, blobs, widths, heights, totals, css = [], [], [], [], [], []
    exp_ref, exp_idx, exp_feat = [], [], []
    for i in range(n_clips):
        cs = spaces[i % len(spaces)]
        w = 2 * int(rng.integers(8, 25))
        h = 2 * int(rng.integers(6, 19))
        n_total = int(rng.integers(2, 13))
        y = rng.integers(0, 256, size=(n_total, h, w), dtype=np.uint8)
        chroma = None
        if cs in chroma_div:
            dh, dw = chroma_div[cs]
            chroma = rng.integers(
                0, 256, size=(n_total, 2, h // dh, w // dw), dtype=np.uint8
            )
        ref = f"vid-{i:06d}"
        refs.append(ref)
        blobs.append(build_y4m(y, colorspace=cs, chroma=chroma))
        widths.append(w)
        heights.append(h)
        totals.append(n_total)
        css.append(cs)
        for fi in sample_indices(n_total, SAMPLED_FRAMES):
            exp_ref.append(ref)
            exp_idx.append(fi)
            exp_feat.append(round(float(y[fi].astype(np.float64).mean()), 6))
    videos = pa.table(
        {
            "media_ref": refs,
            "y4m": pa.array(blobs, pa.binary()),
            "width": pa.array(widths, pa.int64()),
            "height": pa.array(heights, pa.int64()),
            "n_frames": pa.array(totals, pa.int64()),
            "colorspace": css,
        }
    )
    expected = pa.table(
        {
            "media_ref": exp_ref,
            "frame_idx": pa.array(exp_idx, pa.int64()),
            "feature": pa.array(exp_feat, pa.float64()),
        }
    )
    return videos, expected


def synthesize_pdfs(n_pdfs: int, seed: int = SEED):
    """Deterministic text PDFs with by-construction truth: each document has
    1-3 pages of WORDLIST sentences; truth = the page texts joined exactly
    as the parser reconstructs them (one space between lines/runs). Half the
    corpus is Flate-compressed, half raw, so both stream paths are covered."""
    from .pdf import build_pdf

    rng = np.random.default_rng(seed + 17)
    refs, blobs = [], []
    rows_ref, rows_idx, rows_text = [], [], []
    for i in range(n_pdfs):
        n_pages = int(rng.integers(1, 4))
        pages = []
        for _ in range(n_pages):
            n_lines = int(rng.integers(1, 4))
            pages.append(
                [
                    " ".join(str(w) for w in rng.choice(WORDLIST, size=int(rng.integers(2, 6))))
                    for _ in range(n_lines)
                ]
            )
        ref = f"pdf-{i:06d}"
        refs.append(ref)
        blobs.append(build_pdf(pages, compress=(i % 2 == 0)))
        for pi, lines in enumerate(pages):
            rows_ref.append(ref)
            rows_idx.append(pi)
            rows_text.append(" ".join(lines))
    pdfs = pa.table({"media_ref": refs, "pdf": pa.array(blobs, pa.binary())})
    expected = pa.table(
        {
            "media_ref": rows_ref,
            "page_idx": pa.array(rows_idx, pa.int64()),
            "text": rows_text,
        }
    )
    return pdfs, expected


def write_corpus(out_dir: str, n_docs: int, n_pages: int, skew: bool = False,
                 seed: int = SEED, pdf_p: float = 0.0):
    n_pdfs = max(8, n_pages // 2)
    pdfs, pdf_expected = synthesize_pdfs(n_pdfs, seed=seed)
    documents, media, expected = synthesize(
        n_docs, n_pages, skew=skew, seed=seed,
        n_pdfs=n_pdfs if pdf_p > 0 else 0, pdf_p=pdf_p,
        pdf_expected=pdf_expected if pdf_p > 0 else None,
    )
    os.makedirs(out_dir, exist_ok=True)
    # small row groups: a parquet file is only splittable at row-group
    # boundaries, so a single default-sized group would force a serial scan
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"), row_group_size=1024)
    pq.write_table(media, os.path.join(out_dir, "media.parquet"), row_group_size=512)
    pq.write_table(expected, os.path.join(out_dir, "expected_spans.parquet"))
    audio = synthesize_audio(max(8, n_pages // 2), seed=seed)
    pq.write_table(audio, os.path.join(out_dir, "audio.parquet"), row_group_size=512)
    pq.write_table(pdfs, os.path.join(out_dir, "pdfs.parquet"), row_group_size=512)
    pq.write_table(pdf_expected, os.path.join(out_dir, "pdf_expected.parquet"))
    # capped at a small constant, NOT scaled with n_pages: the tiny corpus
    # (30 clips) is the only consumer (video_frame_sample); letting clip
    # count track page count made the 240k-page scaling corpus synthesize
    # ~120k y4m blobs (GBs of random bytes) no leg ever read (ADVICE r04).
    # tiny stays below the cap, so its fixture bytes are unchanged.
    videos, video_expected = synthesize_videos(min(32, max(8, n_pages // 2)), seed=seed)
    pq.write_table(videos, os.path.join(out_dir, "videos.parquet"), row_group_size=64)
    pq.write_table(video_expected, os.path.join(out_dir, "video_expected.parquet"))
    return documents.num_rows, media.num_rows, expected.num_rows


def ensure_built(out_dir: str, want: str, build) -> str:
    """The `_DONE` marker protocol: ``out_dir`` is complete only if its
    `_DONE` file reads exactly ``want``. Otherwise ``build()`` (re)writes the
    directory and the marker is written last, so a half-written dir, or one
    built by an older fixture version, is rebuilt on the next call."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return out_dir
    build()
    with open(marker, "w") as f:
        f.write(want)
    return out_dir


def ensure_idx_fixture(out_dir: str) -> str:
    """Deterministic idx1/idx3 (MNIST-format) fixture: images.idx3 with
    IDX_ITEMS seeded uint8 rasters, labels.idx1 with cyclic labels, and
    expected.parquet holding the by-construction per-item truth (dims,
    pixel md5, float mean, label) the oracle reads back, committed by a
    `_DONE` marker (``ensure_built``)."""
    want = f"v{FIXTURE_VERSION} idx n={IDX_ITEMS} side={IDX_SIDE} seed={SEED}\n"
    return ensure_built(out_dir, want, lambda: _write_idx(out_dir))


def _write_idx(out_dir: str) -> None:
    import hashlib

    from .idx import build_idx

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED + 9000)
    images = rng.integers(0, 256, size=(IDX_ITEMS, IDX_SIDE, IDX_SIDE), dtype=np.uint8)
    labels = np.array([i % 10 for i in range(IDX_ITEMS)], dtype=np.uint8)
    with open(os.path.join(out_dir, "images.idx3-ubyte"), "wb") as f:
        f.write(build_idx(images))
    with open(os.path.join(out_dir, "labels.idx1-ubyte"), "wb") as f:
        f.write(build_idx(labels))
    expected = pa.table(
        {
            "item_idx": pa.array(range(IDX_ITEMS), pa.int64()),
            "h": pa.array([IDX_SIDE] * IDX_ITEMS, pa.int64()),
            "w": pa.array([IDX_SIDE] * IDX_ITEMS, pa.int64()),
            "px_md5": pa.array([hashlib.md5(im.tobytes()).hexdigest() for im in images]),
            "mean_val": pa.array(
                [float(im.astype(np.float64).mean()) for im in images],
                pa.float64(),
            ),
            "label": pa.array(labels.astype(np.int64), pa.int64()),
        }
    )
    pq.write_table(expected, os.path.join(out_dir, "expected.parquet"))


def ensure_corpus(out_dir: str, scale: str = "tiny") -> str:
    """Idempotently materialize a named-scale corpus (unskewed, seed SEED);
    safe to call from entry()/bench.py. A `_DONE` marker commits the
    directory (``ensure_built``)."""
    want = f"v{FIXTURE_VERSION} {scale} skew=False seed={SEED}\n"
    return ensure_built(
        out_dir, want, lambda: write_corpus(out_dir, **SCALES[scale])
    )
