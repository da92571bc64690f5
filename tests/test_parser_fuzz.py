"""Property fuzzing for the hand-rolled binary parsers (VERDICT r04 #6).

Contracts per binary parser, each checked two ways:

1. round trip — ``parse(build(x)) == x`` for arbitrary well-formed inputs
   (the writer twin is the generator, so the property covers every header
   variant the writer can emit);
2. mutation — ``parse(mutate(build(x)))`` for random byte flips, truncations,
   and injections must either raise the module's (ValueError-family) error
   or return a result that satisfies the parser's own shape invariants.
   Never hang, never crash with a non-ValueError, never desync into
   returning geometry-inconsistent planes/tensors.

The HTML stripper gets the text twin of the mutation contract: any batch of
strings and nulls, deeply nested or unbalanced container tags included.

Pure-Python/NumPy — no Spark session, so the whole file runs in seconds.
"""

import numpy as np
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from conftest import REPO  # noqa: F401


def _mutate(blob: bytes, seed: int) -> bytes:
    """Deterministic structural mutation: byte flips, truncation, junk
    injection, or a splice of the blob with itself."""
    rng = np.random.default_rng(seed)
    b = bytearray(blob)
    op = rng.integers(0, 5)
    if op == 0 and b:  # flip 1-8 bytes
        for _ in range(int(rng.integers(1, 9))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
    elif op == 1 and b:  # truncate
        del b[int(rng.integers(0, len(b))):]
    elif op == 2:  # inject junk at a random offset
        at = int(rng.integers(0, len(b) + 1))
        junk = bytes(rng.integers(0, 256, size=int(rng.integers(1, 32)), dtype=np.uint8))
        b[at:at] = junk
    elif op == 3 and b:  # duplicate a slice (desync bait)
        i = int(rng.integers(0, len(b)))
        j = int(rng.integers(i, min(len(b), i + 64)))
        b[j:j] = b[i:j]
    else:  # pure random bytes
        b = bytearray(rng.integers(0, 256, size=int(rng.integers(0, 128)), dtype=np.uint8))
    return bytes(b)


# --------------------------------------------------------------------------
# idx (MNIST tensor files)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_idx_round_trip(shape, seed):
    from ocr_spark.idx import build_idx, parse_idx

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=tuple(shape), dtype=np.uint8)
    out = parse_idx(build_idx(arr))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=4), min_size=0, max_size=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_idx_mutation_never_desyncs(shape, seed):
    from ocr_spark.idx import build_idx, parse_idx

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=tuple(shape), dtype=np.uint8)
    blob = _mutate(build_idx(arr), seed)
    try:
        out = parse_idx(blob)
    except ValueError:
        return
    # accepted parse must satisfy the format's own invariants
    assert out.dtype == np.uint8
    assert out.size <= max(0, len(blob) - 4)


# --------------------------------------------------------------------------
# y4m (YUV4MPEG2 video)
# --------------------------------------------------------------------------

_CS = ["420jpeg", "420", "420mpeg2", "420paldv", "422", "444", "mono"]


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=0, max_value=3),        # frames
    st.sampled_from([2, 4, 6]),                   # h
    st.sampled_from([2, 4, 8]),                   # w
    st.sampled_from(_CS),
    st.tuples(st.integers(1, 60), st.integers(1, 2)),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_y4m_round_trip(n, h, w, cs, fps, seed):
    from ocr_spark.y4m import build_y4m, parse_y4m

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    chroma = None
    if cs != "mono":
        hd, wd = (2, 2) if cs.startswith("420") else (1, 2) if cs == "422" else (1, 1)
        chroma = rng.integers(0, 256, size=(n, 2, h // hd, w // wd), dtype=np.uint8)
    info, frames = parse_y4m(build_y4m(y, colorspace=cs, fps=fps, chroma=chroma))
    assert (info["width"], info["height"]) == (w, h)
    assert (info["fps_num"], info["fps_den"]) == fps
    assert info["colorspace"] == cs and info["n_frames"] == n
    assert len(frames) == n
    for i, (fy, fu, fv) in enumerate(frames):
        assert np.array_equal(fy, y[i])
        if cs == "mono":
            assert fu is None and fv is None
        else:
            assert np.array_equal(fu, chroma[i, 0])
            assert np.array_equal(fv, chroma[i, 1])


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=3),
    st.sampled_from(_CS),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_y4m_mutation_never_desyncs(n, cs, seed):
    from ocr_spark.y4m import build_y4m, parse_y4m

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, size=(n, 4, 4), dtype=np.uint8)
    blob = _mutate(build_y4m(y, colorspace=cs), seed)
    try:
        info, frames = parse_y4m(blob)
    except ValueError:  # Y4MError and header int()/decode failures
        return
    # accepted parse must be geometry-consistent with its own header
    assert info["n_frames"] == len(frames)
    for fy, fu, fv in frames:
        assert fy.shape == (info["height"], info["width"])
        if info["colorspace"] == "mono":
            assert fu is None and fv is None
        else:
            assert fu is not None and fv is not None and fu.shape == fv.shape


# --------------------------------------------------------------------------
# pdf (text extraction)
# --------------------------------------------------------------------------

_LINE = st.text(
    alphabet="abc XY()\\%03", min_size=0, max_size=12
)  # parens/backslash/percent stress the string-escape and comment paths


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.lists(_LINE, min_size=0, max_size=3), min_size=0, max_size=3),
    st.booleans(),
)
def test_pdf_round_trip(pages, compress):
    from ocr_spark.pdf import build_pdf, extract_text

    got = extract_text(build_pdf(pages, compress=compress))
    expected = []
    for lines in pages:
        runs = [ln for ln in lines if ln]
        if runs:
            expected.append(" ".join(runs))
    assert got == expected


# --------------------------------------------------------------------------
# stateful sessionizer fold (not a parser, but the same exactness-under-
# adversarial-chunking contract: any chunking + any disorder == one sorted
# pass; complements the fixed-seed test in test_streaming.py)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5_000), min_size=0, max_size=200),
    st.integers(min_value=1, max_value=500),   # gap
    st.integers(min_value=1, max_value=9),     # chunk count
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_merge_session_intervals_exact_under_any_chunking(ts, gap, n_chunks, seed):
    from ocr_spark.streaming.job import _merge_session_intervals

    arr = np.asarray(ts, dtype=np.int64)
    ref = _merge_session_intervals([], np.sort(arr), gap)
    rng = np.random.default_rng(seed)
    shuffled = arr[rng.permutation(len(arr))]
    acc = []
    for chunk in np.array_split(shuffled, n_chunks):
        acc = _merge_session_intervals(acc, chunk, gap)
    assert acc == ref
    assert sum(c for _, _, c in ref) == len(arr)          # no event lost
    for a, b in zip(ref, ref[1:]):
        assert b[0] - a[1] > gap                          # truly gap-separated
    for s, e, c in ref:
        assert s <= e and c >= 1


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.lists(_LINE, min_size=0, max_size=2), min_size=0, max_size=2),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_pdf_mutation_never_crashes(pages, compress, seed):
    """extract_text on arbitrarily corrupted bytes must return a list of str
    without raising — the batch decode path feeds it untrusted blobs and a
    single bad document must not kill an executor task."""
    from ocr_spark.pdf import build_pdf, extract_text

    blob = _mutate(build_pdf(pages, compress=compress), seed)
    out = extract_text(blob)
    assert isinstance(out, list)
    assert all(isinstance(t, str) for t in out)


# --------------------------------------------------------------------------
# png (page rasters / F8 debug renders)
# --------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
def test_png_round_trip(h, w, seed, rgb):
    from ocr_spark.png import decode_gray, decode_rgb, encode_gray, encode_rgb

    rng = np.random.default_rng(seed)
    if rgb:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_rgb(encode_rgb(img)), img)
    else:
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(decode_gray(encode_gray(img)), img)
        # gray blobs decode through the rgb entry point as 3-channel broadcast
        assert np.array_equal(decode_rgb(encode_gray(img)), np.repeat(img[:, :, None], 3, 2))


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
def test_png_mutation_never_crashes(h, w, seed, rgb):
    """Mutated blobs must raise ValueError (the codec's single error family —
    truncation, bad IDAT, implausible dims are all normalized to it) or
    decode to an array of the header-declared shape. Never hang, never OOM
    on hostile dimensions, never leak Index/struct/zlib errors into the UDF.
    """
    from ocr_spark.png import decode_gray, decode_rgb, encode_gray, encode_rgb

    rng = np.random.default_rng(seed)
    if rgb:
        blob = encode_rgb(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
    else:
        blob = encode_gray(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
    mutated = _mutate(blob, seed)
    for decoder, ndim in ((decode_gray, 2), (decode_rgb, 3)):
        try:
            out = decoder(mutated)
        except ValueError:
            continue
        assert out.dtype == np.uint8 and out.ndim == ndim
        assert out.shape[0] >= 1 and out.shape[1] >= 1
        if ndim == 3:
            assert out.shape[2] == 3


def test_png_hostile_dimensions_rejected_fast():
    """A tiny blob declaring huge dimensions must raise ValueError without
    allocating or defiltering (the bpp-aware _MAX_SAMPLES cap): 16384x16384
    gray and 8192x8192 rgb both exceed 2**26 samples."""
    import struct as _struct
    import time
    import zlib as _zlib

    from ocr_spark.png import _SIG, decode_gray, decode_rgb

    def blob(w, h, ct):
        def chunk(ctype, payload):
            return (_struct.pack(">I", len(payload)) + ctype + payload
                    + _struct.pack(">I", _zlib.crc32(ctype + payload) & 0xFFFFFFFF))
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", _zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")

    t0 = time.time()
    with pytest.raises(ValueError):
        decode_gray(blob(16384, 16384, 0))
    with pytest.raises(ValueError):
        decode_rgb(blob(8192, 8192, 2))
    assert time.time() - t0 < 1.0


# --------------------------------------------------------------------------
# HTML stripper
# --------------------------------------------------------------------------

_HTML_TOKENS = [
    "<nav>", "</nav>", "<footer class='x'>", "</footer>", "<HEADER>", "</header >",
    "<aside>", "</aside>", "<form>", "</form>", "<script>", "</script>", "<p>",
    "</p>", "<div>", "<br/>", "<a href='#'>", "</a>", "<", ">", "&amp;", "&nbsp;",
    " ", "\n", "word", "more words here",
]


def _nested_html(depth: int, closed: int, tag: str) -> str:
    """``depth`` openers of ``tag`` with ``closed`` of them closed."""
    body = f"<p>kept content words {depth}</p>"
    return f"<{tag}>" * depth + body + f"</{tag}>" * closed + " tail words stay here"


_html_value = st.one_of(
    st.none(),
    st.text(max_size=80),
    st.lists(st.sampled_from(_HTML_TOKENS), max_size=60).map("".join),
    st.builds(
        _nested_html,
        st.integers(min_value=0, max_value=300),
        st.integers(min_value=0, max_value=300),
        st.sampled_from(["nav", "footer", "header", "aside", "form"]),
    ),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_html_value, max_size=6), st.integers(min_value=-50, max_value=50))
def test_strip_html_never_raises_and_keeps_shape(values, offset):
    from unittest import mock

    import pandas as pd
    from pandas.core.strings.accessor import StringMethods

    from ocr_spark.html import strip

    html = pd.Series(values, index=[offset + 3 * i for i in range(len(values))], dtype=object)
    passes = {strip._DROP_CONTAINERS: 0, strip._DROP_CONTAINERS_LAZY: 0}
    replace = StringMethods.replace

    def counting_replace(self, pat, *args, **kwargs):
        if pat in passes:
            passes[pat] += 1
        return replace(self, pat, *args, **kwargs)

    with mock.patch.object(StringMethods, "replace", counting_replace):
        out = strip.strip_html(html)

    assert isinstance(out, pd.Series)
    assert out.index.equals(html.index)
    for v, o in zip(values, out):
        assert o is None if v is None else isinstance(o, str)
    # each fixpoint loop stops at its cap (plus the one residual sweep)
    assert all(n <= strip._MAX_FIXPOINT_PASSES + 1 for n in passes.values())
