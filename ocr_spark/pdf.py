"""Minimal PDF text extraction (north rule: "PDF/layout parse") plus a
deterministic PDF writer for fixtures — pure stdlib (zlib), no external
PDF library in this container.

Scope (documented subset, honest about what it is NOT): text-based PDFs
whose content streams are plain or FlateDecode-compressed and show text
with the standard ``Tj`` / ``TJ`` operators inside BT/ET blocks — the shape
virtually every programmatic PDF writer (and this module's own ``build_pdf``)
emits. Not handled: encrypted documents, CID/Type0 multi-byte encodings,
object streams (/ObjStm), text drawn as vector outlines or images (that is
the OCR kernel's job, see ocr_spark.kernel).

Parsing strategy: scan for ``stream`` keywords (xref-free — also works on
files with broken xref tables, a common real-world defect), slice each body
by the preceding dict's direct ``/Length`` (byte-exact even when the payload
contains the literal bytes ``endstream``; falls back to an ``endstream``
scan when /Length is absent, indirect, or wrong), inflate, and collect
show-text operators per BT/ET block. String
escapes (\\(, \\), \\\\, \\n, \\t, \\r, \\b, \\f, octal \\ooo) and TJ kerning
arrays are handled; pieces within one TJ are concatenated, a kerning
adjustment <= -200/1000 em is rendered as a space (the convention most text
extractors use for word gaps encoded as kerning).
"""

from __future__ import annotations

import re
import zlib

_STREAM_HEAD = re.compile(rb"(?<!end)stream\r?\n")
# direct-integer /Length only; an indirect reference (/Length 5 0 R) falls
# back to the endstream scan below. (?!\d) anchors the digit run so
# backtracking can't shorten '1234' to '123' to sneak past the
# indirect-ref lookahead
_LENGTH = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
# generous finite pad tolerance (writers emit 1-2 EOL bytes; 1 KiB covers
# any real padding) rather than unbounded, so a grossly undercounting
# /Length whose omitted tail is pure whitespace falls back to the
# endstream scan instead of silently truncating. Residual window, accepted:
# an undercount whose whitespace-valued omitted tail is <= 1024 bytes is
# still taken at the declared length — harmless for uncompressed text
# streams (the tail is semantically empty past the last ET) and for Flate
# it surfaces as a zlib error -> parse-as-is, the same degradation an
# unrecoverable undercount produces; zlib payload tails are effectively
# random bytes, so an all-whitespace tail is already a pathological input.
_ENDSTREAM_AT = re.compile(rb"\s{0,1024}endstream")
# inflated bytes one Flate stream may produce; a stream past it is skipped
# as non-text, so a stream holds at most cap + 1 inflated bytes in memory.
# Flate reaches ~1000:1 on uniform data: without a cap a 254 KB pdf holding
# 256 MiB of zeros inflated all of it (557 MB traced peak). The value is
# not sized on real pdfs (the repository holds none; the synthetic
# fixtures' largest stream inflates to 146 bytes): it only has to sit far
# above any text content stream, since images and fonts hold no text.
_MAX_INFLATED = 1 << 26
_BT_ET = re.compile(rb"BT(.*?)ET", re.DOTALL)
# ( ... ) with escaped chars, followed by the operator
_TJ_ONE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*(Tj|')")
# the non-string alternative excludes '(' so the two branches are disjoint
# on their first byte — an unterminated string in a crafted stream degrades
# to a failed match, not exponential backtracking
_TJ_ARR = re.compile(rb"\[((?:\((?:\\.|[^\\()])*\)|[^\[\]()])*)\]\s*TJ")
_ARR_PIECE = re.compile(rb"\(((?:\\.|[^\\()])*)\)|(-?\d+(?:\.\d+)?)")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt and nxt in b"01234567":  # octal digits ONLY: \8 means '8'
            j = i + 1
            while j < n and j < i + 4 and raw[j] in b"01234567":
                j += 1
            out.append(int(raw[i + 1 : j], 8) & 0xFF)
            i = j
        else:  # backslash before any other char (incl. 8/9, EOL): drop it
            i += 1
    return bytes(out)


def _block_text(block: bytes) -> str:
    """Show-text operators of one BT/ET block -> text. Consecutive Tj/TJ
    results are joined with a space (each op is one positioned run)."""
    runs: list[bytes] = []
    events: list[tuple[int, bytes]] = []
    for m in _TJ_ONE.finditer(block):
        events.append((m.start(), _unescape(m.group(1))))
    for m in _TJ_ARR.finditer(block):
        piece = bytearray()
        for p in _ARR_PIECE.finditer(m.group(1)):
            if p.group(1) is not None:
                piece += _unescape(p.group(1))
            elif float(p.group(2)) <= -200:
                piece += b" "
        events.append((m.start(), bytes(piece)))
    for _, b in sorted(events):
        if b:
            runs.append(b)
    return " ".join(r.decode("latin-1") for r in runs)


def _iter_streams(pdf: bytes):
    """Yield stream bodies in document order. The body is sliced by the
    preceding dict's direct /Length when one is present and lands on an
    ``endstream`` keyword — Flate payloads can legally contain the literal
    bytes ``endstream`` (or ``stream\\n``), so a byte-wise scan alone can
    truncate a page and desync every later stream. The scan pointer always
    advances past the full stream just consumed, so payload-internal
    ``stream`` keywords are never treated as stream starts."""
    pos = 0
    n = len(pdf)
    while pos < n:
        m = _STREAM_HEAD.search(pdf, pos)
        if m is None:
            return
        body_start = m.end()
        body_end = None
        keyword_end = None  # position just past 'endstream' for the advance
        lm = None
        for lm in _LENGTH.finditer(pdf, max(0, m.start() - 512), m.start()):
            pass  # keep the last /Length before the stream keyword
        if lm is not None:
            end = body_start + int(lm.group(1))
            # trust /Length only if endstream actually follows the slice —
            # a run of EOL/pad whitespace before the keyword is tolerated up
            # to the _ENDSTREAM_AT cap (see its comment for why the
            # tolerance is finite)
            em = _ENDSTREAM_AT.match(pdf, end) if end <= n else None
            if em is not None:
                body_end = end
                keyword_end = em.end()
        if body_end is None:  # no/indirect/wrong /Length: first endstream
            body_end = pdf.find(b"endstream", body_start)
            if body_end == -1:
                return
            keyword_end = body_end + len(b"endstream")
        yield pdf[body_start:body_end]
        # advance to the END of the matched keyword, not body_end + 9:
        # on the /Length path body_end sits BEFORE the pad whitespace, so a
        # fixed offset could land mid-'endstream' and desync the next scan
        pos = keyword_end


def _inflate(data: bytes) -> bytes | None:
    """A Flate stream body inflated, or None past ``_MAX_INFLATED`` bytes.
    An uncompressed content stream (or not Flate, or a truncated one) comes
    back as-is, to be parsed raw."""
    inflater = zlib.decompressobj()
    try:
        inflated = inflater.decompress(data, _MAX_INFLATED + 1)
    except zlib.error:
        return data
    if len(inflated) > _MAX_INFLATED:
        return None
    return inflated if inflater.eof else data


def extract_text(pdf: bytes) -> list[str]:
    """Per-content-stream text, in document order; streams with no text
    operators (images, fonts, xref streams) are skipped, and so is a Flate
    stream that inflates past ``_MAX_INFLATED`` bytes."""
    texts = []
    for data in _iter_streams(pdf):
        # the helper drops an oversized buffer before the next stream inflates
        data = _inflate(data)
        if data is None:
            continue
        blocks = [_block_text(b.group(1)) for b in _BT_ET.finditer(data)]
        text = " ".join(t for t in blocks if t)
        if text:
            texts.append(text)
    return texts


def _esc(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def build_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Deterministic minimal PDF: one content stream per page, each inner
    list is the page's text lines (shown as one Tj per line). Valid per the
    PDF 1.4 skeleton: catalog -> pages -> page + contents, full xref."""
    objs: list[bytes] = []  # 1-indexed object bodies (without "N 0 obj")
    kids = []
    n_fixed = 3  # catalog, pages, font
    for i, lines in enumerate(pages):
        page_num = n_fixed + 1 + 2 * i
        content_num = page_num + 1
        kids.append(f"{page_num} 0 R")
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        stream = b" ".join(ops)
        if compress:
            stream = zlib.compress(stream, 9)
            filt = b"/Filter /FlateDecode "
        else:
            filt = b""
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_num} 0 R >>".encode()
        )
        objs.append(
            b"<< " + filt + b"/Length " + str(len(stream)).encode() + b" >>\n"
            b"stream\n" + stream + b"\nendstream"
        )

    header = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        ("<< /Type /Pages /Kids [" + " ".join(kids) + f"] /Count {len(pages)} >>").encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    all_objs = header + objs

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(all_objs, start=1):
        offsets.append(len(out))
        out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(all_objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(all_objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)
