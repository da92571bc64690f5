"""P8/P9: quadrant and arbitrary-angle (three-shear) rotation, bit-exact
with the reference's ImageRotator (ImageRotator.java:100-168 driver,
:275-470 shear kernels, :170-270 quadrant paths).

The reference routes every rotation through an ARGB int buffer:

  gray raster --getRGB--> sRGB ints --shears--> ints --drawImage--> gray

Both conversions are calibrated against the compiled reference:
  * gray -> channel value: the linear-gray->sRGB curve (javaimg.SRGB_LUT,
    golden gray_getrgb_lut.json)
  * ints -> gray: integer luma (r*77 + g*150 + b*29 + 128) >> 8, recovered
    exactly from tests/goldens/rgb2gray_probe.json (4096-point RGB lattice)

The shear kernels reproduce the reference's int32 arithmetic verbatim,
including its quirks: truncating (toward-zero) division in the weight
blend, and the channel-bleeding pack `(a<<24)|((r<<16)+(g<<8)+b)` where
out-of-range leftovers carry into neighboring channels.

Reference-bug note (documented, not replicated here): `Bitmap.rotate`
(Bitmap.java:96-109) never refreshes `mRaster` after an arbitrary-angle
rotation and discards the quadrant-rotation result entirely, so in the
reference the *recognition* path always sees the unrotated raster. These
kernels implement the image operators themselves (what `getImage()`
returns); ``engine.recognize`` applies them for real when deskew is
requested.
"""

from __future__ import annotations

import math

import numpy as np

from .javaimg import SRGB_LUT

I32 = np.int32


def _i32(v: int) -> np.int32:
    """Java int literal: wrap an unsigned 32-bit value into int32."""
    return np.int32(np.array(v & 0xFFFFFFFF, dtype=np.uint32))


def _luma(r, g, b):
    """INT_RGB -> TYPE_BYTE_GRAY drawImage conversion (calibrated probe)."""
    return (r * 77 + g * 150 + b * 29 + 128) >> 8


def gray_to_buffer(gray: np.ndarray) -> np.ndarray:
    """ImageRotatorBuffer(BufferedImage) on a TYPE_BYTE_GRAY image: getRGB
    applies the gray->sRGB curve and packs alpha=255 ARGB ints."""
    v = SRGB_LUT[gray].astype(np.int64)
    packed = (0xFF << 24) | (v << 16) | (v << 8) | v
    return (packed & 0xFFFFFFFF).astype(np.uint32).astype(I32)


def buffer_to_gray(buf: np.ndarray) -> np.ndarray:
    """new Bitmap(INT_RGB image): getRGB drops alpha, drawImage -> gray."""
    v = buf.astype(I32)
    r = (v >> 16) & 0xFF
    g = (v >> 8) & 0xFF
    b = v & 0xFF
    return _luma(r, g, b).astype(np.uint8)


def _unpack(row: np.ndarray):
    """Java channel extraction: 255&(v>>>24), 255&(v>>16), 255&(v>>8), 255&v."""
    u = row.astype(np.uint32)
    a = ((u >> 24) & 0xFF).astype(np.int64)
    v = row.astype(I32).astype(np.int64)
    r = (v >> 16) & 0xFF
    g = (v >> 8) & 0xFF
    b = v & 0xFF
    return a, r, g, b


def _pack(a, r, g, b) -> np.ndarray:
    """The reference's mixed-operator pack: (a<<24)|((r<<16)+(g<<8)+b) in
    int32 — out-of-range channels deliberately bleed via the additions."""
    total = (r << 16) + (g << 8) + b
    packed = ((a << 24) | total) & 0xFFFFFFFF
    return packed.astype(np.uint32).astype(I32)


def _trunc_div256(p: np.ndarray) -> np.ndarray:
    """Java integer division by 256 (truncates toward zero)."""
    return np.where(p >= 0, p >> 8, -((-p) >> 8))


def _blend_weight(ch: np.ndarray, weight: int) -> np.ndarray:
    return np.clip(_trunc_div256(ch * weight), 0, 255)


def _skew_row(src_row: np.ndarray, dst_row: np.ndarray, offset: int, weight: int, bg: int):
    """horizontalSkew (ImageRotator.java:373-470) on one row of packed ints.
    verticalSkew (:472-578) is this function applied to a column view."""
    sw = src_row.shape[0]
    dw = dst_row.shape[0]
    bg_ch = np.array(
        [(bg >> 24) & 0xFF, (bg >> 16) & 0xFF, (bg >> 8) & 0xFF, bg & 0xFF], dtype=np.int64
    )

    if offset > 0:
        dst_row[: min(offset, dw)] = _i32(bg)

    a, r, g, b = _unpack(src_row)
    chans = [a, r, g, b]
    outs = []
    for j, ch in enumerate(chans):
        left = _blend_weight(ch, weight)
        prev = np.empty_like(left)
        prev[0] = min(max((int(bg_ch[j]) * weight) // 256 if int(bg_ch[j]) * weight >= 0 else -((-int(bg_ch[j]) * weight) // 256), 0), 255)
        prev[1:] = left[:-1]
        outs.append(ch - (left - prev))
    packed = _pack(outs[0], outs[1], outs[2], outs[3])

    xs = np.arange(sw) + offset
    valid = (xs >= 0) & (xs < dw)
    dst_row[xs[valid]] = packed[valid]

    # rightmost leftover pixel + background fill to the right
    xpos = sw + offset
    if xpos < dw:
        last_left = [int(_blend_weight(np.array([ch[-1]]), weight)[0]) for ch in chans]
        vals = []
        for j in range(4):
            bgl = int(np.clip(_trunc_div256(np.array([bg_ch[j] * weight])), 0, 255)[0])
            vals.append(int(bg_ch[j]) - (bgl - last_left[j]))
        dst_row[xpos] = _pack(*[np.array([v], dtype=np.int64) for v in vals])[0]
        if xpos + 1 < dw:
            dst_row[xpos + 1 :] = _i32(bg)


def _rotate_fast(buf: np.ndarray, angle: int) -> np.ndarray:
    """ImageRotator.rotateFast (Java2D quadrant rotate, :49-58 call sites
    :28-41): for ODD dimensions the integer centers shift the result by one
    pixel and clip one row/column, leaving an uninitialized BLACK stripe —
    replicated exactly (validated against rot_fixed_{90,180,270} goldens)."""
    sh, sw = buf.shape
    if angle == 90:
        dst = np.zeros((sw, sh), dtype=I32)  # black = uninitialized INT_RGB
        ys = np.arange(sh)
        cols = 2 * (sh // 2) - 1 - ys
        m = (cols >= 0) & (cols < sh)
        dst[:, cols[m]] = buf[ys[m], :].T
        return dst
    if angle == 180:
        dst = np.zeros((sh, sw), dtype=I32)
        ys = np.arange(sh)
        xs = np.arange(sw)
        rows = 2 * (sh // 2) - 1 - ys
        cols = 2 * (sw // 2) - 1 - xs
        my = (rows >= 0) & (rows < sh)
        mx = (cols >= 0) & (cols < sw)
        dst[np.ix_(rows[my], cols[mx])] = buf[np.ix_(ys[my], xs[mx])]
        return dst
    # 270
    dst = np.zeros((sw, sh), dtype=I32)
    xs = np.arange(sw)
    rows = 2 * (sw // 2) - 1 - xs
    m = (rows >= 0) & (rows < sw)
    dst[rows[m], :] = buf[:, xs[m]].T
    return dst


def _rotate45(buf: np.ndarray, angle_deg: float, bg: int) -> np.ndarray:
    """rotate45 (ImageRotator.java:275-370): three shear passes."""
    rad = math.radians(angle_deg)
    sin_e = math.sin(rad)
    tan_h = math.tan(rad / 2)
    sh, sw = buf.shape

    # 1st shear (horizontal)
    w1 = sw + int(sh * abs(tan_h) + 0.5)
    h1 = sh
    dst1 = np.full((h1, w1), _i32(bg), dtype=I32)
    for u in range(h1):
        if tan_h >= 0:
            shear = (u + 0.5) * tan_h
        else:
            shear = (u - h1 + 0.5) * tan_h
        ishear = int(shear)  # trunc toward zero
        weight = int(255 * (shear - ishear) + 1)
        _skew_row(buf[u], dst1[u], ishear, weight, bg)

    # 2nd shear (vertical)
    w2 = w1
    h2 = int(sw * abs(sin_e) + sh * math.cos(rad) + 0.5) + 1
    dst2 = np.full((h2, w2), _i32(bg), dtype=I32)
    if sin_e > 0:
        offset = (sw - 1) * sin_e
    else:
        offset = -sin_e * (sw - w2)
    for u in range(w2):
        ishear = int(offset)
        weight = int(255 * (offset - ishear) + 1)
        _skew_row(dst1[:, u], dst2[:, u], ishear, weight, bg)
        offset -= sin_e

    # 3rd shear (horizontal)
    w3 = int(sh * abs(sin_e) + sw * math.cos(rad) + 0.5) + 1
    h3 = h2
    dst3 = np.full((h3, w3), _i32(bg), dtype=I32)
    if sin_e >= 0:
        offset = (sw - 1) * sin_e * -tan_h
    else:
        offset = tan_h * ((sw - 1) * -sin_e + (1 - h3))
    for u in range(h3):
        ishear = int(offset)
        weight = int(255 * (offset - ishear) + 1)
        _skew_row(dst2[u], dst3[u], ishear, weight, bg)
        offset += tan_h

    return dst3


def rotate_gray(gray: np.ndarray, angle_deg: float, bg: int = 0xFFFFFFFF) -> np.ndarray:
    """ImageRotator.rotate(img, angle, quality=1, bg) on a gray raster,
    returning the gray result (through the calibrated conversions).

    Quadrant angles use the rotateFast path (pure permutation of the int
    buffer); anything else folds into (-45, 45] with pre-quadrant rotation
    and runs the three shears. Angle must be in [0, 360) like the reference.
    """
    if angle_deg < 0 or angle_deg >= 360:
        raise ValueError(f"Angle not supported: {angle_deg}")
    if angle_deg == 0:
        return gray.copy()
    buf = gray_to_buffer(gray)
    if angle_deg in (90, 180, 270):
        return buffer_to_gray(_rotate_fast(buf, int(angle_deg)))

    # Reference quirks replicated exactly (ImageRotator.java:1086-1092 and
    # :100-168): quality-1 dispatch NEGATES the angle (rotateByShears(-a)),
    # renormalizes to [0,360), and an angle that lands in (315,360) is fed
    # to rotate45 un-folded (its half-angle trig makes that equivalent to
    # the negative residual). The pre-rotations here are the in-buffer
    # rotate90/270, which spin OPPOSITE to the Java2D quadrant path above.
    angle = -angle_deg
    while angle >= 360:
        angle -= 360
    while angle < 0:
        angle += 360
    if 45 < angle <= 135:
        buf = np.rot90(buf, k=1)
        angle -= 90
    elif 135 < angle <= 225:
        buf = np.rot90(buf, k=2)
        angle -= 180
    elif 225 < angle <= 315:
        buf = np.rot90(buf, k=-1)
        angle -= 270
    if angle != 0:
        buf = _rotate45(buf, angle, bg)
    return buffer_to_gray(buf)
