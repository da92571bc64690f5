"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` kernels.

What is real here (tested): the Spark-side contract — schemas, batch
iteration, per-batch NumPy vectorization, deterministic outputs — plus a
*real* 8-bit grayscale PNG decoder (ocr_spark.png, stdlib zlib) used by the
image path, the same codec the OCR pipeline uses.

What is stubbed (this container ships no imaging/audio/video codec):
decoding of non-PNG images, compressed audio and non-y4m video raises
``NotImplementedError``.

Every operator is one ``_map_blobs`` call: the shell owns the batch loop,
the null skip, the typed output frame and the zip-finder drop; the operator
supplies only the rows one blob yields.

Skew note for 100 TB: media blobs dominate row size, so callers should cap
``spark.sql.execution.arrow.maxRecordsPerBatch`` (the pipeline default is
1024, see pipeline/job.configure) and repartition on the media key before
mapInPandas — identical to the OCR path's salting.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from .. import forget_zip_finders
from ..kernel.bitmap import black_mask
from ..png import decode_gray

_DTYPES = {T.LongType: "int64", T.DoubleType: "float64"}


def _map_blobs(
    df: DataFrame,
    key_col: str,
    blob_col: str,
    schema: T.StructType,
    rows_of: Callable[[object, bytes], Iterable[tuple]],
) -> DataFrame:
    """One output frame per Arrow batch: the rows ``rows_of(key, blob)``
    yields for each non-null blob, as tuples in ``schema`` field order. An
    empty result still carries the schema's dtypes."""
    names = schema.fieldNames()
    dtypes = [_DTYPES.get(type(f.dataType), object) for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for key, blob in zip(pdf[key_col], pdf[blob_col])
                if blob is not None
                for row in rows_of(key, bytes(blob))
            ]
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=t) for n, c, t in zip(names, cols, dtypes)}
            )
            forget_zip_finders()

    return df.select(key_col, blob_col).mapInPandas(kernel, schema)


IMAGE_FEATURES = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("ink_ratio", T.DoubleType()),
        T.StructField("n_ink_rows", T.LongType()),
    ]
)

FRAME_SAMPLE = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("feature", T.DoubleType()),
    ]
)


def _decode_image(blob: bytes) -> np.ndarray:
    """PNG-gray is decoded for real; other formats need a codec this
    container doesn't ship."""
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_gray(blob)
    raise NotImplementedError(
        "non-PNG image decode requires an imaging library (PIL/cv2) not "
        "shipped in this container"
    )


def image_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract the ``png`` column per Arrow batch.
    Output: (media_ref, width, height, ink_ratio, n_ink_rows)."""

    def rows_of(ref, blob):
        img = _decode_image(blob)
        mask = black_mask(img)
        h, w = img.shape
        yield ref, w, h, round(float(mask.mean()), 6), int(mask.any(axis=1).sum())

    return _map_blobs(df, "media_ref", "png", IMAGE_FEATURES, rows_of)


def frame_sample(df: DataFrame) -> DataFrame:
    """Video frame sampling: emits up to ``y4m.SAMPLED_FRAMES`` evenly-spaced
    rows per ``payload`` blob with ``frame_idx`` = the sampled source-frame
    index and ``feature`` = that frame's mean luma (rounded 6).

    YUV4MPEG2 (.y4m) blobs are decoded FOR REAL (ocr_spark.y4m — raw planar
    frames, no codec library needed); fixtures carry by-construction
    per-frame truth computed on the planes before encoding, so a desynced
    frame walk reads the wrong bytes and fails the oracle. Compressed
    containers (mp4/webm) would need ffmpeg, which this container doesn't
    ship: such blobs raise."""
    from ..y4m import MAGIC, SAMPLED_FRAMES, parse_y4m, sample_indices

    def rows_of(ref, blob):
        if not blob.startswith(MAGIC):
            raise NotImplementedError("non-y4m video decode requires ffmpeg/av, not shipped here")
        _, frames = parse_y4m(blob)
        for fi in sample_indices(len(frames), SAMPLED_FRAMES):
            yield ref, fi, round(float(frames[fi][0].mean()), 6)

    return _map_blobs(df, "media_ref", "payload", FRAME_SAMPLE, rows_of)


AUDIO_FEATURES = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("n_zero_cross", T.LongType()),
    ]
)


def _decode_audio(blob: bytes) -> tuple[int, "np.ndarray"]:
    """PCM WAV is decoded for real (stdlib ``wave`` — mono or interleaved
    multichannel int16); compressed formats need a codec this container
    doesn't ship. Returns (sample_rate, int16 sample array, channel 0)."""
    import io
    import wave

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise NotImplementedError(
            "non-WAV audio decode requires an audio library (ffmpeg/soundfile) "
            "not shipped in this container"
        )
    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 WAV is decoded natively")
        sr = w.getframerate()
        raw = w.readframes(w.getnframes())
        x = np.frombuffer(raw, dtype="<i2")
        if w.getnchannels() > 1:
            x = x[:: w.getnchannels()]
    return sr, x


def audio_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract the ``wav`` column per Arrow batch:
    duration, RMS (int16 domain, rounded 6), zero-crossing count — the cheap
    per-clip stats a training pipeline filters on before expensive featurizing.
    Output: (media_ref, sample_rate, n_samples, duration_s, rms, n_zero_cross)."""

    def rows_of(ref, blob):
        sr, x = _decode_audio(blob)
        xf = x.astype(np.float64)
        rms = float(np.sqrt(np.mean(xf * xf))) if len(x) else 0.0
        yield (
            ref, sr, len(x), round(len(x) / sr, 6), round(rms, 6),
            int(np.sum((x[1:] < 0) != (x[:-1] < 0))),
        )

    return _map_blobs(df, "media_ref", "wav", AUDIO_FEATURES, rows_of)


PDF_TEXT = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("page_idx", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def pdf_text(df: DataFrame) -> DataFrame:
    """Extract text from the ``pdf`` column per Arrow batch (north rule:
    PDF/layout parse): one output row per content-stream page, in document
    order. Real parser for the text-PDF subset (plain/Flate streams, Tj/TJ
    operators — ocr_spark.pdf documents the scope); image-only pages yield
    no rows here, they belong to the OCR path."""
    from ..pdf import extract_text

    def rows_of(ref, blob):
        for i, t in enumerate(extract_text(blob)):
            yield ref, i, t

    return _map_blobs(df, "media_ref", "pdf", PDF_TEXT, rows_of)


IDX_RECORDS = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("item_idx", T.LongType()),
        T.StructField("h", T.LongType()),
        T.StructField("w", T.LongType()),
        T.StructField("px_md5", T.StringType()),
        T.StructField("mean_val", T.DoubleType()),
    ]
)


def idx_records(df: DataFrame) -> DataFrame:
    """Explode idx1/idx3 tensor files (MNIST format — inventory row S5,
    reference reader `ocr2/ConvolutionalClassifier.java:123-158`) into one
    row per item. Input is a binary-file frame (``spark.read.format(
    "binaryFile")``: ``path``, ``content``), so sharded corpora parallelize
    per file; each file parses whole inside its task (bounded by shard size
    — the standard contract for this format). idx1 (labels) items report
    h=w=0 with the label byte as mean_val; idx3 (images) report dims, an md5
    over the raw pixels, and the float pixel mean."""
    from ..idx import parse_idx

    def rows_of(path, blob):
        arr = parse_idx(blob)
        for i in range(arr.shape[0] if arr.ndim else 0):
            item = arr[i]
            yield (
                path, i,
                item.shape[0] if item.ndim >= 1 else 0,
                item.shape[1] if item.ndim >= 2 else 0,
                hashlib.md5(item.tobytes()).hexdigest(),
                float(item.astype(np.float64).mean()),
            )

    return _map_blobs(df, "path", "content", IDX_RECORDS, rows_of)


RESIZED_IMAGE = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def image_resize(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Batch image resize of the ``png`` column through the bit-exact
    Java2D-parity kernel (mip-chain halving + bilinear,
    ocr_spark.kernel.javaimg) — the real decode/transform/encode loop a
    training pipeline runs before feature extraction. PNG-gray in, PNG-gray
    out."""
    from ..kernel.javaimg import java_resize
    from ..png import encode_gray

    def rows_of(ref, blob):
        img = java_resize(_decode_image(blob), target_w, target_h)
        out = np.clip(img, 0, 255).astype(np.uint8)
        h, w = out.shape
        yield ref, w, h, encode_gray(out)

    return _map_blobs(df, "media_ref", "png", RESIZED_IMAGE, rows_of)
