"""Arrow-vectorized UDFs: the HTML stripper and the one blob->text UDF.
``blob_texts`` is the blob route's rule over plain lists (media pages to the
NumPy OCR kernel, pdfs to the PDF parser, null for a null blob or one with no
text), and ``ocr_udf`` a scalar pandas UDF that calls it per Arrow batch.

The ``Alphabet`` is learned in memory on the driver and captured by the
blob UDF closure (Spark pickles it once per executor — ~39 KB pickled for
arial, the broadcast-variable pattern without the broadcast plumbing). All
heavy work is per-batch NumPy: ``blob_texts`` hands the media pages of a
batch to one ``engine.recognize_pages`` call, which decodes and scans them
in pixel-bounded groups (memoized by glyph window and matrix).

Both UDFs call ``forget_zip_finders`` after each call, so the next task's
``importlib.invalidate_caches()`` has no zip archive to re-read (120-210 ms
of CPU per task on Python 3.11). Lazy imports inside a UDF cache the
finders again, so dropping them once at import is not enough."""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import forget_zip_finders
from ..html.strip import strip_html
from ..kernel.classify import Alphabet

#: font sheets bundled with the package (Java-gray canonical rasters; the
#: reference ships the same two fonts, OCR.java / fonts/*.png)
BUNDLED_FONTS = ("arial", "courier")


def default_alphabet() -> Alphabet:
    return load_alphabet(("arial",))


@functools.lru_cache(maxsize=4)
def load_alphabet(fonts: tuple = ("arial",)) -> Alphabet:
    """Learn the named bundled sheets in memory, once per process (driver or
    worker), with no disk cache: one sheet learns in about 30 ms and
    arial+courier in about 55 ms (median of 7, 4-core x86 host). Multiple
    fonts accumulate into one template set, exactly the reference's
    repeated learn() (CurvatureClassifier.java:45-79)."""
    # importlib.resources: works both from the source tree and from the
    # --py-files zip (plain open() fails inside a zipimported package)
    from importlib import resources

    from ..png import decode_gray

    # an empty list would learn no templates and fail on the workers
    if not fonts or not set(fonts) <= set(BUNDLED_FONTS):
        raise ValueError(f"fonts must name bundled sheets {BUNDLED_FONTS}; got {fonts!r}")
    alpha = Alphabet()
    for f in fonts:
        sheet = resources.files("ocr_spark").joinpath(f"data/{f}.gray.png").read_bytes()
        alpha.learn_sheet(decode_gray(sheet), f)
    return alpha


def make_strip_udf():
    @pandas_udf(T.StringType())
    def strip_udf(html: pd.Series) -> pd.Series:
        out = strip_html(html)
        forget_zip_finders()
        return out

    return strip_udf


def blob_texts(kinds: list, blobs: list, alpha: Alphabet) -> list[str | None]:
    """Text of each ``(kind, blob)`` pair, in order, on local data: None for a
    null blob; a ``media`` blob is a PNG page OCR'd with ``alpha``; any other
    kind is a pdf, its non-empty page texts space-joined, None if it has none
    (ocr_spark.pdf documents the parsed subset)."""
    from ..kernel.engine import recognize_pages
    from ..kernel.segment import CHAR_SPACING, Settings
    from ..pdf import extract_text
    from ..png import decode_gray

    rows = list(zip(kinds, blobs))
    # a generator: recognize_pages decodes as it goes, one pixel-bounded
    # group of pages at a time
    grays = (
        decode_gray(bytes(b)) for k, b in rows if k == "media" and b is not None
    )
    texts = iter(recognize_pages(grays, Settings(character_spacing=CHAR_SPACING), alpha))
    return [
        None if b is None
        else next(texts) if k == "media"
        else " ".join(extract_text(bytes(b))) or None
        for k, b in rows
    ]


def make_ocr_udf(fonts: tuple | list = ("arial",)):
    """``blob_texts`` over ``(kind, blob)`` columns, with the bundled ``fonts``
    (T1 multi-font) learned on the driver and carried in the closure."""
    alpha = load_alphabet(tuple(fonts))

    @pandas_udf(T.StringType())
    def ocr_udf(kind: pd.Series, blob: pd.Series) -> pd.Series:
        out = pd.Series(
            blob_texts(kind.tolist(), blob.tolist(), alpha), index=blob.index, dtype=object
        )
        forget_zip_finders()
        return out

    return ocr_udf
