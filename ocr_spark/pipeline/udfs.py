"""Arrow-vectorized UDFs: the HTML stripper and the one blob->text UDF.
The blob UDF takes a ``(kind, blob)`` batch and dispatches on kind: media
pages go to the NumPy OCR kernel, pdfs to the PDF parser; a null blob or a
blob with no text gives null.

The ``Alphabet`` is learned in memory on the driver and captured by the
blob UDF closure (Spark pickles it once per executor — ~39 KB pickled for
arial, the broadcast-variable pattern without the broadcast plumbing). All
heavy work is per-batch NumPy: the UDF hands the media pages of each Arrow
batch to one ``engine.recognize_pages`` call, which decodes and scans them
in pixel-bounded groups (memoized by glyph window and matrix).

Both UDFs call ``forget_zip_finders`` after each call or batch, so the next
task's ``importlib.invalidate_caches()`` has no zip archive to re-read
(120-210 ms of CPU per task on Python 3.11). Lazy imports inside a UDF cache
the finders again, so dropping them once at import is not enough."""

from __future__ import annotations

import functools
from typing import Iterator

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


def make_ocr_udf(fonts: tuple | list = ("arial",)):
    """Text of a batch of ``(kind, blob)`` rows: a ``media`` blob is a PNG page
    OCR'd with the bundled ``fonts`` (T1 multi-font), a ``pdf``
    blob yields its non-empty page texts in page order, space-joined
    (ocr_spark.pdf documents the parsed subset). The Alphabet rides in the
    closure; each task builds Settings once and reuses it across its Arrow
    batches."""
    alpha = load_alphabet(tuple(fonts))

    @pandas_udf(T.StringType())
    def ocr_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        from ..kernel.engine import recognize_pages
        from ..kernel.segment import CHAR_SPACING, Settings
        from ..pdf import extract_text
        from ..png import decode_gray

        settings = Settings(character_spacing=CHAR_SPACING)

        for kind, blob in batches:
            rows = list(zip(kind.tolist(), blob.tolist()))
            # a generator: recognize_pages decodes as it goes, one pixel-bounded
            # group of pages at a time
            grays = (
                decode_gray(bytes(b)) for k, b in rows if k == "media" and b is not None
            )
            texts = iter(recognize_pages(grays, settings, alpha))
            yield pd.Series(
                [
                    None if b is None
                    else next(texts) if k == "media"
                    else " ".join(extract_text(bytes(b))) or None
                    for k, b in rows
                ],
                index=blob.index,
                dtype=object,
            )
            forget_zip_finders()

    return ocr_udf
