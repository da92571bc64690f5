"""Arrow-vectorized UDFs: the HTML stripper and the one blob->text UDF.
The blob UDF takes a ``(kind, blob)`` batch and dispatches on kind: media
pages go to the NumPy OCR kernel, pdfs to the PDF parser; a null blob or a
blob with no text gives null.

The learned ``Alphabet`` is captured by the blob UDF closure (Spark pickles
it once per executor — ~39 KB pickled for arial, the broadcast-variable
pattern without the broadcast plumbing). All heavy work is per-batch NumPy:
the UDF hands the media pages of each Arrow batch to one
``engine.recognize_pages`` call, which decodes and scans them in
pixel-bounded groups (memoized by glyph crop and matrix).

Both UDFs call ``forget_zip_finders`` after each call or batch, so the next
task's ``importlib.invalidate_caches()`` has no zip archive to re-read
(120-210 ms of CPU per task on Python 3.11). Lazy imports inside a UDF cache
the finders again, so dropping them once at import is not enough."""

from __future__ import annotations

import functools
import os
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
    """Learn the named bundled sheets once per process (driver or worker),
    with a /tmp feature cache so repeat processes skip the ~1 s learn.
    Multiple fonts accumulate into one template set, exactly the
    reference's repeated learn() (CurvatureClassifier.java:45-79)."""
    import hashlib

    import numpy as np

    from ..png import decode_gray

    # importlib.resources: works both from the source tree and from the
    # --py-files zip (plain open() fails inside a zipimported package)
    from importlib import resources

    for f in fonts:
        if f not in BUNDLED_FONTS:
            raise ValueError(f"unknown font {f!r}; bundled: {BUNDLED_FONTS}")
    raws = [
        (f, resources.files("ocr_spark").joinpath(f"data/{f}.gray.png").read_bytes())
        for f in fonts
    ]
    raw = b"".join(f.encode() + b"\0" + r for f, r in raws)
    # per-user 0700 cache dir: a world-writable shared path would let another
    # local user pre-create the file and silently substitute features. The
    # dir name is predictable, so creation alone is not enough — verify the
    # existing dir is OURS and not group/other-writable, else skip the cache
    # entirely (sticky /tmp lets any user pre-create the name).
    import stat
    import tempfile

    cache_dir = os.path.join(
        tempfile.gettempdir(), f"ocr_spark_cache_{os.getuid()}"
    )
    cache = None
    try:
        os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        st = os.stat(cache_dir)
        if st.st_uid == os.getuid() and not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)):
            cache = os.path.join(
                cache_dir, f"alpha_{hashlib.sha1(raw).hexdigest()[:16]}.npz"
            )
    except OSError:
        pass
    def _learn() -> Alphabet:
        alpha = Alphabet()
        for f, r in raws:
            alpha.learn_sheet(decode_gray(r), f)
        return alpha

    if cache is None:
        return _learn()
    if os.path.exists(cache):
        try:
            with np.load(cache, allow_pickle=False) as z:
                return Alphabet.from_dict(z)
        except Exception:
            pass
    alpha = _learn()
    try:
        tmp = cache + f".{os.getpid()}.tmp"
        np.savez(tmp, **alpha.to_dict())
        os.replace(tmp + ".npz" if os.path.exists(tmp + ".npz") else tmp, cache)
    except Exception:
        pass
    return alpha


def make_strip_udf():
    @pandas_udf(T.StringType())
    def strip_udf(html: pd.Series) -> pd.Series:
        out = strip_html(html)
        forget_zip_finders()
        return out

    return strip_udf


def make_ocr_udf(character_spacing: float = 8.0, fonts: tuple | list | None = None):
    """Text of a batch of ``(kind, blob)`` rows: a ``media`` blob is a PNG page
    OCR'd with the bundled ``fonts`` (T1 multi-font; default arial), a ``pdf``
    blob yields its non-empty page texts in page order, space-joined
    (ocr_spark.pdf documents the parsed subset). The Alphabet rides in the
    closure; each task builds Settings once and reuses it across its Arrow
    batches."""
    alpha = load_alphabet(tuple(fonts)) if fonts else default_alphabet()

    @pandas_udf(T.StringType())
    def ocr_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        from ..kernel.engine import recognize_pages
        from ..kernel.segment import Settings
        from ..pdf import extract_text
        from ..png import decode_gray

        settings = Settings(character_spacing=character_spacing)

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
