"""Arrow-vectorized UDFs wrapping the NumPy kernel and the stripper.

The learned alphabet travels as a plain dict of ndarrays captured by the UDF
closure (Spark pickles it once per executor — ~30 KB, the broadcast-variable
pattern without the broadcast plumbing). All heavy work is per-batch NumPy;
no per-row Python outside the per-page kernel loop, which is itself memoized
by glyph matrix (ocr_spark.kernel.engine)."""

from __future__ import annotations

import functools
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

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
            z = np.load(cache, allow_pickle=False)
            d = {
                "n": int(z["n"]),
                "chars": [c for c in z["chars"]],
                "def_chars": [c for c in z["def_chars"]],
                "fonts": [c for c in z["fonts"]],
                "vectors": z["vectors"],
                "closest": z["closest"],
            }
            return Alphabet.from_dict(d)
        except Exception:
            pass
    alpha = _learn()
    try:
        d = alpha.to_dict()
        tmp = cache + f".{os.getpid()}.tmp"
        np.savez(
            tmp,
            n=d["n"],
            chars=np.array(d["chars"]),
            def_chars=np.array(d["def_chars"]),
            fonts=np.array(d["fonts"]),
            vectors=d["vectors"],
            closest=d["closest"],
        )
        os.replace(tmp + ".npz" if os.path.exists(tmp + ".npz") else tmp, cache)
    except Exception:
        pass
    return alpha


def make_strip_udf(min_words: int = 3, max_link_density: float = 0.5):
    @pandas_udf(T.StringType())
    def strip_udf(html: pd.Series) -> pd.Series:
        return strip_html(html, min_words=min_words, max_link_density=max_link_density)

    return strip_udf


def make_ocr_udf(character_spacing: float = 8.0, fonts: tuple | list | None = None):
    """OCR a batch of PNG blobs with the bundled ``fonts`` (T1 multi-font;
    default arial). The alphabet dict rides in the closure; each task
    rebuilds the Alphabet and Settings once and reuses them across its
    Arrow batches."""
    alphabet = load_alphabet(tuple(fonts)) if fonts else default_alphabet()
    alpha_dict = alphabet.to_dict()

    @pandas_udf(T.StringType())
    def ocr_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from ..kernel.engine import recognize
        from ..kernel.segment import Settings
        from ..png import decode_gray

        alpha = Alphabet.from_dict(alpha_dict)
        settings = Settings(character_spacing=character_spacing)

        def one(blob):
            if blob is None:
                return None
            return recognize(decode_gray(bytes(blob)), settings, alpha)

        for png in batches:
            yield png.map(one)

    return ocr_udf
