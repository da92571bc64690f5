"""ocr_spark — PySpark-native main-content extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
terifan/OCR (reference at /root/reference, public domain) as an idiomatic
PySpark pipeline: text spans go through a vectorized boilerplate stripper,
media spans through a NumPy curvature-feature OCR kernel that is bit-exact
with the reference engine (verified against compiled-reference goldens in
tests/goldens/).

Layout:
  kernel/    pure-NumPy reimplementation of the OCR engine (no Spark deps)
  html/      boilerplate stripper for text spans (new design, north-rule)
  functions/ column-level text analytics + similarity/dedup primitives
  pipeline/  the Spark job: explode -> route -> pandas UDFs -> reassemble,
             parquet and Iceberg commit sinks, streaming extraction
"""

import sys
import zipimport

__version__ = "0.1.0"


def forget_zip_finders() -> None:
    """Drop every ``zipimport.zipimporter`` cached in ``sys.path_importer_cache``.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on Python 3.11 each cached zipimporter then re-reads
    its archive's central directory: pyspark.zip's subpackages, py4j and the
    spark-core jar cost 120-210 ms of CPU per task before any UDF body runs.
    Modules already imported keep their loaders, and a later import rebuilds
    its finder from zipimport's in-memory directory cache, so nothing is
    re-read. Where the re-read is lazy (Python 3.12+) this is harmless.

    Called at import (every worker that unpickles a package UDF imports this
    package) and by every package UDF after each call or Arrow batch, because
    lazy imports inside a task create the finders again."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


forget_zip_finders()
