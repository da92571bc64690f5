"""Iceberg catalog support, guarded (VERDICT r04 #9).

This container ships no Iceberg runtime jar and has no network to fetch one
(re-verified every round; see BENCH/BASELINE.md "Iceberg commits"), so the
pipeline's default commit protocol is the parquet substitute implemented in
``job.ParquetSink``: append-only manifest rows as the commit unit, dynamic
partition overwrite for idempotent bucket rewrite. The semantics are already
Iceberg-shaped; this module makes the swap a CODE PATH instead of prose:

- ``--catalog iceberg`` on the CLI routes writes through ``writeTo(...)``
  (atomic ``overwritePartitions`` for span buckets, ``append`` for the
  manifest) against a configured Spark catalog;
- when the runtime jar is absent the guard raises ``IcebergUnavailable``
  with the exact spark-submit / conf lines a cluster user needs, instead of
  failing later inside the JVM with a ClassNotFoundException.

The guard is unit-tested both ways (absent -> raise with instructions,
present -> pass) via the ``OCR_SPARK_ICEBERG_JARS_DIR`` override; the
``writeTo`` calls of ``IcebergSink`` are tested against a stubbed writer and
catalog, and only run for real on a cluster with the jar.
"""

from __future__ import annotations

import glob
import os
import textwrap

from pyspark.sql import functions as F

# the spark-runtime artifact name is stable across Iceberg releases:
# iceberg-spark-runtime-<spark.major.minor>_<scala>-<version>.jar
ICEBERG_JAR_GLOB = "iceberg-spark-runtime-*.jar"

# known-good coordinate for the pyspark major line this repo targets
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


class IcebergUnavailable(RuntimeError):
    """Raised when --catalog iceberg is requested but no runtime jar exists."""


def iceberg_runtime_jars() -> list[str]:
    """Iceberg spark-runtime jars visible to this Spark installation.

    Looks everywhere a runtime jar legitimately lands:

    - the installed pyspark's ``jars/`` (a jar baked into the distribution);
    - ``$SPARK_HOME/jars`` when it differs (external Spark installs);
    - the Ivy cache (``~/.ivy2/jars`` or ``$SPARK_JARS_IVY``/jars) — this is
      where ``spark-submit --packages`` materializes artifacts; they are put
      on the JVM classpath from there, NOT copied into pyspark's jars/;
    - an optional ``OCR_SPARK_ICEBERG_JARS_DIR`` override for deployments
      that stage jars elsewhere (also what the unit tests use to exercise
      the found-jar path in a container that has none).
    """
    dirs = []
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover - pyspark is baked into this env
        pass
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        dirs.append(os.path.join(spark_home, "jars"))
    ivy = os.environ.get("SPARK_JARS_IVY") or os.path.expanduser("~/.ivy2")
    dirs.append(os.path.join(ivy, "jars"))
    extra = os.environ.get("OCR_SPARK_ICEBERG_JARS_DIR")
    if extra:
        dirs.append(extra)
    found: list[str] = []
    for d in dirs:
        found.extend(glob.glob(os.path.join(d, ICEBERG_JAR_GLOB)))
    return sorted(set(found))


def require_iceberg(catalog_name: str = "ocr") -> list[str]:
    """Return the runtime jars, or raise IcebergUnavailable with the exact
    swap instructions (the guard the CLI calls before building a session)."""
    jars = iceberg_runtime_jars()
    if jars:
        return jars
    raise IcebergUnavailable(
        textwrap.dedent(
            f"""\
            --catalog iceberg requested but no Iceberg runtime jar is on this
            Spark installation (looked for {ICEBERG_JAR_GLOB} in pyspark's
            jars/ and $OCR_SPARK_ICEBERG_JARS_DIR).

            To run with a real Iceberg catalog, submit with the runtime and a
            catalog definition, e.g.:

              spark-submit \\
                --packages {ICEBERG_PACKAGE} \\
                --conf spark.sql.catalog.{catalog_name}=org.apache.iceberg.spark.SparkCatalog \\
                --conf spark.sql.catalog.{catalog_name}.type=hadoop \\
                --conf spark.sql.catalog.{catalog_name}.warehouse=<warehouse-uri> \\
                --py-files dist/ocr_spark.zip ocr_spark/cli.py extract \\
                --catalog iceberg --input ... --output ...

            (or type=rest/hive with the matching catalog properties). The
            pipeline then commits span buckets with writeTo(...).overwrite-
            Partitions() and manifest rows with writeTo(...).append() instead
            of the parquet + dynamic-partition-overwrite substitute.
            """
        )
    )


def configure_iceberg(builder, warehouse: str, catalog_name: str = "ocr",
                      jars: list[str] | None = None):
    """Attach a hadoop-type Iceberg catalog to a session builder (only
    meaningful once require_iceberg() passed). ``jars`` (the guard's return
    value) is put on ``spark.jars`` so a jar staged outside the default
    classpath (OCR_SPARK_ICEBERG_JARS_DIR) actually reaches the JVM —
    without this, the guard would pass and the job would still die later
    with ClassNotFoundException. Re-listing a jar that is already on the
    classpath (pyspark jars/ or --packages) is harmless."""
    if jars:
        builder = builder.config("spark.jars", ",".join(jars))
    return (
        builder.config(
            f"spark.sql.catalog.{catalog_name}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config(f"spark.sql.catalog.{catalog_name}.type", "hadoop")
        .config(f"spark.sql.catalog.{catalog_name}.warehouse", warehouse)
    )


class IcebergSink:
    """The Iceberg commit substrate for ``job.extract`` (the twin of
    ``job.ParquetSink``): span buckets in ``<catalog>.spans`` partitioned by
    bucket, manifest rows in ``<catalog>.manifest``. The first wave of a
    fresh run creates both tables."""

    def __init__(self, spark, catalog: str):
        self.spark = spark
        self.spans = f"{catalog}.spans"
        self.manifest_table = f"{catalog}.manifest"

    def manifest(self):
        if not self.spark.catalog.tableExists(self.manifest_table):
            return None
        return self.spark.table(self.manifest_table)

    def write_wave(self, out, wave: list[int]) -> None:
        # atomically replaces the bucket partitions present in ``out``: the
        # snapshot swap is the commit, so no stale half-written bucket can
        # exist and the parquet sink's pre-delete is not needed
        if self.spark.catalog.tableExists(self.spans):
            out.writeTo(self.spans).overwritePartitions()
        else:
            out.writeTo(self.spans).partitionedBy(F.col("bucket")).create()

    def read_wave(self, wave: list[int]):
        return self.spark.table(self.spans).where(F.col("bucket").isin(wave))

    def append_manifest(self, rows) -> None:
        if self.spark.catalog.tableExists(self.manifest_table):
            rows.writeTo(self.manifest_table).append()
        else:
            rows.writeTo(self.manifest_table).create()
