"""The Iceberg commit substrate behind ``extract --catalog NAME``.

The pipeline's default commit protocol is the parquet substitute
implemented in ``job.ParquetSink``: append-only manifest rows as the commit
unit, and an idempotent bucket rewrite that deletes each pending bucket dir
(and the committer's ``_temporary``) before appending. ``IcebergSink``
commits the same units through ``writeTo(...)`` against the Spark catalog
``NAME``: atomic ``overwritePartitions`` for span buckets, ``append`` for
the manifest. The catalog is the session's own, as its launch configured it
(spark-submit ``--conf spark.sql.catalog.NAME=...``, or
``PYSPARK_SUBMIT_ARGS``); the package sets none of its properties.

Whether the runtime is there is asked of the session itself: the sink
raises ``IcebergUnavailable``, with the exact spark-submit / conf lines a
cluster user needs, unless the session can load the class its catalog
names. Spark's own ``--packages``, ``--jars`` and ``spark.jars`` decide
where that class comes from, so the check sees every way of shipping it.
``extract`` builds its sink before it reads any input, so the refusal comes
before any Spark job instead of later as a ClassNotFoundException inside
the JVM. The ``writeTo`` calls are tested against a stubbed writer and
catalog, and only run for real on a cluster with the jar.
"""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

# known-good coordinate for the pyspark major line this repo targets
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


class IcebergUnavailable(RuntimeError):
    """Raised when the session cannot load the Iceberg catalog's class."""


class IcebergSink:
    """The Iceberg commit substrate for ``job.extract`` (the twin of
    ``job.ParquetSink``): span buckets in ``<catalog>.spans`` partitioned by
    bucket, manifest rows in ``<catalog>.manifest``. The first commit of a
    fresh run creates both tables."""

    def __init__(self, spark, catalog: str):
        plugin = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        # the context-or-Spark class loader, the one Spark's own catalog
        # plugin lookup uses
        utils = spark.sparkContext._jvm.org.apache.spark.util.Utils
        if not (plugin and utils.classIsLoadable(plugin)):
            raise IcebergUnavailable(textwrap.dedent(f"""\
                Iceberg catalog {catalog!r} requested but this session cannot
                load its class (spark.sql.catalog.{catalog} = {plugin!r}).

                To run with a real Iceberg catalog, submit with the runtime and
                a catalog definition, e.g.:

                  spark-submit \\
                    --packages {ICEBERG_PACKAGE} \\
                    --conf spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog \\
                    --conf spark.sql.catalog.{catalog}.type=hadoop \\
                    --conf spark.sql.catalog.{catalog}.warehouse=<warehouse-uri> \\
                    --py-files dist/ocr_spark.zip ocr_spark/cli.py extract \\
                    --catalog {catalog} --input ...

                (or type=rest/hive with the matching catalog properties). The
                pipeline then commits span buckets with writeTo(...).overwrite-
                Partitions() and manifest rows with writeTo(...).append() instead
                of the parquet substitute (delete each pending bucket dir, then
                append).
                """))
        self.spark = spark
        self.spans = f"{catalog}.spans"
        self.manifest_table = f"{catalog}.manifest"

    def manifest(self):
        if not self.spark.catalog.tableExists(self.manifest_table):
            return None
        return self.spark.table(self.manifest_table)

    def write_buckets(self, out, buckets: list[int]) -> None:
        # atomically replaces the bucket partitions present in ``out``: the
        # snapshot swap is the commit, so no stale half-written bucket can
        # exist and the parquet sink's pre-delete is not needed
        if self.spark.catalog.tableExists(self.spans):
            out.writeTo(self.spans).overwritePartitions()
        else:
            out.writeTo(self.spans).partitionedBy(F.col("bucket")).create()

    def read_buckets(self, buckets: list[int]):
        return self.spark.table(self.spans).where(F.col("bucket").isin(buckets))

    def append_manifest(self, rows) -> None:
        if self.spark.catalog.tableExists(self.manifest_table):
            rows.writeTo(self.manifest_table).append()
        else:
            rows.writeTo(self.manifest_table).create()
