"""The --catalog iceberg guard (VERDICT r04 #9): no Spark session needed —
the whole point is that the failure happens BEFORE session spin-up, with
actionable swap instructions. The Iceberg commit path itself runs last, on a
local session against a stubbed ``writeTo`` chain and table catalog."""

import os

import pytest

from conftest import REPO  # noqa: F401


def test_no_iceberg_runtime_in_this_container(monkeypatch):
    from ocr_spark.pipeline.catalog import iceberg_runtime_jars

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    assert iceberg_runtime_jars() == []


def test_require_iceberg_raises_with_swap_instructions(monkeypatch):
    from ocr_spark.pipeline.catalog import IcebergUnavailable, require_iceberg

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    with pytest.raises(IcebergUnavailable) as exc:
        require_iceberg()
    msg = str(exc.value)
    # the message must be a usable recipe, not just a refusal
    assert "--packages org.apache.iceberg:iceberg-spark-runtime" in msg
    assert "spark.sql.catalog.ocr=org.apache.iceberg.spark.SparkCatalog" in msg
    assert "warehouse" in msg
    assert "--catalog iceberg" in msg


def test_require_iceberg_passes_when_jar_staged(monkeypatch, tmp_path):
    from ocr_spark.pipeline.catalog import require_iceberg

    jar = tmp_path / "iceberg-spark-runtime-4.0_2.13-1.10.0.jar"
    jar.write_bytes(b"PK")  # detection is by name, same as Spark's classpath glob
    monkeypatch.setenv("OCR_SPARK_ICEBERG_JARS_DIR", str(tmp_path))
    assert str(jar) in require_iceberg()


def test_configure_iceberg_puts_staged_jars_on_the_classpath(monkeypatch, tmp_path):
    """A jar that passed the guard from a non-default location must reach
    spark.jars — otherwise the guard passes and the JVM still dies later
    with ClassNotFoundException."""
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.catalog import configure_iceberg

    b = SparkSession.builder
    jar = str(tmp_path / "iceberg-spark-runtime-4.0_2.13-1.10.0.jar")
    configure_iceberg(b, "file:///tmp/wh", "ocr", jars=[jar])
    opts = b._options
    assert opts["spark.jars"] == jar
    assert opts["spark.sql.catalog.ocr"] == "org.apache.iceberg.spark.SparkCatalog"
    assert opts["spark.sql.catalog.ocr.warehouse"] == "file:///tmp/wh"


def test_cli_catalog_iceberg_fails_fast(monkeypatch, tmp_path):
    """The CLI must raise the guard error before building any session (this
    test stays sub-second precisely because no JVM ever starts)."""
    from ocr_spark.cli import main
    from ocr_spark.pipeline.catalog import IcebergUnavailable

    monkeypatch.delenv("OCR_SPARK_ICEBERG_JARS_DIR", raising=False)
    with pytest.raises(IcebergUnavailable):
        main([
            "extract",
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--catalog", "iceberg",
        ])


class _FakeIceberg:
    """In-memory stand-in for an Iceberg catalog: tables by name, plus a log
    of every ``writeTo(...)`` chain that ran against them."""

    def __init__(self):
        self.tables = {}
        self.calls = []

    def writer(self, df, name):
        return _FakeWriter(self, df.localCheckpoint(), name)


class _FakeWriter:
    def __init__(self, cat, df, name):
        self.cat, self.df, self.name = cat, df, name

    def partitionedBy(self, col, *cols):
        self.cat.calls.append((self.name, "partitionedBy", str(col)))
        return self

    def create(self):
        assert self.name not in self.cat.tables
        self.cat.calls.append((self.name, "create"))
        self.cat.tables[self.name] = self.df

    def append(self):
        self.cat.calls.append((self.name, "append"))
        self.cat.tables[self.name] = self.cat.tables[self.name].unionByName(self.df)

    def overwritePartitions(self):
        from pyspark.sql import functions as F

        self.cat.calls.append((self.name, "overwritePartitions"))
        new = [r.bucket for r in self.df.select("bucket").distinct().collect()]
        kept = self.cat.tables[self.name].where(~F.col("bucket").isin(new))
        self.cat.tables[self.name] = kept.unionByName(self.df)


def test_iceberg_sink_commits_through_writeto(monkeypatch, tmp_path):
    """extract(catalog=...) end to end on the Iceberg sink: the first wave
    creates both tables (spans partitioned by bucket), the resumed run reads
    its committed set from the manifest table, overwrites the span
    partitions of its own wave and appends to the manifest."""
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from ocr_spark.fixtures import synthesize
    from ocr_spark.pipeline.job import configure, extract

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    documents, media, expected = synthesize(16, 8, seed=3)
    pq.write_table(documents, os.path.join(corpus, "documents.parquet"))
    pq.write_table(media, os.path.join(corpus, "media.parquet"))

    spark = configure(
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    try:
        cat = _FakeIceberg()
        monkeypatch.setattr(type(spark.range(1)), "writeTo", lambda df, name: cat.writer(df, name))
        monkeypatch.setattr(
            type(spark.catalog), "tableExists", lambda self, name: name in cat.tables
        )
        monkeypatch.setattr(type(spark), "table", lambda self, name: cat.tables[name])

        out = str(tmp_path / "out")
        with pytest.raises(RuntimeError, match="injected failure"):
            extract(spark, corpus, out, buckets=4, fail_after=2, catalog="ocr")
        assert cat.calls[0][:2] == ("ocr.spans", "partitionedBy")
        assert "bucket" in cat.calls[0][2]
        assert cat.calls[1:] == [("ocr.spans", "create"), ("ocr.manifest", "create")]

        del cat.calls[:]
        metrics = extract(spark, corpus, out, buckets=4, catalog="ocr")
        assert metrics["buckets_skipped"] == 2 and metrics["buckets_done"] == 2
        assert cat.calls == [("ocr.spans", "overwritePartitions"), ("ocr.manifest", "append")]

        cols = ["doc_id", "ord", "kind", "text", "media_ref"]
        got = {tuple(r) for r in cat.tables["ocr.spans"].select(*cols).collect()}
        want = set(zip(*(expected.column(c).to_pylist() for c in cols)))
        assert got == want
        manifest = cat.tables["ocr.manifest"]
        assert sorted(r.partition_id for r in manifest.collect()) == [0, 1, 2, 3]
        assert not os.path.exists(out)  # nothing went through the parquet sink
    finally:
        spark.stop()
