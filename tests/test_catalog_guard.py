"""The ``extract --catalog NAME`` guard: ``extract(catalog=...)`` refuses,
with actionable swap instructions, unless the session can load the class its
catalog names, and it does so before it reads any input or runs a Spark job.
The CLI passes Spark's launch settings through to the session unchanged. The
Iceberg commit path itself runs last, on a local session against a stubbed
``writeTo`` chain and table catalog."""

import os
import subprocess
import sys

import pytest

from conftest import REPO


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import pyarrow.parquet as pq

    from ocr_spark.fixtures import synthesize

    out = str(tmp_path_factory.mktemp("corpus"))
    documents, media, expected = synthesize(16, 8, seed=3)
    pq.write_table(documents, os.path.join(out, "documents.parquet"))
    pq.write_table(media, os.path.join(out, "media.parquet"))
    return out, expected


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.job import configure

    s = configure(
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    yield s
    s.stop()


def test_require_iceberg_raises_with_swap_instructions(spark, corpus, tmp_path):
    """Without a loadable catalog class (the Iceberg class with no runtime
    jar here, or no catalog configured at all) extract raises with a usable
    recipe, before it runs a Spark job or writes anything."""
    from ocr_spark.pipeline.catalog import IcebergUnavailable
    from ocr_spark.pipeline.job import extract

    key = "spark.sql.catalog.ocr"
    sc = spark.sparkContext
    for plugin in ("org.apache.iceberg.spark.SparkCatalog", None):
        if plugin:
            spark.conf.set(key, plugin)
        group = f"iceberg-guard-{plugin}"
        sc.setJobGroup(group, "jobs of a refused iceberg extract")
        out = tmp_path / "out"
        try:
            with pytest.raises(IcebergUnavailable) as exc:
                extract(spark, corpus[0], str(out), catalog="ocr")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            spark.conf.unset(key)
        msg = str(exc.value)
        # the message must be a usable recipe, not just a refusal
        assert "--packages org.apache.iceberg:iceberg-spark-runtime" in msg
        assert "spark.sql.catalog.ocr=org.apache.iceberg.spark.SparkCatalog" in msg
        assert "warehouse" in msg
        assert "--catalog ocr" in msg
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], plugin
        assert not out.exists(), plugin


def _submit_env(*spark_args):
    """The environment of a ``python -m ocr_spark.cli`` subprocess whose
    session starts with ``spark_args`` as spark-submit arguments."""
    return dict(os.environ, PYSPARK_SUBMIT_ARGS=" ".join((*spark_args, "pyspark-shell")))


def test_cli_catalog_iceberg_fails_fast(tmp_path):
    """``extract --catalog NAME`` refuses when the session it starts cannot
    load the catalog's class (here no catalog is configured at all), before
    it reads its (here missing) input or writes anything. A subprocess,
    because ``main`` stops its session."""
    proc = subprocess.run(
        [sys.executable, "-m", "ocr_spark.cli", "extract", "--catalog", "ocr",
         "--input", str(tmp_path / "in")],
        cwd=REPO, capture_output=True, text=True, timeout=300,
        env=_submit_env("--master", "local[1]"),
    )
    assert proc.returncode != 0
    assert "IcebergUnavailable" in proc.stderr
    assert "--packages" in proc.stderr
    assert list(tmp_path.iterdir()) == []


def test_cli_passes_spark_submit_settings_through(tmp_path):
    """The CLI adds no Spark setting of its own: the master, the catalog's
    three properties and the shuffle partitions that the launch gave reach
    the session unchanged, and ``--catalog NAME`` names that catalog in
    place of an output dir. ``extract`` is replaced by a recorder, so no
    Iceberg runtime is needed. ``--output`` and ``--catalog`` together are
    a usage error."""
    import json

    from ocr_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(["extract", "--input", str(tmp_path), "--output", str(tmp_path / "out"),
              "--catalog", "ocr"])
    assert exc.value.code == 2

    launch = {
        "spark.sql.catalog.ocr": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.ocr.type": "rest",
        "spark.sql.catalog.ocr.warehouse": str(tmp_path / "wh"),
        "spark.sql.shuffle.partitions": "3",
    }
    script = f"""
import json
import ocr_spark.pipeline.job as job
from ocr_spark.cli import main

def record(spark, input_dir, output_dir, **kw):
    got = {{k: spark.conf.get(k) for k in {sorted(launch)!r}}}
    got.update(master=spark.sparkContext.master, output_dir=output_dir,
               catalog=kw["catalog"])
    print("RECORDED " + json.dumps(got))
    return {{}}

job.extract = record
main(["extract", "--input", {str(tmp_path)!r}, "--catalog", "ocr"])
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True, text=True,
        timeout=300,
        env=_submit_env("--master", "local[1]",
                        *(f"--conf {k}={v}" for k, v in launch.items())),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    (line,) = [ln for ln in proc.stdout.splitlines() if ln.startswith("RECORDED ")]
    got = json.loads(line[len("RECORDED "):])
    assert got == {**launch, "master": "local[1]", "output_dir": None, "catalog": "ocr"}


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


def test_iceberg_sink_commits_through_writeto(spark, corpus, monkeypatch, tmp_path):
    """extract(catalog=...) end to end on the Iceberg sink: the first run
    creates both tables (spans partitioned by bucket), the resumed run reads
    its committed set from the manifest table, overwrites the span
    partitions of its pending buckets and appends to the manifest. The
    catalog names a class Spark ships; the stubs below mean it is never
    instantiated."""
    from ocr_spark.pipeline.job import extract

    corpus, expected = corpus
    key = "spark.sql.catalog.ocr"
    spark.conf.set(key, "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    try:
        cat = _FakeIceberg()
        monkeypatch.setattr(type(spark.range(1)), "writeTo", lambda df, name: cat.writer(df, name))
        monkeypatch.setattr(
            type(spark.catalog), "tableExists", lambda self, name: name in cat.tables
        )
        monkeypatch.setattr(type(spark), "table", lambda self, name: cat.tables[name])

        out = str(tmp_path / "out")
        extract(spark, corpus, out, buckets=4, catalog="ocr")
        assert cat.calls[0][:2] == ("ocr.spans", "partitionedBy")
        assert "bucket" in cat.calls[0][2]
        assert cat.calls[1:] == [("ocr.spans", "create"), ("ocr.manifest", "create")]
        # a run killed after committing buckets 0 and 1
        cat.tables["ocr.manifest"] = cat.tables["ocr.manifest"].where("partition_id < 2")

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
        spark.conf.unset(key)
