"""Replicates the driver's correctness gate: every ``__spark_entry__``
query runs on Spark and its ``oracle_sql`` twin on DuckDB over the same
parquet tables; row count, column names and exact values must match.

Default scale sf0.001 for speed; set OCR_SPARK_ORACLE_SF=/root/testdata/sf0.01
to rehearse the exact driver configuration.
"""

import importlib
import math
import os

import pytest

from conftest import REPO  # noqa: F401  (sys.path side effect)

pyspark = pytest.importorskip("pyspark")
duckdb = pytest.importorskip("duckdb")

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("OCR_SPARK_ORACLE_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("oracle-parity")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(df):
    """Sort columns by name, then rows by all columns — the driver's
    order-insensitive compare."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _assert_equal(name, spark_pdf, duck_pdf):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r} (diff {abs(x - y)})"
            else:
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"


ORACLE_NAMES = sorted(entrymod.oracle_sql())

# queries whose CORRECT answer is zero rows at test scale; every other
# oracle match must be non-vacuous (a 0==0 pass hides a broken predicate,
# e.g. a filter constant that matches nothing in the data)
EXPECTED_EMPTY = {"dedup_exact", "nations_except"}


def test_oracle_covers_queries():
    """Bidirectional registry/oracle coverage (VERDICT r04 #7): an oracle
    without a query is dead SQL; a query without an oracle silently drops to
    the driver's weaker rows-only check. Every genuinely non-SQL-expressible
    op must be listed here explicitly (none exist today)."""
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert not o - q, f"oracle_sql keys without queries(): {o - q}"
    assert not q - o, f"queries() keys without oracle_sql twin: {q - o}"


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    if name not in EXPECTED_EMPTY:
        assert len(spark_pdf) > 0, f"{name}: vacuous oracle match (0 rows)"
    _assert_equal(name, spark_pdf, duck_pdf)


# (query, operator module, constant, patched value): the registry and its
# DuckDB twin both read the constant from the operator module when they run,
# so a changed value moves both sides together
ONE_HOME = [
    ("minhash_signatures", "dedup", "MINHASH_BANDS", 6),
    ("winnow_fingerprints", "dedup", "WINNOW_WINDOW", 6),
    ("ngram_jaccard", "dedup", "SHINGLE_WORDS", 2),
    ("emb_cosine_topk", "similarity", "K", 5),
    ("emb_near_dups_lsh", "similarity", "N_BANDS", 2),
    ("emb_ivf_topk", "similarity", "IVF_CLUSTERS", 8),
    ("events_sessionize", "events", "SESSION_GAP_US", 10 * 60 * 1_000_000),
    ("events_range_clicks", "events", "SESSION_GAP_US", 10 * 60 * 1_000_000),
    ("top_parts_per_type", "relational", "TOP_PARTS_K", 5),
    ("doc_split_counts", "sampling", "SPLIT_WEIGHTS", {"train": 0.5, "val": 0.3, "test": 0.2}),
]


@pytest.mark.parametrize(
    "name, module, const, value", ONE_HOME, ids=[f"{n}-{c}" for n, _m, c, _v in ONE_HOME]
)
def test_oracle_reads_operator_constants(spark, duck, monkeypatch, name, module, const, value):
    mod = importlib.import_module(f"ocr_spark.functions.{module}")
    assert getattr(mod, const) != value
    before = _canon(duck.execute(entrymod.oracle_sql()[name]).fetchdf())
    monkeypatch.setattr(mod, const, value)
    spark_pdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(spark_pdf) > 0, f"{name}: vacuous oracle match (0 rows)"
    # the constant must decide the answer, or both sides could ignore it
    assert not before.equals(_canon(duck_pdf)), f"{name}: {const} changes nothing"
    _assert_equal(name, spark_pdf, duck_pdf)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["doc_id", "ord", "kind", "text", "media_ref"]


class _Recorder:
    """A stand-in builder that records what ``configure`` sets."""

    def __init__(self):
        self.conf = {}

    def config(self, k, v):
        self.conf[k] = v
        return self


def test_configure_sets_no_spark_sql_default(spark):
    """Every ``spark.sql.*`` key ``configure`` sets changes the session: its
    value differs from what the session reads once the key is unset."""
    from ocr_spark.pipeline.job import configure

    conf = {k: v for k, v in configure(_Recorder(), 3).conf.items() if k.startswith("spark.sql.")}
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        defaults = {}
        for k in conf:
            spark.conf.unset(k)
            defaults[k] = spark.conf.get(k)
        assert {k: v for k, v in conf.items() if v == defaults[k]} == {}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_registry_leaves_the_session_conf_alone(spark):
    """``entry`` and the OCR registry queries run on the caller's session as
    it was built: every key ``configure`` sets keeps its prior value."""
    from ocr_spark.pipeline.job import configure

    # the static keys (serializer, locality wait) cannot change at runtime
    conf = {
        k: {"true": "false", "false": "true"}.get(v) or str(int(v) + 1)
        for k, v in configure(_Recorder(), 3).conf.items()
        if spark.conf.isModifiable(k)
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        entrymod.entry(spark)
        for name in ("ocr_extract_spans", "ocr_extract_interleaved3"):
            entrymod.queries()[name](spark, SF_DIR)
        assert {k: spark.conf.get(k) for k in conf} == conf
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
