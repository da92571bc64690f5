"""End-to-end Spark pipeline tests: span-sequence equality vs the oracle
table, resume idempotency, skew handling, deterministic parallelism."""

import os
import shutil
import subprocess
import sys

import pytest

from conftest import REPO

pyspark = pytest.importorskip("pyspark")
from pyspark.sql import SparkSession, functions as F  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from ocr_spark.pipeline.job import configure

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("ocr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    s = configure(builder).getOrCreate()
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "synth.py"), "--scale", "tiny", "--out", out],
        check=True,
    )
    return out


def _spans_set(df):
    return {
        (r.doc_id, r.ord, r.kind, r.text, r.media_ref)
        for r in df.select("doc_id", "ord", "kind", "text", "media_ref").collect()
    }


def test_scan_width_probe_skips_wide_splittable_scans(spark, corpus):
    """Regression pin for the round-3 scaling bug: a SINGLE parquet file
    whose size spans many maxPartitionBytes splits must be treated as a
    wide scan (no pre-UDF doc_id repartition — that redundant shuffle cost
    the 32-core scaling leg ~half its throughput), while a genuinely
    narrow scan must still repartition."""
    import io
    from contextlib import redirect_stdout

    from ocr_spark.pipeline.job import extract_spans, read_documents, read_media

    docs = read_documents(spark, corpus)
    media = read_media(spark, corpus)

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny split size -> the one corpus file counts as many splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        wide = plan_of(extract_spans(docs, media, partitions=4))
        # huge split size -> the same file is genuinely a 1-wide scan
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1073741824")
        narrow = plan_of(extract_spans(docs, media, partitions=4))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert "hashpartitioning(doc_id" not in wide
    assert "hashpartitioning(doc_id" in narrow


def test_extraction_span_equality(spark, corpus, tmp_path):
    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "out")
    metrics = extract(spark, corpus, out_dir, buckets=4)
    assert metrics["buckets_done"] == 4

    got = _spans_set(read_output(spark, out_dir))
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected  # (kind, text, media_ref, order) per doc, 100%


def test_one_data_file_per_bucket(spark, corpus, tmp_path):
    """The write shuffle hashes on the bucket alone, so each bucket's rows
    land in one task and its dir holds exactly one data file."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out_files")
    extract(spark, corpus, out_dir, buckets=4)
    for b in range(4):
        files = [
            f for f in os.listdir(f"{out_dir}/spans/bucket={b}")
            if not f.startswith((".", "_"))
        ]
        assert len(files) == 1, (b, files)


def test_extraction_with_interleaved_pdf_spans(spark, tmp_path):
    """Three-kind interleaving: text spans -> stripper, media spans -> OCR,
    pdf spans -> PDF parser, reassembled with exact span equality. PDFs are
    parsed once per distinct ref and joined back, like the OCR branch."""
    import pyarrow.parquet as pq

    from ocr_spark.fixtures import synthesize, synthesize_pdfs
    from ocr_spark.pipeline.job import configure, extract_spans, read_documents, read_media

    corpus = str(tmp_path / "pdf_corpus")
    os.makedirs(corpus)
    n_pdfs = 12
    documents, media, expected = synthesize(
        40, 20, seed=77, n_pdfs=n_pdfs, pdf_p=0.3
    )
    pdf_tbl, _ = synthesize_pdfs(n_pdfs, seed=77)
    pq.write_table(documents, os.path.join(corpus, "documents.parquet"))
    pq.write_table(media, os.path.join(corpus, "media.parquet"))
    pq.write_table(expected, os.path.join(corpus, "expected_spans.parquet"))
    pq.write_table(pdf_tbl, os.path.join(corpus, "pdfs.parquet"))

    configure(spark)
    docs = read_documents(spark, corpus)
    media_df = read_media(spark, corpus)
    pdfs_df = spark.read.parquet(f"{corpus}/pdfs.parquet")
    got = _spans_set(extract_spans(docs, media_df, pdfs=pdfs_df))
    expected_set = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected_set
    assert any(k == "pdf" for _, _, k, _, _ in got)  # pdf branch exercised

    # the full job auto-wires pdfs.parquet: pdf spans must survive extract()
    # (a silent drop here would undercount the manifest and break parity)
    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "pdf_out")
    extract(spark, corpus, out_dir, buckets=2)
    assert _spans_set(read_output(spark, out_dir)) == expected_set


def test_resume_is_idempotent(spark, corpus, tmp_path):
    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "out_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        extract(spark, corpus, out_dir, buckets=4, fail_after=2)

    # second run resumes: skips the two committed buckets, finishes the rest
    metrics = extract(spark, corpus, out_dir, buckets=4)
    assert metrics["buckets_skipped"] == 2
    assert metrics["buckets_done"] == 2

    got = read_output(spark, out_dir)
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert _spans_set(got) == expected  # no duplicates, no holes
    assert got.count() == len(expected)

    # manifest: every bucket committed exactly once
    m = spark.read.parquet(f"{out_dir}/_manifest")
    assert m.count() == 4
    assert m.where(F.col("status") == "committed").count() == 4
    assert m.agg(F.sum("span_count")).collect()[0][0] == len(expected)


def test_resume_from_unreadable_manifest_raises(spark, corpus, tmp_path):
    """An unreadable commit log is not an empty one: resuming from it must
    fail instead of silently rewriting every bucket."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out_corrupt")
    extract(spark, corpus, out_dir, buckets=4)
    manifest_dir = f"{out_dir}/_manifest"
    part = sorted(f for f in os.listdir(manifest_dir) if f.endswith(".parquet"))[0]
    with open(os.path.join(manifest_dir, part), "wb") as f:
        f.write(b"not a parquet file" * 8)

    with pytest.raises(Exception, match="_manifest"):
        extract(spark, corpus, out_dir, buckets=4, resume=True)


def test_rerun_after_partial_write_no_dupes(spark, corpus, tmp_path):
    """Kill between parquet write and manifest commit -> bucket rewritten."""
    from ocr_spark.pipeline.job import extract, extract_spans, read_documents, read_media, read_output

    out_dir = str(tmp_path / "out_partial")
    # simulate a half-written bucket: write bucket 1's data without manifest
    docs = read_documents(spark, corpus)
    media = read_media(spark, corpus)
    subset = docs.where(F.crc32(F.col("doc_id")) % 4 == 1)
    extract_spans(subset, media).write.mode("overwrite").parquet(f"{out_dir}/spans/bucket=1")

    extract(spark, corpus, out_dir, buckets=4)
    got = read_output(spark, out_dir)
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert _spans_set(got) == expected
    assert got.count() == len(expected)


def test_skewed_corpus(spark, tmp_path_factory, tmp_path):
    """3 hot docs with 500-1000 media spans must not break span equality."""
    from ocr_spark.pipeline.job import extract, read_output

    corpus = str(tmp_path_factory.mktemp("corpus_skew"))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "synth.py"),
            "--scale",
            "tiny",
            "--n-docs",
            "20",
            "--skew",
            "--out",
            corpus,
        ],
        check=True,
    )
    out_dir = str(tmp_path / "out_skew")
    extract(spark, corpus, out_dir, buckets=2)
    got = _spans_set(read_output(spark, out_dir))
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected


def test_edge_cases_dangling_ref_and_empty_docs(spark, tmp_path):
    """Robustness: a media span whose ref is missing from the media table
    yields a null-text span (left join semantics); docs with empty span
    arrays disappear from output without failing the job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract_spans, read_documents, read_media

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    docs_t = pa.table({
        "doc_id": ["d-empty", "d-dangling", "d-nulltext"],
        "spans": pa.array(
            [
                [],
                [{"kind": "media", "text": None, "media_ref": "pg-nope", "offset": 0}],
                [{"kind": "text", "text": None, "media_ref": None, "offset": 0}],
            ],
            type=pa.list_(span_type),
        ),
    })
    media_t = pa.table({
        "media_ref": pa.array([], pa.string()),
        "width": pa.array([], pa.int32()),
        "height": pa.array([], pa.int32()),
        "png": pa.array([], pa.binary()),
        "truth": pa.array([], pa.string()),
    })
    d = str(tmp_path / "edge")
    os.makedirs(d)
    pq.write_table(docs_t, f"{d}/documents.parquet")
    pq.write_table(media_t, f"{d}/media.parquet")

    out = extract_spans(read_documents(spark, d), read_media(spark, d)).collect()
    rows = {(r.doc_id, r.ord, r.kind, r.text, r.media_ref) for r in out}
    assert rows == {
        ("d-dangling", 0, "media", None, "pg-nope"),
        ("d-nulltext", 0, "text", None, None),
    }
