"""End-to-end Spark pipeline tests: span-sequence equality vs the oracle
table, resume idempotency, skew handling, deterministic parallelism, streaming
extraction."""

import os
import shutil
import subprocess
import sys
import time

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


def _files(d):
    """Every file under ``d``, by path, with its bytes."""
    return {p: p.read_bytes() for p in d.rglob("*") if p.is_file()}


def _plan_of(df, mode="simple"):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_width_probe_skips_wide_splittable_scans(spark, corpus):
    """Regression pin for the round-3 scaling bug: a SINGLE parquet file
    whose size spans many maxPartitionBytes splits must be treated as a
    wide scan (no pre-UDF doc_id repartition — that redundant shuffle cost
    the 32-core scaling leg ~half its throughput), while a genuinely
    narrow scan must still repartition."""
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    docs = read_documents(spark, corpus)
    blobs = read_blobs(spark, corpus)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny split size -> the one corpus file counts as many splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
        wide = _plan_of(extract_spans(docs, blobs), "formatted")
        # huge split size -> the same file is genuinely a 1-wide scan
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        narrow = _plan_of(extract_spans(docs, blobs), "formatted")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert "hashpartitioning(doc_id" not in wide
    assert "hashpartitioning(doc_id" in narrow


def test_blob_semi_join_builds_one_broadcast(spark, corpus):
    """The semi-join that picks the referenced blobs is keyed on media_ref
    alone, so the media and the pdf branch of the blob union build the same
    broadcast: the executed plan holds one BroadcastExchange, one
    ReusedExchange of it, and 3 documents scans (text route, blob route,
    broadcast build) on a scan wide enough to need no doc repartition."""
    import re

    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
        df = extract_spans(read_documents(spark, corpus), read_blobs(spark, corpus))
        df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert len(re.findall(r"\+- BroadcastExchange", plan)) == 1, plan
    assert len(re.findall(r"\+- ReusedExchange", plan)) == 1, plan
    assert plan.count("documents.parquet") == 3, plan


def test_extraction_span_equality(spark, corpus, tmp_path):
    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "out")
    metrics = extract(spark, corpus, out_dir, buckets=4)
    assert metrics["buckets_done"] == 4

    got = _spans_set(read_output(spark, out_dir))
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected  # (kind, text, media_ref, order) per doc, 100%


def test_committed_manifest_reads_back_as_manifest_schema(spark, corpus, tmp_path):
    """The commit log read with no schema has schemas.MANIFEST's field
    names and types, in order, and its parquet files declare every field
    required: an Iceberg manifest table created from them has a required
    partition_id, and Spark refuses to append nullable values to it. Each
    row's committed_at is a UTC time with a ``Z`` suffix."""
    import glob

    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract
    from ocr_spark.schemas import MANIFEST

    out_dir = str(tmp_path / "out")
    extract(spark, corpus, out_dir, buckets=2)
    log = spark.read.parquet(f"{out_dir}/_manifest")
    assert [(f.name, f.dataType) for f in log.schema] == [(f.name, f.dataType) for f in MANIFEST]
    for r in log.collect():
        time.strptime(r.committed_at, "%Y-%m-%dT%H:%M:%SZ")  # raises without the Z
    files = glob.glob(f"{out_dir}/_manifest/*.parquet")
    assert files
    for f in files:
        assert [fld.name for fld in pq.read_schema(f) if fld.nullable] == [], f


def test_extract_rejects_fewer_than_one_bucket(spark, corpus, tmp_path):
    """buckets=0 would leave no bucket to write: extract refuses it instead
    of reporting a run that committed nothing."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out")
    for n in (0, -1):
        with pytest.raises(ValueError, match="buckets"):
            extract(spark, corpus, out_dir, buckets=n)
    assert not os.path.exists(out_dir)


def test_extract_leaves_partition_overwrite_mode_alone(spark, corpus, tmp_path):
    """The span write sets no session conf: the session keeps its
    partition overwrite mode, so a caller's later static overwrite still
    replaces every partition."""
    from ocr_spark.pipeline.job import extract

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    extract(spark, corpus, str(tmp_path / "out"), buckets=2)
    assert spark.conf.get(key) == "STATIC"

    mine = str(tmp_path / "mine")
    spark.range(2).withColumn("p", F.col("id")).write.partitionBy("p").parquet(mine)
    spark.range(1).withColumn("p", F.col("id")).write.mode("overwrite").partitionBy("p").parquet(mine)
    assert [r.p for r in spark.read.parquet(mine).collect()] == [0]


def test_stream_extract_matches_batch_oracle(spark, corpus, tmp_path):
    """Streaming extraction over two files that arrive one after the other
    yields exactly the oracle's spans. The first file is drained, then the
    second arrives and a restart on the same checkpoint picks it up. Each
    micro-batch commits as one bucket numbered by its batch id, with one
    manifest row whose counts and checksum describe that bucket's spans,
    and a restart with no new file adds no span and no manifest row. A
    batch resume over the stream's dir refuses to start and leaves every
    file byte-identical."""
    import zlib

    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract, read_output, stream_extract

    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    t = pq.read_table(os.path.join(corpus, "documents.parquet"))
    n = t.num_rows

    # each micro-batch replaces only its own bucket dir (delete, then
    # append): the session's overwrite mode stays as the caller set it
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    out_dir = str(tmp_path / "out")
    # two "arriving" files, each drained by its own run: micro-batches 0, 1
    for part, rows in enumerate((t.slice(0, n // 2), t.slice(n // 2))):
        pq.write_table(rows, os.path.join(stream_dir, f"part-{part}.parquet"))
        q = stream_extract(spark, stream_dir, corpus, out_dir, str(tmp_path / "ckpt"))
        q.awaitTermination(300)

    got = read_output(spark, out_dir)
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert _spans_set(got) == expected

    by_bucket = {}
    for r in got.collect():
        by_bucket.setdefault(r.bucket, []).append(r)
    assert sorted(by_bucket) == [0, 1]  # one bucket per arriving file
    manifest = [
        (r.run_id, r.partition_id, r.doc_count, r.span_count, r.media_count, r.checksum, r.buckets)
        for r in spark.read.parquet(f"{out_dir}/_manifest").collect()
    ]
    assert sorted(manifest) == [
        (
            "stream", b,
            len({r.doc_id for r in rows}),
            len(rows),
            sum(r.kind == "media" for r in rows),
            str(sum(zlib.crc32(f"{r.doc_id}\x1f{r.ord}\x1f{r.text or ''}".encode())
                    for r in rows)),
            0,
        )
        for b, rows in sorted(by_bucket.items())
    ]

    # restart with no new files: no duplicates (checkpoint resume)
    q2 = stream_extract(
        spark, stream_dir, corpus, out_dir, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert read_output(spark, out_dir).count() == len(expected)
    assert spark.read.parquet(f"{out_dir}/_manifest").count() == len(manifest)
    assert spark.conf.get(key) == "STATIC"

    # its buckets are micro-batch ids: resuming them as doc buckets would
    # skip buckets 0 and 1 and keep the stream's spans
    before = _files(tmp_path / "out")
    with pytest.raises(ValueError, match="stream_extract"):
        extract(spark, corpus, out_dir)
    assert _files(tmp_path / "out") == before


def test_batch_run_named_stream_resumes(spark, corpus, tmp_path):
    """``stream`` is a run id like any other: what marks an output dir as
    the stream's is the bucket count its manifest rows record (0), so a
    batch run named ``stream`` commits and its rerun resumes."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out")
    assert extract(spark, corpus, out_dir, run_id="stream", buckets=2)["buckets_done"] == 2
    again = extract(spark, corpus, out_dir, run_id="stream", buckets=2)
    assert (again["buckets_skipped"], again["buckets_done"]) == (2, 0)


def test_stream_refuses_a_batch_output_dir(spark, corpus, tmp_path):
    """stream_extract does not start on a dir a batch extract committed:
    its first micro-batch, bucket 0, would replace the batch's bucket 0
    under a manifest row that still describes the rows it deleted. Every
    file of the batch's output stays byte-identical."""
    from ocr_spark.pipeline.job import extract, stream_extract

    out = tmp_path / "out"
    extract(spark, corpus, str(out), buckets=4)
    before = _files(out)
    assert any("bucket=0" in str(p) for p in before)
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    shutil.copy(os.path.join(corpus, "documents.parquet"), stream_dir)
    with pytest.raises(ValueError, match="holds extract output"):
        stream_extract(spark, str(stream_dir), corpus, str(out), str(tmp_path / "ckpt"))
    assert _files(out) == before


def test_cli_extract_then_resume(corpus, tmp_path):
    """``ocr_spark.cli extract`` end to end, run three times on one output
    dir in one process: the first run commits every expected span, the
    rerun finds every bucket committed and writes nothing, and a third run
    with ``--buckets 4`` over the 8-bucket dir exits non-zero, naming both
    counts, and leaves the commit log as it was."""
    import json

    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "out")
    argv = ["extract", "--input", corpus, "--output", out_dir]
    other = argv + ["--buckets", "4"]
    script = f"from ocr_spark.cli import main; main({argv!r}); main({argv!r}); main({other!r})"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True, text=True,
        timeout=600,
        env=dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell"),
    )
    assert proc.returncode != 0
    assert "holds extract output in 8 buckets; extract with 4 buckets" in proc.stderr, (
        proc.stderr[-4000:]
    )
    first, second = (
        json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")
    )
    assert first["spans"] == pq.read_metadata(f"{corpus}/expected_spans.parquet").num_rows
    assert second["buckets_skipped"] == second["buckets_total"]
    assert second["spans"] == 0
    log = pq.read_table(f"{out_dir}/_manifest")
    assert sorted(log["partition_id"].to_pylist()) == list(range(8))
    assert set(log["buckets"].to_pylist()) == {8}


def test_one_data_file_per_bucket(spark, corpus, tmp_path):
    """The write shuffle sends each bucket to its own task, so each
    bucket's dir holds exactly one data file and no two buckets share a
    writer (the ``part-NNNNN`` task number in the file names)."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out_files")
    extract(spark, corpus, out_dir, buckets=4)
    tasks = []
    for b in range(4):
        files = [
            f for f in os.listdir(f"{out_dir}/spans/bucket={b}")
            if not f.startswith((".", "_"))
        ]
        assert len(files) == 1, (b, files)
        tasks.append(files[0].split("-")[1])
    assert len(set(tasks)) == 4, tasks


def test_tiny_extract_job_count_is_bounded(spark, corpus, tmp_path):
    """One extract of the tiny corpus runs at most 10 Spark jobs (24
    stages on a 4-core host). A change that adds jobs to the fixed cost of
    every extract fails here; one that removes jobs lowers the bound."""
    from ocr_spark.pipeline.job import extract

    sc = spark.sparkContext
    group = "tiny-extract-job-count"
    sc.setJobGroup(group, "job count of one tiny extract")
    try:
        extract(spark, corpus, str(tmp_path / "out"), buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    assert len(jobs) <= 10, f"{len(jobs)} jobs, {len(stages)} stages"


def test_stream_micro_batch_job_count_is_bounded(spark, corpus, tmp_path):
    """One stream_extract micro-batch over the tiny corpus runs at most 10
    Spark jobs (24 stages on a 4-core host), as a batch extract does: the
    stream's thread runs every job of its run under the job group of its
    run id."""
    from ocr_spark.pipeline.job import stream_extract

    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    shutil.copy(os.path.join(corpus, "documents.parquet"), stream_dir)
    q = stream_extract(spark, stream_dir, corpus, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] == 0  # one micro-batch
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    assert 0 < len(jobs) <= 10, f"{len(jobs)} jobs, {len(stages)} stages"


def test_fully_committed_rerun_is_one_job(spark, corpus, tmp_path):
    """A rerun that finds every bucket committed runs one Spark job, the
    manifest read, and writes nothing."""
    from ocr_spark.pipeline.job import extract

    out_dir = str(tmp_path / "out")
    extract(spark, corpus, out_dir, buckets=4)
    sc = spark.sparkContext
    group = "committed-rerun-job-count"
    sc.setJobGroup(group, "job count of a fully committed rerun")
    try:
        again = extract(spark, corpus, out_dir, buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (again["buckets_skipped"], again["spans"]) == (4, 0)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, f"{len(jobs)} jobs"


def test_extraction_with_interleaved_pdf_spans(spark, tmp_path):
    """Three-kind interleaving: text spans -> stripper, media spans -> OCR,
    pdf spans -> PDF parser, reassembled with exact span equality. Media
    pages and pdfs share one route: one salt shuffle, one blob->text UDF
    run once per distinct (ref, kind) and one join-back."""
    import pyarrow.parquet as pq

    from ocr_spark.fixtures import synthesize, synthesize_pdfs
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

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

    spans = extract_spans(read_documents(spark, corpus), read_blobs(spark, corpus))
    got = _spans_set(spans)
    expected_set = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected_set
    assert any(k == "pdf" for _, _, k, _, _ in got)  # pdf branch exercised

    # plan shape: one salt shuffle for both blob kinds, no distinct
    # aggregate ahead of it (a semi-join), and two Python UDF nodes
    # (stripper + blob->text) — not one route per blob kind
    plan = _plan_of(spans)
    assert plan.count("hashpartitioning(_salt") == 1, plan
    assert "HashAggregate" not in plan, plan
    assert plan.count("ArrowEvalPython") == 2, plan

    # the full job auto-wires pdfs.parquet: pdf spans must survive extract()
    # (a silent drop here would undercount the manifest and break parity)
    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "pdf_out")
    extract(spark, corpus, out_dir, buckets=2)
    assert _spans_set(read_output(spark, out_dir)) == expected_set


def test_resume_is_idempotent(spark, corpus, tmp_path):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "out_resume")
    extract(spark, corpus, out_dir, buckets=4)
    # a run killed after committing buckets 0 and 1: the spans of 2 and 3
    # are on disk, but the commit log has no row for them
    manifest_dir = f"{out_dir}/_manifest"
    log = pq.read_table(manifest_dir).filter(pc.field("partition_id") < 2)
    shutil.rmtree(manifest_dir)
    os.makedirs(manifest_dir)
    # a commit log from before rows recorded their bucket count is refused
    pq.write_table(
        log.drop_columns(["buckets"]).append_column("status", pa.array(["committed"] * 2)),
        f"{manifest_dir}/part-0.parquet",
    )
    with pytest.raises(ValueError, match="records no bucket count"):
        extract(spark, corpus, out_dir, buckets=4)
    pq.write_table(log, f"{manifest_dir}/part-0.parquet")

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
    assert m.where(F.col("buckets") == 4).count() == 4
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
        extract(spark, corpus, out_dir, buckets=4)


def test_rerun_after_partial_write_no_dupes(spark, corpus, tmp_path):
    """Kill between parquet write and manifest commit -> bucket rewritten."""
    from ocr_spark.pipeline.job import extract, extract_spans, read_blobs, read_documents, read_output

    out_dir = str(tmp_path / "out_partial")
    # simulate a half-written bucket: write bucket 1's data without manifest
    docs = read_documents(spark, corpus)
    subset = docs.where(F.crc32(F.col("doc_id")) % 4 == 1)
    extract_spans(subset, read_blobs(spark, corpus)).write.mode("overwrite").parquet(f"{out_dir}/spans/bucket=1")

    extract(spark, corpus, out_dir, buckets=4)
    got = read_output(spark, out_dir)
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert _spans_set(got) == expected
    assert got.count() == len(expected)


def test_rerun_after_write_killed_before_job_commit_no_dupes(spark, corpus, tmp_path):
    """Kill between task commit and job commit: the committer left a
    committed task's files under spans/_temporary. The rewrite of that
    bucket must not merge them in as duplicates."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract, read_output

    out_dir = str(tmp_path / "out_killed")
    extract(spark, corpus, out_dir, buckets=4)
    part = next(f for f in os.listdir(f"{out_dir}/spans/bucket=1") if f.endswith(".parquet"))
    task_dir = f"{out_dir}/spans/_temporary/0/task_202601010000_0001_m_000001/bucket=1"
    os.makedirs(task_dir)
    shutil.copy(f"{out_dir}/spans/bucket=1/{part}", f"{task_dir}/part-00001-killed.c000.parquet")
    manifest_dir = f"{out_dir}/_manifest"
    log = pq.read_table(manifest_dir)
    shutil.rmtree(manifest_dir)
    os.makedirs(manifest_dir)
    pq.write_table(log.filter(pc.field("partition_id") != 1), f"{manifest_dir}/part-0.parquet")

    assert extract(spark, corpus, out_dir, buckets=4)["buckets_done"] == 1
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
    """Robustness: a media or pdf span whose ref is missing from its table
    yields a null-text span (left join semantics), as does a null pdf blob,
    a null png blob or a pdf with no text; a blank page reads as "", and one
    page's bytes under two refs read the same in the OCR UDF's Arrow batch;
    a ref string present in both the media and the pdf table reads each
    kind's own blob; docs with empty span arrays disappear from output
    without failing the job."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.pdf import build_pdf
    from ocr_spark.png import encode_gray
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    pdf_refs = ["pdf-blank", "pdf-null", "pdf-abc", "pdf-nope"]
    media_refs = ["pg-null", "pg-blank", "pg-a", "pg-a2"]
    docs_t = pa.table({
        "doc_id": ["d-empty", "d-dangling", "d-nulltext", "d-pdf", "d-media", "d-shared"],
        "spans": pa.array(
            [
                [],
                [{"kind": "media", "text": None, "media_ref": "pg-nope", "offset": 0}],
                [{"kind": "text", "text": None, "media_ref": None, "offset": 0}],
                [{"kind": "pdf", "text": None, "media_ref": r, "offset": 0} for r in pdf_refs],
                [{"kind": "media", "text": None, "media_ref": r, "offset": 0} for r in media_refs],
                [{"kind": k, "text": None, "media_ref": "shared", "offset": 0}
                 for k in ("media", "pdf")],
            ],
            type=pa.list_(span_type),
        ),
    })
    pdfs_t = pa.table({
        "media_ref": pdf_refs[:3] + ["shared"],
        "pdf": pa.array(
            [build_pdf([[]]), None, build_pdf([["a", "b"], ["c"]]), build_pdf([["x", "y"]])],
            pa.binary(),
        ),
    })
    page = render_page(["Spark", "Extract"], load_glyphs())
    blank = np.full_like(page, 255)
    h, w = page.shape
    media_t = pa.table({
        "media_ref": media_refs + ["shared"],
        "width": pa.array([w] * 5, pa.int32()),
        "height": pa.array([h] * 5, pa.int32()),
        "png": pa.array(
            [None, encode_gray(blank)] + [encode_gray(page)] * 3, pa.binary()
        ),
        "truth": pa.array([None, ""] + ["Spark Extract"] * 3, pa.string()),
    })
    d = str(tmp_path / "edge")
    os.makedirs(d)
    pq.write_table(docs_t, f"{d}/documents.parquet")
    pq.write_table(media_t, f"{d}/media.parquet")
    pq.write_table(pdfs_t, f"{d}/pdfs.parquet")

    out = extract_spans(read_documents(spark, d), read_blobs(spark, d)).collect()
    rows = {(r.doc_id, r.ord, r.kind, r.text, r.media_ref) for r in out}
    assert rows == {
        ("d-dangling", 0, "media", None, "pg-nope"),
        ("d-nulltext", 0, "text", None, None),
        ("d-pdf", 0, "pdf", None, "pdf-blank"),
        ("d-pdf", 1, "pdf", None, "pdf-null"),
        ("d-pdf", 2, "pdf", "a b c", "pdf-abc"),
        ("d-pdf", 3, "pdf", None, "pdf-nope"),
        ("d-media", 0, "media", None, "pg-null"),
        ("d-media", 1, "media", "", "pg-blank"),
        ("d-media", 2, "media", "Spark Extract", "pg-a"),
        ("d-media", 3, "media", "Spark Extract", "pg-a2"),
        ("d-shared", 0, "media", "Spark Extract", "shared"),
        ("d-shared", 1, "pdf", "x y", "shared"),
    }


def test_blob_route_without_a_pdf_table(spark, tmp_path):
    """Every span whose kind is not text takes the blob route: in a corpus
    that ships no pdfs.parquet a pdf span reads as null text, and so does a
    span of a kind no blob table holds, even on a ref the media table has;
    a span with a null kind yields no row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.fixtures import load_glyphs, render_page
    from ocr_spark.png import encode_gray
    from ocr_spark.pipeline.job import extract_spans, read_blobs, read_documents

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    spans = [("media", None, "pg-a"), ("pdf", None, "pdf-a"), ("video", None, "pg-a"),
             ("video", None, "vid-a"), (None, "plain text here", "pg-a"),
             ("text", "plain text here", None)]
    page = render_page(["Spark"], load_glyphs())
    d = str(tmp_path / "no_pdfs")
    os.makedirs(d)
    pq.write_table(pa.table({
        "doc_id": ["d0"],
        "spans": pa.array(
            [[{"kind": k, "text": t, "media_ref": r, "offset": i}
              for i, (k, t, r) in enumerate(spans)]],
            type=pa.list_(span_type),
        ),
    }), f"{d}/documents.parquet")
    pq.write_table(pa.table({
        "media_ref": ["pg-a"],
        "width": pa.array([page.shape[1]], pa.int32()),
        "height": pa.array([page.shape[0]], pa.int32()),
        "png": pa.array([encode_gray(page)], pa.binary()),
    }), f"{d}/media.parquet")

    out = extract_spans(read_documents(spark, d), read_blobs(spark, d)).collect()
    assert {(r.ord, r.kind, r.text, r.media_ref) for r in out} == {
        (0, "media", "Spark", "pg-a"),
        (1, "pdf", None, "pdf-a"),
        (2, "video", None, "pg-a"),
        (3, "video", None, "vid-a"),
        (5, "text", "plain text here", None),
    }


def test_read_output_of_a_run_with_no_spans(spark, tmp_path):
    """A run whose docs all have empty or null span arrays commits no span
    rows; read_output still gives the output columns, with 0 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.pipeline.job import extract, read_output

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    d = str(tmp_path / "no_spans")
    os.makedirs(d)
    pq.write_table(
        pa.table({"doc_id": ["d-empty", "d-null"],
                  "spans": pa.array([[], None], type=pa.list_(span_type))}),
        f"{d}/documents.parquet",
    )
    pq.write_table(
        pa.table({"media_ref": pa.array([], pa.string()), "width": pa.array([], pa.int32()),
                  "height": pa.array([], pa.int32()), "png": pa.array([], pa.binary())}),
        f"{d}/media.parquet",
    )
    out_dir = str(tmp_path / "no_spans_out")
    assert extract(spark, d, out_dir, buckets=2)["buckets_done"] == 2
    got = read_output(spark, out_dir)
    assert got.columns == ["doc_id", "ord", "kind", "text", "media_ref", "bucket"]
    assert got.count() == 0
