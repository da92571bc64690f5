"""The extraction job: read -> explode -> route by cost class -> UDFs ->
reassemble -> bucketed idempotent commit.

Scale design (north rule: 10^12 docs, N vs 4N executors):

* Catalyst does the relational work: posexplode, kind routing, the
  media_ref semi-join and the (media_ref, kind) join-back (AQE, on by
  Spark's default, picks broadcast vs shuffle and splits skewed join
  partitions).
* Two cost classes are routed separately — text and blob. A blob span
  (a media page to OCR or a pdf to parse) costs ~10-100x a text span, so
  the two never share a task boundary. Every span whose kind is not
  ``text`` takes the one blob route: one blob table (``read_blobs``), one
  blob->text UDF, and null text for a span with no blob row.
* Skew defusal: the blob UDF runs once per distinct (media_ref, kind),
  hash-repartitioned on a full-cardinality crc32(media_ref) salt; a hot
  ref or a document with 10^3 media spans spreads over the whole cluster
  instead of stalling one task (AQE skew-join is the backstop for the
  join-back).
* Resume: the doc space is split into `buckets` by crc32(doc_id); each
  bucket's dir is deleted and rewritten (spans/bucket=K), and then the
  bucket commits one manifest row (lineage + metrics + checksum + bucket
  count). A rerun with the same count skips committed buckets and safely
  rewrites half-written ones — append-only Iceberg-style commit protocol
  on plain parquet.
* ``stream_extract`` runs the same plan per micro-batch of a directory of
  arriving documents files and commits each micro-batch as one bucket
  through the same ``commit_buckets`` path, with bucket count 0.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..schemas import DOCUMENTS, MANIFEST, MEDIA, OUTPUT_SPANS
from .udfs import make_ocr_udf, make_strip_udf

#: a span row as committed: the output schema plus its bucket partition
SPANS_WITH_BUCKET = T.StructType(
    OUTPUT_SPANS.fields + [T.StructField("bucket", T.IntegerType())]
)


def configure(builder, shuffle_partitions: int | None = None):
    """Engine settings on a ``SparkSession.Builder``, each one a change from
    Spark's default: a capped Arrow batch size so media batches (PNG blobs)
    bound worker memory, Kryo, no locality wait and 16 MB file splits. AQE
    with partition coalescing and skew-join is Spark's default and stays
    unset. A session is configured once, where it is built; the pipeline
    never rewrites a live one."""
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # single-node/local: never trade a task slot for locality
        "spark.locality.wait": "0s",
        # interleaved-doc rows are wide (HTML + media blobs): 16 MB splits
        # keep the scan wide enough to feed every core even from few files
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def read_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS).parquet(f"{input_dir}/documents.parquet")


def _hadoop_fs(spark: SparkSession, path: str):
    """(Path, FileSystem) for ``path`` via the Hadoop FS API — the one home
    for the jvm Path/getFileSystem incantation (works for any scheme)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return hpath, fs


def read_blobs(spark: SparkSession, input_dir: str) -> DataFrame:
    """The corpus's one blob table, ``(media_ref, kind, blob)``: every media
    page as kind ``media``, plus every pdf as kind ``pdf`` when the corpus
    ships a pdfs.parquet. A span whose (media_ref, kind) has no row here
    reads as null text (``extract_spans``)."""
    # never read the test-only `truth` column: explicit schema prunes it
    blobs = spark.read.schema(MEDIA).parquet(f"{input_dir}/media.parquet").select(
        "media_ref", F.lit("media").alias("kind"), F.col("png").alias("blob")
    )
    path = f"{input_dir}/pdfs.parquet"
    hpath, fs = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        blobs = blobs.unionByName(
            spark.read.schema("media_ref string, pdf binary").parquet(path)
            .select("media_ref", F.lit("pdf").alias("kind"), F.col("pdf").alias("blob"))
        )
    return blobs


def _scan_width_estimate(docs: DataFrame, need: int) -> int:
    """Upper-bounded estimate of the file scan's task width, from metadata
    only (no plan-to-RDD translation): sum over input files of
    ceil(size / maxPartitionBytes), stopping early once ``need`` is
    reached. A single large splittable parquet file correctly reports its
    split count — counting FILES here once cost the 8-core scaling leg
    ~25% by re-shuffling an already-30-way scan (round-3 regression).
    Returns 0 for non-file-backed inputs (unknown width). It sizes only the
    doc repartition; the OCR stage takes the salt exchange's width."""
    files = docs.inputFiles()
    if not files:
        return 0
    if len(files) >= need:
        return len(files)
    spark = docs.sparkSession
    try:
        # Spark's own parser for this conf, so "4k"/"1t" mean what they
        # mean to the scan planner
        mpb = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        width = 0
        for f in files:
            p, fs = _hadoop_fs(spark, f)
            sz = fs.getFileStatus(p).getLen()
            width += max(1, -(-sz // mpb))
            if width >= need:
                return width
        return width
    except Exception:
        return len(files)


def extract_spans(
    docs: DataFrame,
    blobs: DataFrame,
    fonts: tuple | list = ("arial",),
) -> DataFrame:
    """Logical plan for one slice of documents -> output span rows.
    ``blobs`` is the blob table of ``read_blobs``. A text span goes to the
    stripper, and a span of any other kind to the blob->text UDF.

    The pre-UDF salt shuffle has an EXPLICIT repartition width,
    defaultParallelism, because the UDF stages are CPU-bound, not
    byte-bound: AQE's coalescing targets partition *bytes* and would
    happily fuse thousands of cheap-looking KB-sized PNG rows into one
    partition, serializing the OCR kernel on a single core. An explicit
    width is exempt from AQE coalescing.

    Width = exactly one task per core: the full-cardinality salt spreads
    pages statistically uniformly, so extra task waves only add scheduling
    overhead (measured: 2x width costs ~50% extra wall on the bench leg).
    """
    partitions = docs.sparkSession.sparkContext.defaultParallelism
    # a single large parquet file scans as 1-2 tasks; spread the docs
    # across the cluster BEFORE the explode so span generation, the
    # stripper and the join-back's probe side run at full width (the OCR
    # stage reads the salt exchange below, whose explicit width holds
    # whatever the scan width). At real scale the input is thousands of
    # files and the scan is already wide, so only repartition when the
    # scan is narrower than the target. Width probe via file metadata
    # (sizes vs maxPartitionBytes) — no plan-to-RDD translation per
    # extract call, and splittable single-file scans report their true
    # split width instead of "1" (counting files alone re-shuffled a
    # 30-way scan and cost the 8-core scaling leg ~25%). Non-file inputs
    # (in-memory frames, non-file streaming micro-batches) report width 0
    # and therefore ALWAYS repartition: their width is unknowable without
    # an RDD probe, and a redundant shuffle of doc rows is cheap.
    if _scan_width_estimate(docs, partitions // 2) < partitions // 2:
        docs = docs.repartition(partitions, "doc_id")
    exploded = docs.select(
        "doc_id", F.posexplode("spans").alias("ord", "span")
    ).select(
        "doc_id",
        F.col("ord").cast("int").alias("ord"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )

    # text spans inherit the per-doc distribution from the scan repartition
    # (strip cost is roughly uniform per doc — no extra shuffle needed; only
    # the blob route needs span-level salting, its cost class is ~10-100x)
    strip_udf = make_strip_udf()
    text_out = (
        exploded.where(F.col("kind") == "text")
        .withColumn("out_text", strip_udf(F.col("text")))
        .select(
            "doc_id",
            "ord",
            "kind",
            F.col("out_text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
        )
    )

    # one route for every other kind: the blob->text UDF runs once per
    # DISTINCT (media_ref, kind) and its text joins back to the span
    # occurrences, so kernel cost scales with |distinct refs| and a hot ref
    # (one page or pdf referenced by many docs) cannot skew the stage. The
    # join-back is keyed on (media_ref, kind): a ref string present in both
    # the media and the pdf table reads each kind's own blob, and a span
    # with no blob row (a dangling ref, a pdf in a corpus without pdfs, an
    # unknown kind) joins back as null text. A null kind takes neither
    # route: it is dropped. The semi-join is keyed on media_ref alone, so
    # every branch of the blob union builds the same broadcast and the plan
    # reuses one; a blob whose ref is referenced only under another kind is
    # decoded and its text dropped by the join-back.
    key = ["media_ref", "kind"]
    rows = exploded.where(F.col("kind") != "text").select("doc_id", "ord", *key)
    blob_udf = make_ocr_udf(fonts=fonts)
    # Salting: the UDF input is spread over an explicit-width shuffle keyed
    # by a SALT column, never by the join key — an exchange on the join key
    # gets eliminated as redundant once the join-back requires the same
    # partitioning, silently dropping the kernel onto whatever (often
    # 1-partition, AQE-coalesced) distribution the semi-join produced. The
    # salt stays FULL-cardinality (raw crc32, no % partitions): hashing only
    # `partitions` distinct values into `partitions` buckets is balls-in-bins
    # (measured: 3.4x stragglers).
    processed = (
        blobs.join(rows, "media_ref", "left_semi")
        .withColumn("_salt", F.crc32(F.col("media_ref")))
        .repartition(partitions, "_salt")
        .select(*key, blob_udf(F.col("kind"), F.col("blob")).alias("out_text"))
    )
    # Join-back: MUST be a shuffle join (SHUFFLE_HASH hint), never broadcast
    # — AQE would otherwise take the UDF's shuffle with a LOCAL read (one task
    # per mapper), collapsing the whole Python stage onto one core; at 10^12
    # rows the output is never broadcastable anyway.
    blob_out = rows.join(processed.hint("SHUFFLE_HASH"), key, "left").select(
        "doc_id", "ord", "kind", F.col("out_text").alias("text"), "media_ref"
    )
    return text_out.unionByName(blob_out)


class ParquetSink:
    """The default commit substrate, plain parquet under ``output_dir``:
    span buckets in ``spans/bucket=K`` dirs, each replaced by deleting it
    and appending its new rows, and manifest rows appended under
    ``_manifest``. The Iceberg twin
    is ``catalog.IcebergSink``; ``extract`` only talks to this interface."""

    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.spans_dir = f"{output_dir}/spans"
        self.manifest_dir = f"{output_dir}/_manifest"

    def manifest(self) -> DataFrame | None:
        """The commit log, or None before the first commit. Only a missing
        dir means "nothing committed"; an unreadable one fails the run
        (resuming from it would silently rewrite every bucket)."""
        hpath, fs = _hadoop_fs(self.spark, self.manifest_dir)
        if not fs.exists(hpath):
            return None
        return self.spark.read.schema(MANIFEST).parquet(self.manifest_dir)

    def write_buckets(self, out: DataFrame, buckets: list[int]) -> None:
        # delete every pending bucket's dir, half-written or not, then
        # append. The committer's _temporary dir goes too: a run killed
        # mid-write leaves its committed tasks' files there, and the next
        # append's job commit would merge them into the buckets as duplicates.
        for d in [f"bucket={b}" for b in buckets] + ["_temporary"]:
            hpath, fs = _hadoop_fs(self.spark, f"{self.spans_dir}/{d}")
            fs.delete(hpath, True)
        out.write.mode("append").partitionBy("bucket").parquet(self.spans_dir)

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        # explicit schema: a zero-row run leaves no partition dirs to
        # infer from, and its empty buckets must still commit
        return (
            self.spark.read.schema(SPANS_WITH_BUCKET)
            .parquet(self.spans_dir)
            .where(F.col("bucket").isin(buckets))
        )

    def append_manifest(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.manifest_dir)


def committed_buckets(manifest: DataFrame | None, buckets: int) -> set[int]:
    """Partition ids with a manifest row (a re-committed one has more than
    one), for a writer that cuts ``buckets`` doc buckets, or micro-batches
    when ``buckets`` is 0 (``stream_extract``). Raises unless every row
    records the same cut: an id cut another way names other documents."""
    if manifest is None:
        return set()
    rows = manifest.select("partition_id", "buckets").collect()
    stray = {r.buckets for r in rows} - {buckets}
    if stray:
        n = stray.pop()
        held = ("output that records no bucket count" if n is None
                else "stream_extract output" if n == 0 else f"extract output in {n} buckets")
        writer = "stream_extract" if buckets == 0 else f"extract with {buckets} buckets"
        raise ValueError(f"output dir holds {held}; {writer} needs its own")
    return {r.partition_id for r in rows}


def commit_buckets(sink, out: DataFrame, pending: list[int], run_id: str, buckets: int) -> int:
    """Write the span rows ``out`` (each carrying its ``bucket``) through
    ``sink`` and commit one manifest row per ``pending`` bucket, which
    records the cut ``buckets`` (see ``committed_buckets``). Returns the
    number of spans committed.

    All pending buckets go in two Spark actions: a single partitioned write
    (`spans/bucket=K`), then a single manifest append whose rows are
    aggregated from the written files as it runs — so job-scheduling
    overhead is amortized across buckets instead of paying write+agg+commit
    per bucket (which capped scaling efficiency at small inputs). The commit
    unit is the bucket: it counts as committed only once its manifest row
    lands, and a rerun rewrites any bucket without one.
    """
    # one shuffle collapses the tiny output rows to one file per bucket
    # BEFORE the committer: a partitionBy write from W wide partitions
    # creates W x |pending| files whose job commit is driver-serial —
    # file count, not data size, was the scaling ceiling.
    # Each bucket goes to the write task numbered by its position in
    # `pending`, one bucket a task: hashing the bucket ids puts 4 buckets on
    # 2 tasks and 64 on 37, so one task writes up to 4 buckets in series.
    slot = (F.array_position(F.lit(pending), F.col("bucket")) - 1).cast("int")
    sink.write_buckets(out.repartitionById(len(pending), slot), pending)

    # manifest stats come from READING BACK the written files — cheaper
    # than persisting the whole output through the write (measured), and
    # the committed row counts/checksums then describe what actually
    # landed on storage, not what the plan produced in memory. One null
    # row per pending bucket (null doc_id, ord and kind: no span) makes an
    # empty bucket commit zeros.
    written = sink.read_buckets(pending).unionByName(
        out.sparkSession.range(1).select(F.explode(F.lit(pending)).alias("bucket")),
        allowMissingColumns=True,
    )
    chk = F.crc32(F.concat_ws(
        "\x1f", "doc_id", F.col("ord").cast("string"), F.coalesce("text", F.lit(""))
    ))
    # the span total rides the manifest write: one sum over its rows
    spans = Observation()
    # append-only commit log: one small file per run, no partition dirs —
    # a re-committed bucket would just add a row, and committed_buckets
    # de-duplicates. Every column is non-null, as an Iceberg manifest
    # table created from it requires (the coalesces change no value).
    sink.append_manifest(
        written.groupBy("bucket").agg(
            F.countDistinct("doc_id").alias("doc_count"),
            F.count("ord").alias("span_count"),
            F.count(F.when(F.col("kind") == "media", 1)).alias("media_count"),
            F.coalesce(F.sum(chk), F.lit(0)).cast("string").alias("checksum"),
        ).select(
            F.lit(run_id).alias("run_id"),
            F.coalesce("bucket", F.lit(0)).alias("partition_id"),
            "doc_count", "span_count", "media_count", "checksum",
            F.lit(time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())).alias("committed_at"),
            F.lit(buckets).alias("buckets"),
        ).observe(spans, F.sum("span_count").alias("spans")).coalesce(1)
    )
    return spans.get["spans"]


def extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str | None,
    run_id: str = "run-0",
    buckets: int = 8,
    fonts: tuple | list = ("arial",),
    catalog: str | None = None,  # Iceberg catalog name (see pipeline.catalog)
) -> dict:
    """Run the full job with bucketed idempotent commits (``commit_buckets``
    over every pending bucket). Returns metrics. A rerun skips committed
    buckets, and raises before any write on a dir cut into another bucket
    count or by ``stream_extract`` (``committed_buckets``); a recompute
    goes to a fresh output dir.

    ``catalog`` switches the commit substrate from the parquet substitute
    under ``output_dir`` to the session's Iceberg catalog of that name (see
    ``catalog.IcebergSink``, which raises ``IcebergUnavailable`` before any
    input is read when the session cannot load the catalog's class); with a
    catalog, ``output_dir`` is ignored and may be ``None``. The pass, commit
    unit, and resume semantics are identical in both modes.
    """
    import re as _re

    # run_id is the manifest's lineage key, which readers of the commit log
    # filter on in SQL and shell: keep it a plain token, no quote or metachar
    if not _re.fullmatch(r"[A-Za-z0-9._-]+", run_id):
        raise ValueError(f"run_id must match [A-Za-z0-9._-]+ (got {run_id!r})")
    if buckets < 1:
        raise ValueError(f"buckets must be at least 1 (got {buckets})")

    if catalog:
        from .catalog import IcebergSink

        sink = IcebergSink(spark, catalog)
    else:
        sink = ParquetSink(spark, output_dir)
    committed = committed_buckets(sink.manifest(), buckets)
    docs = read_documents(spark, input_dir)
    blobs = read_blobs(spark, input_dir)
    pending = [b for b in range(buckets) if b not in committed]
    metrics = {"buckets_total": buckets, "buckets_skipped": len(committed),
               "spans": 0, "buckets_done": len(pending)}
    if pending:
        bucket_of = F.crc32(F.col("doc_id")) % buckets
        out = extract_spans(
            docs.where(bucket_of.isin(pending)), blobs, fonts=fonts
        ).withColumn("bucket", bucket_of.cast("int"))
        metrics["spans"] = commit_buckets(sink, out, pending, run_id, buckets)
    return metrics


def stream_extract(
    spark: SparkSession,
    stream_dir: str,
    media_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    fonts: tuple | list = ("arial",),
):
    """Start (and with ``available_now`` run to completion) the streaming
    extraction over a directory of documents parquet files.

    The reference is strictly batch (SURVEY.md §2.8); this is a Spark-native
    addition. Each micro-batch runs ``extract_spans``, the batch plan, in
    ``foreachBatch`` and commits it through ``commit_buckets`` as one bucket
    numbered by its batch id. The checkpoint lets a killed stream resume at
    the last finished micro-batch; a replayed batch overwrites only its own
    bucket, and a manifest row it appends twice counts once
    (``committed_buckets``), so output is exactly-once. The output dir
    belongs to the stream alone (its manifest rows record 0 buckets):
    ``extract`` refuses to resume from it, and the stream refuses to start
    on a batch run's dir, whose buckets its micro-batches would overwrite."""
    blobs = read_blobs(spark, media_dir)
    sink = ParquetSink(spark, output_dir)
    committed_buckets(sink.manifest(), 0)

    docs = spark.readStream.schema(DOCUMENTS).parquet(stream_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_spans(batch_df, blobs, fonts=fonts)
        commit_buckets(sink, out.withColumn("bucket", F.lit(batch_id)), [batch_id], "stream", 0)

    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    # explicit schema, as in ParquetSink.read_buckets: a run that committed
    # no span rows leaves nothing to infer one from
    return spark.read.schema(SPANS_WITH_BUCKET).parquet(f"{output_dir}/spans")
