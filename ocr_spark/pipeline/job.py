"""The extraction job: read -> explode -> route by cost class -> UDFs ->
reassemble -> bucketed idempotent commit.

Scale design (north rule: 10^12 docs, N vs 4N executors):

* Catalyst does the relational work: posexplode, kind routing, the
  media_ref equi-join (AQE picks broadcast vs shuffle; skew-join enabled).
* Cost classes are routed separately — a media span costs ~100x a text
  span, so they never share a task boundary.
* Skew defusal: after the media join, rows are hash-repartitioned on
  (doc_id, ord); a document with 10^3 media spans spreads over the whole
  cluster instead of stalling one task (explicit salt; AQE skew-join is the
  backstop for the join itself).
* Resume: the doc space is split into `buckets` by crc32(doc_id); each
  bucket writes to its own spans/bucket=K dir with overwrite semantics and
  then commits one manifest row (lineage + metrics + checksum). A rerun
  skips committed buckets and safely rewrites half-written ones — append-only
  Iceberg-style commit protocol on plain parquet.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import DOCUMENTS, MANIFEST, MEDIA, OUTPUT_SPANS
from .udfs import make_ocr_udf, make_strip_udf

#: a span row as committed: the output schema plus its bucket partition
SPANS_WITH_BUCKET = T.StructType(
    OUTPUT_SPANS.fields + [T.StructField("bucket", T.IntegerType())]
)


def configure(builder_or_spark, shuffle_partitions: int | None = None):
    """Engine defaults: Arrow on, AQE on (coalesce + skew-join), capped
    Arrow batch size so media batches (PNG blobs) bound worker memory."""
    conf = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # single-node/local: never trade a task slot for locality
        "spark.locality.wait": "0s",
        # interleaved-doc rows are wide (HTML + media blobs): 16 MB splits
        # keep the scan wide enough to feed every core even from few files
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if isinstance(builder_or_spark, SparkSession):
        for k, v in conf.items():
            try:
                builder_or_spark.conf.set(k, v)
            except Exception:
                pass  # static conf (e.g. spark.serializer) on a live session
        return builder_or_spark
    for k, v in conf.items():
        builder_or_spark = builder_or_spark.config(k, v)
    return builder_or_spark


def read_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS).parquet(f"{input_dir}/documents.parquet")


def read_media(spark: SparkSession, input_dir: str) -> DataFrame:
    # never read the test-only `truth` column: explicit schema prunes it
    return spark.read.schema(MEDIA).parquet(f"{input_dir}/media.parquet").select(
        "media_ref", "png"
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(Path, FileSystem) for ``path`` via the Hadoop FS API — the one home
    for the jvm Path/getFileSystem incantation (works for any scheme)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return hpath, fs


def read_pdfs(spark: SparkSession, input_dir: str) -> DataFrame | None:
    """Optional third-modality table (three-kind corpora): None when the
    corpus has no pdfs.parquet, so plain text+media corpora plan exactly as
    before — but a corpus that DOES ship pdfs gets its pdf spans routed
    instead of silently dropped."""
    path = f"{input_dir}/pdfs.parquet"
    hpath, fs = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return spark.read.schema("media_ref string, pdf binary").parquet(path)


def _size_suffix_bytes(v: str) -> int:
    v = v.strip().lower().rstrip("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    return int(float(v) * mult)


def _scan_width_estimate(docs: DataFrame, need: int) -> int:
    """Upper-bounded estimate of the file scan's task width, from metadata
    only (no plan-to-RDD translation): sum over input files of
    ceil(size / maxPartitionBytes), stopping early once ``need`` is
    reached. A single large splittable parquet file correctly reports its
    split count — counting FILES here once cost the 8-core scaling leg
    ~25% by re-shuffling an already-30-way scan (round-3 regression).
    Returns 0 for non-file-backed inputs (unknown width)."""
    files = docs.inputFiles()
    if not files:
        return 0
    if len(files) >= need:
        return len(files)
    spark = docs.sparkSession
    try:
        mpb = _size_suffix_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        width = 0
        for f in files:
            # size-based splitting applies only to splittable formats; a
            # gzipped json/csv file is ONE task no matter its size, and
            # overcounting it would skip the repartition this probe exists
            # to enforce
            if not f.endswith((".parquet", ".orc")):
                width += 1
                continue
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
    media: DataFrame,
    character_spacing: float = 8.0,
    salt: bool = True,
    partitions: int | None = None,
    pdfs: DataFrame | None = None,
    fonts: tuple | list | None = None,
) -> DataFrame:
    """Logical plan for one slice of documents -> output span rows.

    ``partitions`` sizes the pre-UDF salt shuffle. It is passed as an
    EXPLICIT repartition width (default = defaultParallelism) because the
    UDF stages are CPU-bound, not byte-bound: AQE's coalescing targets
    partition *bytes* and would happily fuse thousands of cheap-looking
    KB-sized PNG rows into one partition, serializing the OCR kernel on a
    single core. An explicit width is exempt from AQE coalescing.

    Width = exactly one task per core: the full-cardinality salt spreads
    pages statistically uniformly, so extra task waves only add scheduling
    overhead (measured: 2x width costs ~50% extra wall on the bench leg).
    Deployments with heterogeneous executors can pass a larger width for
    straggler hiding.
    """
    if salt and partitions is None:
        partitions = docs.sparkSession.sparkContext.defaultParallelism
    if salt:
        # a single large parquet file scans as 1-2 tasks; spread the docs
        # across the cluster BEFORE the explode so span generation, the
        # stripper and the join probe all run at full width. At real scale
        # the input is thousands of files and the scan is already wide, so
        # only repartition when the scan is narrower than the target.
        # Width probe via file metadata (sizes vs maxPartitionBytes) — no
        # plan-to-RDD translation per extract call, and splittable
        # single-file scans report their true split width instead of "1"
        # (counting files alone re-shuffled a 30-way scan and cost the
        # 8-core scaling leg ~25%). Non-file inputs (in-memory frames,
        # non-file streaming micro-batches) report width 0 and therefore
        # ALWAYS repartition: deliberate — their width is unknowable
        # without an RDD probe, a redundant shuffle of doc rows is cheap,
        # and an undetected narrow input serializes the OCR stage onto one
        # core (the measured disaster this probe exists to prevent).
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
    # the media branch needs span-level salting, its cost class is ~100x)
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

    def route_by_distinct_ref(kind: str, blobs: DataFrame, kernel) -> DataFrame:
        """Shared shape for every expensive per-blob cost class (OCR, PDF):
        process each DISTINCT media_ref once, join the text back to span
        occurrences — kernel cost scales with |distinct refs| and a hot ref
        (one image/pdf referenced by many docs) cannot skew the stage.

        Salting: the kernel input is spread over an explicit-width shuffle
        keyed by a SALT column, not by media_ref — an exchange on the join
        key itself gets eliminated as redundant once the join-back requires
        the same partitioning, silently dropping the kernel onto whatever
        (often 1-partition, AQE-coalesced) distribution the semi-join
        produced. The salt stays FULL-cardinality (raw crc32, no
        % partitions): hashing only `partitions` distinct values into
        `partitions` buckets is balls-in-bins (measured: 3.4x stragglers).

        Join-back: MUST be a shuffle join (SHUFFLE_HASH hint), never
        broadcast — AQE would otherwise take the kernel's shuffle with a
        LOCAL read (one task per mapper), collapsing the whole Python stage
        onto one core; at 10^12 rows the output is never broadcastable
        anyway. ``kernel(blobs) -> (media_ref, out_text)``.
        """
        rows = exploded.where(F.col("kind") == kind).select(
            "doc_id", "ord", "kind", "media_ref"
        )
        needed = rows.select("media_ref").distinct()
        pending = blobs.join(needed, "media_ref")
        if salt:
            pending = pending.withColumn(
                "_salt", F.crc32(F.col("media_ref"))
            ).repartition(partitions, "_salt")
        processed = kernel(pending)
        return rows.join(processed.hint("SHUFFLE_HASH"), "media_ref", "left").select(
            "doc_id", "ord", "kind", F.col("out_text").alias("text"), "media_ref"
        )

    ocr_udf = make_ocr_udf(character_spacing=character_spacing, fonts=fonts)
    media_out = route_by_distinct_ref(
        "media", media,
        lambda pages: pages.select("media_ref", ocr_udf(F.col("png")).alias("out_text")),
    )
    out = text_out.unionByName(media_out)

    if pdfs is not None:
        # third cost class, ~10x cheaper than OCR but still Python: parse
        # each distinct pdf, concatenate its page texts in page order
        from ..functions.multimodal import pdf_text

        def parse_pdfs(blobs: DataFrame) -> DataFrame:
            return (
                pdf_text(blobs)
                .groupBy("media_ref")
                .agg(
                    F.concat_ws(
                        " ", F.array_sort(F.collect_list(F.struct("page_idx", "text")))
                        .getField("text")
                    ).alias("out_text")
                )
            )

        out = out.unionByName(route_by_distinct_ref("pdf", pdfs, parse_pdfs))

    return out


class ParquetSink:
    """The default commit substrate, plain parquet under ``output_dir``:
    span buckets in ``spans/bucket=K`` dirs replaced by dynamic partition
    overwrite, manifest rows appended under ``_manifest``. The Iceberg twin
    is ``catalog.IcebergSink``; ``extract`` only talks to this interface."""

    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.spans_dir = f"{output_dir}/spans"
        self.manifest_dir = f"{output_dir}/_manifest"
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def manifest(self) -> DataFrame | None:
        """The commit log, or None before the first commit. Only a missing
        dir means "nothing committed"; an unreadable one fails the run
        (resuming from it would silently rewrite every bucket)."""
        hpath, fs = _hadoop_fs(self.spark, self.manifest_dir)
        if not fs.exists(hpath):
            return None
        return self.spark.read.schema(MANIFEST).parquet(self.manifest_dir)

    def write_wave(self, out: DataFrame, wave: list[int]) -> None:
        # dynamic overwrite only replaces partitions present in the new
        # data; clear stale half-written dirs for wave buckets that may
        # end empty
        for b in wave:
            hpath, fs = _hadoop_fs(self.spark, f"{self.spans_dir}/bucket={b}")
            fs.delete(hpath, True)
        out.write.mode("overwrite").partitionBy("bucket").parquet(self.spans_dir)

    def read_wave(self, wave: list[int]) -> DataFrame:
        # explicit schema: a zero-row wave leaves no partition dirs to
        # infer from, and its empty buckets must still commit
        return (
            self.spark.read.schema(SPANS_WITH_BUCKET)
            .parquet(self.spans_dir)
            .where(F.col("bucket").isin(wave))
        )

    def append_manifest(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.manifest_dir)


def committed_buckets(manifest: DataFrame | None) -> set[int]:
    """Buckets with a committed manifest row (a re-committed bucket just
    has more than one)."""
    if manifest is None:
        return set()
    return {
        r.partition_id
        for r in manifest.where(F.col("status") == "committed")
        .select("partition_id")
        .distinct()
        .collect()
    }


def extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "run-0",
    buckets: int = 8,
    resume: bool = True,
    character_spacing: float = 8.0,
    salt: bool = True,
    partitions: int | None = None,
    fail_after: int | None = None,  # test hook: die after K bucket commits
    fonts: tuple | list | None = None,
    catalog: str | None = None,  # Iceberg catalog name (see pipeline.catalog)
) -> dict:
    """Run the full job with bucketed idempotent commits. Returns metrics.

    All pending (uncommitted) buckets are processed in one *wave*: a single
    partitioned write (`spans/bucket=K`, dynamic partition overwrite) plus a
    single per-bucket stats pass and one manifest write — so job-scheduling
    overhead is amortized across buckets instead of paying write+agg+commit
    per bucket (which capped scaling efficiency at small inputs). The commit
    unit is unchanged: a bucket counts as committed only once its manifest
    row lands, and a rerun rewrites any bucket without one.

    ``fail_after=K`` shrinks the wave to K buckets and raises after the
    first wave — the resume-test hook.

    ``catalog`` switches the commit substrate from the parquet substitute to
    a real Iceberg catalog of that name (guarded — the CLI calls
    ``pipeline.catalog.require_iceberg`` first; see ``catalog.IcebergSink``).
    The wave loop, commit unit, and resume semantics are identical in both
    modes.
    """
    import re as _re

    # run_id lands inside a SQL VALUES literal (manifest commit below):
    # restrict it so a quote/metachar can never abort the run mid-commit
    if not _re.fullmatch(r"[A-Za-z0-9._-]+", run_id):
        raise ValueError(
            f"run_id must match [A-Za-z0-9._-]+ (got {run_id!r}); it is "
            "embedded in the manifest SQL literal and in output paths"
        )

    docs = read_documents(spark, input_dir)
    media = read_media(spark, input_dir)
    pdfs = read_pdfs(spark, input_dir)
    if catalog:
        from .catalog import IcebergSink

        sink = IcebergSink(spark, catalog)
    else:
        sink = ParquetSink(spark, output_dir)

    committed = committed_buckets(sink.manifest()) if resume else set()
    pending = [b for b in range(buckets) if b not in committed]
    metrics = {"buckets_total": buckets, "buckets_skipped": len(committed), "spans": 0}

    done = 0
    while pending:
        wave = pending[:fail_after] if fail_after is not None else pending
        pending = pending[len(wave):]

        bucket_of = F.crc32(F.col("doc_id")) % buckets
        subset = docs.where(bucket_of.isin(wave))
        # one shuffle collapses the tiny output rows to one file per bucket
        # BEFORE the committer: a partitionBy write from W wide partitions
        # creates W x |wave| files whose dynamic-overwrite commit is
        # driver-serial — file count, not data size, was the scaling ceiling
        out = (
            extract_spans(subset, media, character_spacing, salt=salt,
                          partitions=partitions, pdfs=pdfs, fonts=fonts)
            .withColumn("bucket", (F.crc32(F.col("doc_id")) % buckets).cast("int"))
            .repartition(max(len(wave), 1), "bucket")
        )
        sink.write_wave(out, wave)

        # manifest stats come from READING BACK the written files — cheaper
        # than persisting the whole output through the write (measured), and
        # the committed row counts/checksums then describe what actually
        # landed on storage, not what the plan produced in memory.
        stats = {
            int(r["bucket"]): r
            for r in sink.read_wave(wave).groupBy("bucket")
            .agg(
                F.countDistinct("doc_id").alias("docs"),
                F.count(F.lit(1)).alias("spans"),
                F.sum((F.col("kind") == "media").cast("long")).alias("media"),
                F.sum(
                    F.crc32(
                        F.concat_ws(
                            "\x1f",
                            "doc_id",
                            F.col("ord").cast("string"),
                            F.coalesce("text", F.lit("")),
                        )
                    )
                ).alias("chk"),
            )
            .collect()
        }

        now = time.strftime("%Y-%m-%dT%H:%M:%S")
        values = []
        for b in wave:
            r = stats.get(b)
            docs_n = int(r["docs"]) if r else 0
            spans_n = int(r["spans"]) if r else 0
            media_n = int(r["media"]) if r else 0
            chk = str(r["chk"]) if r else "0"
            values.append(
                f"('{run_id}', {b}, CAST({docs_n} AS BIGINT), CAST({spans_n} AS BIGINT), "
                f"CAST({media_n} AS BIGINT), '{chk}', '{now}', 'committed')"
            )
            metrics["spans"] += spans_n
        # append-only commit log: one small file per wave, no partition
        # dirs, no dynamic-overwrite listing — a re-committed bucket would
        # just add a row, and committed_buckets de-duplicates. Built as a SQL
        # VALUES literal (JVM LocalRelation): a python-list DataFrame would
        # spin up a Python runner for an 8-row write.
        sink.append_manifest(spark.sql(
            "SELECT * FROM VALUES "
            + ", ".join(values)
            + " AS t(run_id, partition_id, doc_count, span_count, media_count,"
            "        checksum, committed_at, status)"
        ).coalesce(1))
        done += len(wave)
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"injected failure after {done} buckets")

    metrics["buckets_done"] = done
    return metrics


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/spans")
