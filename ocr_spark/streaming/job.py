"""Structured Streaming surface for the extraction engine.

The reference is strictly batch (SURVEY.md §2.8), so these are Spark-native
additions, not ports:

* ``stream_extract`` — continuous ingestion of interleaved-document parquet
  files: ``readStream`` file source -> per-micro-batch extraction via
  ``foreachBatch`` reusing the exact batch logical plan (stripper UDF + OCR
  kernel + media join), appended idempotently per micro-batch. Checkpointing
  comes from the streaming engine (offsets/WAL), complementing the batch
  job's manifest commits: a killed stream resumes at the last committed
  micro-batch, and the per-batch output is partitioned by batch id so a
  replayed batch overwrites itself instead of duplicating (exactly-once on
  top of the file source's at-least-once replay).
* ``stream_event_rollup`` — watermarked tumbling-window aggregation over an
  event stream (late data bounded by the watermark), the streaming twin of
  functions/events.tumbling_hourly.

At cluster scale the file source becomes Kafka/Iceberg-CDC; the plan shape
(stateless extract in foreachBatch, watermarked stateful agg) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import DOCUMENTS
from ..pipeline.job import extract_spans, read_media, read_pdfs


def stream_extract(
    spark: SparkSession,
    stream_dir: str,
    media_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    character_spacing: float = 8.0,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fonts: tuple | list | None = None,
):
    """Start (and with ``available_now`` run to completion) the streaming
    extraction over a directory of documents parquet files."""
    media = read_media(spark, media_dir)
    pdfs = read_pdfs(spark, media_dir)

    reader = spark.readStream.schema(DOCUMENTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(stream_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_spans(batch_df, media, character_spacing=character_spacing,
                            pdfs=pdfs, fonts=fonts)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{output_dir}/spans")
        )

    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup of a streaming events DataFrame:
    counts + exact decimal value sums per (window, event_type). Late rows
    beyond the watermark are dropped by the engine, bounding state."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_exact(
    events_stream: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: drop any row whose key was already
    seen, with state bounded by the watermark (a duplicate arriving later
    than the watermark horizon is the source's replay window exceeding the
    configured bound — widen the watermark, not the state). This is the
    streaming twin of functions/dedup.exact_duplicates and the standard
    guard in front of an at-least-once source (Kafka replays, file-source
    re-lists)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )


def stream_enrich(
    events_stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to each
    streaming row. Stateless on the streaming side (no watermark, no state
    store — each micro-batch joins against the static frame's CURRENT
    snapshot), so it composes freely before any stateful stage. No
    broadcast hint: Catalyst sizes the static side per micro-batch and
    broadcasts only when it fits under autoBroadcastJoinThreshold — a
    forced hint would OOM the driver on a large dimension. At cluster
    scale the dim is typically a compact keyed table refreshed by
    re-reading the source. The standard shape for user/geo/account
    lookups in front of a streaming aggregation."""
    return events_stream.join(dim, on, how)


def stream_click_purchase_join(
    events_stream: DataFrame,
    window_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase pairs with the
    same user's clicks in the preceding ``window_s`` seconds. Both sides
    carry a watermark and the join condition bounds event time on both
    sides — the two requirements that let the engine evict join state.

    Semantics contract: the output equals the batch join's rows for every
    event arriving within the watermark bound; a row arriving LATER than
    the watermark horizon (more than ``watermark`` behind the stream's
    max event time in a prior micro-batch) is dropped by the engine —
    that is what a watermark means, state eviction is only sound because
    the late row can no longer join. Size ``watermark`` to the source's
    real out-of-orderness; the test feeds time-ordered micro-batches and
    asserts batch equality with many cross-batch pairs."""
    ev = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr(f"interval {window_s} seconds"))
    )
    return purchases.join(clicks, cond).select(
        "p_user", "buy_id", "buy_ts", "click_id", "click_ts"
    )


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = "session_start timestamp, last_ts timestamp, n_events bigint"


def _merge_session_intervals(acc, chunk_ts_us, gap_us: int):
    """Fold one chunk of epoch-microsecond timestamps (any order) into
    ``acc``, a list of ``[start_us, end_us, count]`` session intervals
    sorted by start with consecutive intervals separated by > ``gap_us``.

    Gap-sessionization of a set of timestamps is exactly the gap-union of
    their point intervals, and union is order-independent — so folding
    chunk-by-chunk gives bit-identical sessions to sorting the whole batch
    at once, while per-key memory stays O(#sessions in flight), NOT
    O(#events in the batch) (the ``pd.concat(list(pdf_iter))`` this
    replaces OOMed the Python worker on a hot key with millions of events
    in one micro-batch). Exposed at module level for direct unit testing.
    """
    import numpy as np

    ts = np.sort(np.asarray(chunk_ts_us, dtype=np.int64))
    if len(ts) == 0:
        return acc
    brk = np.flatnonzero(np.diff(ts) > gap_us)
    bounds = np.concatenate(([0], brk + 1, [len(ts)]))
    c_starts = ts[bounds[:-1]]
    c_ends = ts[bounds[1:] - 1]
    c_counts = np.diff(bounds)

    # two-pointer merge of two start-sorted interval lists, gap-coalescing
    # as we go; both lists are ~#sessions long, so this loop is tiny even
    # when the chunk holds millions of events
    out: list[list[int]] = []
    i = j = 0
    while i < len(acc) or j < len(c_starts):
        if j >= len(c_starts) or (i < len(acc) and acc[i][0] <= c_starts[j]):
            s, e, c = acc[i]
            i += 1
        else:
            s, e, c = int(c_starts[j]), int(c_ends[j]), int(c_counts[j])
            j += 1
        if out and s - out[-1][1] <= gap_us:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += c
        else:
            out.append([s, e, c])
    return out


def stream_sessionize_stateful(events_stream: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user gap-based sessionization with state that survives micro-batch
    boundaries (an event arriving in a later batch within the gap EXTENDS
    the open session instead of starting a new one — something the
    stateless window/lag formulation cannot do across batches).

    Emits a row per CLOSED session (append mode); each user's still-open
    session lives in the state store until a later event closes it.

    Memory contract: Arrow chunks from ``pdf_iter`` are folded one at a
    time into a gap-separated interval list (see
    ``_merge_session_intervals``), so a hot key holds O(#sessions) ints,
    never the micro-batch's rows.

    Late-data contract (no watermark — the operator sessionizes on the TIME
    AXIS, not arrival order): a late event landing within ``gap_s`` of any
    interval STILL IN STATE extends/merges that interval; a late event
    gap-separated from everything in state becomes its own session.
    Pre-round-5 behavior folded every late event into the open session
    regardless of distance, silently stretching sessions across gaps.

    Equality with batch sessionize over the union of all arrived events
    holds as long as late events arrive before the session they belong to
    is emitted (state holds every interval until a later one closes it).
    Once a session HAS been emitted, append mode cannot retract it: a
    subsequent event within that emitted session's gap starts a NEW session
    (possibly overlapping the emitted one) rather than merging — the
    standard append-mode limit for watermark-free operators; bound it
    upstream with a watermark if retraction-free exactness is required.
    Both sides of the contract are pinned by
    tests/test_streaming.py::test_stateful_sessionize_cross_batch_late_events.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key

        if state.exists:
            s0, e0, n0 = state.get
            acc = [[pd.Timestamp(s0).value // 1000, pd.Timestamp(e0).value // 1000, int(n0)]]
        else:
            acc = []

        saw_rows = False
        for chunk in pdf_iter:
            if len(chunk) == 0:
                continue
            saw_rows = True
            ts_us = (
                chunk["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            )
            acc = _merge_session_intervals(acc, ts_us, gap_us)
        if not saw_rows:
            return  # empty invocation: leave state untouched

        def _ts(us: int):
            return pd.Timestamp(us, unit="us")

        closed = [
            (user_id, _ts(s), _ts(e), int(c)) for s, e, c in acc[:-1]
        ]
        s, e, c = acc[-1]
        state.update((_ts(s).to_pydatetime(), _ts(e).to_pydatetime(), int(c)))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "n_events"]
            )

    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
