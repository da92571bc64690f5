"""Structured Streaming tests: streaming extraction must produce the exact
same span set as the batch oracle; the watermarked rollup must match the
batch aggregation over the same files."""

import glob
import os
import shutil
import subprocess
import sys

import pytest

from conftest import REPO

pyspark = pytest.importorskip("pyspark")
from pyspark.sql import SparkSession, functions as F  # noqa: E402

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def spark():
    from ocr_spark.pipeline.job import configure

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("ocr_spark-streaming-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    s = configure(builder).getOrCreate()
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_corpus"))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "synth.py"),
         "--scale", "tiny", "--out", out],
        check=True,
    )
    return out


def _spans_set(df):
    return {
        (r.doc_id, r.ord, r.kind, r.text, r.media_ref)
        for r in df.select("doc_id", "ord", "kind", "text", "media_ref").collect()
    }


def test_stream_extract_matches_batch_oracle(spark, corpus, tmp_path):
    from ocr_spark.streaming.job import stream_extract

    stream_dir = str(tmp_path / "incoming")
    os.makedirs(stream_dir)
    # two "arriving" files -> two micro-batch-able inputs
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus, "documents.parquet"))
    n = t.num_rows
    pq.write_table(t.slice(0, n // 2), os.path.join(stream_dir, "part-0.parquet"))
    pq.write_table(t.slice(n // 2), os.path.join(stream_dir, "part-1.parquet"))

    # each micro-batch write overwrites only its own batch_id partition,
    # by a per-write option: the session's mode stays as the caller set it
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    out_dir = str(tmp_path / "out")
    q = stream_extract(
        spark, stream_dir, corpus, out_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = _spans_set(spark.read.parquet(f"{out_dir}/spans"))
    expected = _spans_set(spark.read.parquet(f"{corpus}/expected_spans.parquet"))
    assert got == expected

    # restart with no new files: no duplicates (checkpoint resume)
    q2 = stream_extract(
        spark, stream_dir, corpus, out_dir, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/spans").count() == len(expected)
    assert spark.conf.get(key) == "STATIC"


def test_stream_event_rollup_matches_batch(spark, tmp_path):
    from ocr_spark.streaming.job import stream_event_rollup

    stream_dir = str(tmp_path / "events_in")
    os.makedirs(stream_dir)
    shutil.copy(SF_EVENTS, os.path.join(stream_dir, "events-0.parquet"))

    schema = spark.read.parquet(SF_EVENTS).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    rollup = stream_event_rollup(spark, stream)

    q = (
        rollup.writeStream.outputMode("append")
        .format("memory")
        .queryName("rollup_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from rollup_sink")

    batch = (
        spark.read.parquet(SF_EVENTS)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
    )
    # availableNow emits only windows closed by the final watermark; every
    # emitted row must match the batch result exactly, and most windows close
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert got_rows <= batch_rows
    assert len(got_rows) >= len(batch_rows) - 5  # only trailing windows open


def test_stream_enrich_matches_batch_join(spark, tmp_path):
    """Stream-static enrichment: the streamed join output must equal the
    batch join row-for-row (stateless per micro-batch, two input files so
    at least two batches run against the same static snapshot)."""
    from ocr_spark.streaming.job import stream_enrich

    stream_dir = str(tmp_path / "enrich_in")
    os.makedirs(stream_dir)
    ev = spark.read.parquet(SF_EVENTS)
    # split the events into two files -> two micro-batches (maxFilesPerTrigger)
    a, b = ev.where(F.col("event_id") % 2 == 0), ev.where(F.col("event_id") % 2 == 1)
    a.write.parquet(os.path.join(stream_dir, "p0"))
    b.write.parquet(os.path.join(stream_dir, "p1"))

    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("user_total"))
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    dim_static = spark.read.parquet(dim_path)

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/*")
    )
    out = stream_enrich(stream, dim_static).select("event_id", "user_id", "user_total")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from enrich_sink").collect()}
    batch = {
        tuple(r)
        for r in ev.join(dim_static, "user_id", "left")
        .select("event_id", "user_id", "user_total")
        .collect()
    }
    assert got == batch


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join over time-ordered micro-batches
    equals the batch join row-for-row. Micro-batches are split by EVENT
    TIME (the realistic arrival order for a watermarked source — a split
    by id parity would make every batch span the whole month and rows in
    batch 3+ would be dropped as late, correctly, per watermark
    semantics), and the join window is widened to 3 days so many pairs
    cross micro-batch boundaries, exercising the join state."""
    from ocr_spark.streaming.job import stream_click_purchase_join

    stream_dir = str(tmp_path / "ssj_in")
    os.makedirs(stream_dir)
    ev = spark.read.parquet(SF_EVENTS)
    # four time-ordered slices -> four micro-batches
    qs = ev.selectExpr("percentile(unix_micros(cast(ts as timestamp)), array(0.25, 0.5, 0.75)) q").collect()[0].q
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    slices = [
        ev.where(us < qs[0]),
        ev.where((us >= qs[0]) & (us < qs[1])),
        ev.where((us >= qs[1]) & (us < qs[2])),
        ev.where(us >= qs[2]),
    ]
    for i, sl in enumerate(slices):
        # one file per slice: within-slice part files would arrive in
        # arbitrary order and rows >2h behind a sibling part would be
        # (correctly) dropped as late
        sl.coalesce(1).write.parquet(os.path.join(stream_dir, f"t{i}"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/*")
    )
    WINDOW_S = 3 * 86400
    out = stream_click_purchase_join(stream, window_s=WINDOW_S)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql("select * from ssj_sink").collect()}

    evt = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = evt.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = evt.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr(f"interval {WINDOW_S} seconds"))
    )
    batch = {
        tuple(r)
        for r in purchases.join(clicks, cond)
        .select("p_user", "buy_id", "buy_ts", "click_id", "click_ts")
        .collect()
    }

    import bisect
    import datetime as dt

    # session tz is UTC (spark fixture), so naive UTC datetimes align
    bounds = [dt.datetime.utcfromtimestamp(q / 1e6) for q in qs]

    def slice_of(ts):
        return bisect.bisect_right(bounds, ts)

    cross = sum(1 for (_, _, bts, _, cts) in batch if slice_of(bts) != slice_of(cts))
    assert cross >= 10, f"only {cross} cross-batch pairs — evidence too thin"
    assert len(batch) > 0
    assert got == batch


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """A replayed/duplicated event in a later micro-batch must be dropped:
    feed the same file twice (distinct mtimes -> two batches) and assert the
    deduped output equals one copy."""
    from ocr_spark.streaming.job import stream_dedup_exact

    stream_dir = str(tmp_path / "dup_in")
    os.makedirs(stream_dir)
    shutil.copy(SF_EVENTS, os.path.join(stream_dir, "a.parquet"))
    shutil.copy(SF_EVENTS, os.path.join(stream_dir, "b.parquet"))
    os.utime(os.path.join(stream_dir, "a.parquet"), (1_700_000_000,) * 2)
    os.utime(os.path.join(stream_dir, "b.parquet"), (1_700_000_100,) * 2)

    schema = spark.read.parquet(SF_EVENTS).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream_dedup_exact(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select event_id from dedup_sink")
    n_unique = spark.read.parquet(SF_EVENTS).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.distinct().count() == n_unique


def test_stateful_sessionize_spans_batches(spark, tmp_path):
    """State must carry across micro-batches: an event in batch 2 within the
    gap extends the session opened in batch 1; closed sessions match the
    batch sessionizer's (all but each user's final session)."""
    import pyarrow.parquet as pq

    from ocr_spark.functions.events import sessionize
    from ocr_spark.streaming.job import stream_sessionize_stateful

    stream_dir = str(tmp_path / "ev_in")
    os.makedirs(stream_dir)
    t = pq.read_table(SF_EVENTS)
    # split mid-table so many sessions straddle the file boundary
    n = t.num_rows
    pq.write_table(t.slice(0, n // 2), os.path.join(stream_dir, "a.parquet"))
    pq.write_table(t.slice(n // 2), os.path.join(stream_dir, "b.parquet"))
    # the file source orders batches by modification time; pin distinct
    # mtimes so the halves arrive in event order (the operator's contract is
    # in-order arrival per source, like log ingestion)
    os.utime(os.path.join(stream_dir, "a.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(stream_dir, "b.parquet"), (1_700_000_100, 1_700_000_100))

    schema = spark.read.parquet(SF_EVENTS).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream_sessionize_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sessions_sink").collect()
    }

    batch = sessionize(spark.read.parquet(SF_EVENTS)).collect()
    last_per_user = {}
    for r in batch:
        if r.user_id not in last_per_user or r.session_id > last_per_user[r.user_id]:
            last_per_user[r.user_id] = r.session_id
    expected = {
        (r.user_id, r.t_start, r.t_end, r.n_events)
        for r in batch
        if r.session_id != last_per_user[r.user_id]  # open sessions not emitted
    }
    assert got == expected
    assert len(got) > 50  # plenty of closed sessions in the sf0.001 stream


def test_stateful_sessionize_cross_batch_late_events(spark, tmp_path):
    """Pins the late-data contract (deliberate round-5 semantics, see
    stream_sessionize_stateful docstring): a batch-2 event OLDER than the
    open session's start and outside the gap becomes its own earlier CLOSED
    session — it is not folded into the open session. A late event within
    the gap of an interval still in state merges into it. A late event
    within the gap of an ALREADY-EMITTED session does NOT merge (append
    mode cannot retract): it starts a new session — the third batch pins
    that limit explicitly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.streaming.job import stream_sessionize_stateful

    def _write(path, ts_seconds):
        ts = np.asarray(ts_seconds, dtype=np.int64) * 1_000_000
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array(np.full(len(ts), 7, dtype=np.int64)),
                    "ts": pa.array(ts, type=pa.timestamp("us")),
                }
            ),
            path,
        )

    stream_dir = str(tmp_path / "late_in")
    os.makedirs(stream_dir)
    base = 1_600_000_000
    # batch 1: open session at base+10000 (two events 5 s apart)
    _write(os.path.join(stream_dir, "a.parquet"), [base + 10_000, base + 10_005])
    # batch 2, all out of order vs batch 1:
    #   base+1000   -> older than the open session, gap-separated: OWN session
    #   base+10_900 -> within gap (1800 s) of [10000,10005]: merges into it
    #   base+50_000 -> new open session, closes everything earlier
    _write(
        os.path.join(stream_dir, "b.parquet"),
        [base + 1_000, base + 10_900, base + 50_000],
    )
    # batch 3: base+1100 is within gap of the base+1000 session EMITTED in
    # batch 2 — it must NOT merge (no retraction in append mode); with the
    # later open [50000] interval in state it closes immediately as its own
    # 1-event session
    _write(os.path.join(stream_dir, "c.parquet"), [base + 1_100])
    os.utime(os.path.join(stream_dir, "a.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(stream_dir, "b.parquet"), (1_700_000_100, 1_700_000_100))
    os.utime(os.path.join(stream_dir, "c.parquet"), (1_700_000_200, 1_700_000_200))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream_sessionize_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_sessions_sink")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r.user_id, r.session_start.timestamp(), r.session_end.timestamp(), r.n_events)
        for r in spark.sql("select * from late_sessions_sink").collect()
    )
    expected = [
        (7, float(base + 1_000), float(base + 1_000), 1),       # late, own session
        (7, float(base + 1_100), float(base + 1_100), 1),       # near EMITTED session: new, no merge
        (7, float(base + 10_000), float(base + 10_900), 3),     # merged within gap (in state)
    ]
    assert got == expected  # base+50000 stays open in state, not emitted


def test_merge_session_intervals_order_independent():
    """The chunk fold must be exact under ANY chunking and ANY cross-chunk
    disorder: folding a shuffled, arbitrarily-chunked stream of timestamps
    yields bit-identical intervals to one pass over the fully sorted data
    (gap-union of point intervals is order-independent)."""
    import numpy as np

    from ocr_spark.streaming.job import _merge_session_intervals

    rng = np.random.RandomState(7)
    gap = 100
    ts = rng.randint(0, 20_000, size=5_000).astype(np.int64)
    ref = _merge_session_intervals([], np.sort(ts), gap)

    shuffled = ts[rng.permutation(len(ts))]
    acc = []
    for chunk in np.array_split(shuffled, 13):
        acc = _merge_session_intervals(acc, chunk, gap)
    assert acc == ref

    assert sum(c for _, _, c in ref) == len(ts)
    for a, b in zip(ref, ref[1:]):
        assert b[0] - a[1] > gap  # intervals really are gap-separated


def test_stateful_sessionize_restart_with_backlog(spark, tmp_path):
    """Kill + restart with a hot-key backlog (VERDICT r04 #8): a query dies
    holding an OPEN 10^4-event session in state; a backlog file lands while
    it is down; the restarted query (same checkpoint) must recover the
    buffered session from the state store and continue it — the merged
    closed-session set must equal batch sessionize over the union of all
    events, which fails loudly if restart loses or double-counts state."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.events import sessionize
    from ocr_spark.streaming.job import stream_sessionize_stateful

    base = 1_600_000_000
    rng = np.random.RandomState(13)

    def _tbl(user, ts_seconds):
        ts = np.asarray(ts_seconds, dtype=np.int64)
        return pa.table(
            {
                "user_id": pa.array(np.full(len(ts), user, dtype=np.int64)),
                "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us")),
            }
        )

    # session 1 of hot user 42: 10_000 events at 1 s stride, SPLIT across the
    # kill — the first 6_000 arrive before it, the rest in the backlog, so the
    # open session must survive the restart to count 10_000
    s1 = base + np.arange(10_000, dtype=np.int64)
    part_a = s1[:6_000][rng.permutation(6_000)]
    part_b = s1[6_000:][rng.permutation(4_000)]
    # backlog also holds a full later session and a final open one (> gap apart)
    s2 = base + 40_000 + np.arange(10_000, dtype=np.int64)
    s3 = base + 80_000 + np.arange(5, dtype=np.int64)
    # a second, cold user with one session per phase
    u7_a = [base + 100, base + 105]
    u7_b = [base + 9_000, base + 9_010]

    stream_dir = str(tmp_path / "restart_in")
    os.makedirs(stream_dir)
    ckpt = str(tmp_path / "restart_ckpt")
    out_dir = str(tmp_path / "restart_out")
    pq.write_table(
        pa.concat_tables([_tbl(42, part_a), _tbl(7, u7_a)]),
        os.path.join(stream_dir, "a.parquet"),
    )

    def _run():
        # a FILE sink, not the memory sink: only a durable sink supports
        # checkpoint recovery, which is the whole point of this test
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            stream_sessionize_stateful(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _run()  # drains file a, then terminates (the "kill")

    # backlog lands while the query is down
    pq.write_table(
        pa.concat_tables(
            [_tbl(42, np.concatenate([part_b, s2, s3])), _tbl(7, u7_b)]
        ),
        os.path.join(stream_dir, "b.parquet"),
    )
    _run()  # restart from the same checkpoint

    got = sorted(
        (r.user_id, r.session_start.timestamp(), r.session_end.timestamp(), r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    )

    # sessionize's event_id tiebreaker is irrelevant here (per-user ts are
    # unique), but the column must exist
    batch = sessionize(
        spark.read.parquet(stream_dir)
        .withColumn("event_id", F.monotonically_increasing_id())
        .withColumn("value", F.lit(0.0))
    ).collect()
    last_per_user = {}
    for r in batch:
        if r.user_id not in last_per_user or r.session_id > last_per_user[r.user_id]:
            last_per_user[r.user_id] = r.session_id
    expected = sorted(
        (r.user_id, r.t_start.timestamp(), r.t_end.timestamp(), r.n_events)
        for r in batch
        if r.session_id != last_per_user[r.user_id]  # open sessions not emitted
    )
    assert got == expected
    # the split 10^4-event session really closed with the full count
    assert (42, float(base), float(base + 9_999), 10_000) in got


def test_stateful_sessionize_hot_key_chunked(spark, tmp_path):
    """Hot-key memory contract: ONE user whose micro-batch spans many Arrow
    chunks (forced via arrow.maxRecordsPerBatch) sessionizes exactly even
    with events shuffled across chunks — the operator folds chunk-by-chunk
    (O(#sessions) state, see _merge_session_intervals) instead of
    pd.concat-ing the whole batch, which OOMed on hot keys."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.streaming.job import stream_sessionize_stateful

    base = 1_600_000_000
    n_per = 10_000
    starts = [base, base + 20_000, base + 40_000]  # 1s strides, gaps >> 1800s
    ts = np.concatenate([s + np.arange(n_per, dtype=np.int64) for s in starts])
    rng = np.random.RandomState(11)
    ts = ts[rng.permutation(len(ts))]  # shuffled across the whole batch

    stream_dir = str(tmp_path / "hot_in")
    os.makedirs(stream_dir)
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array(np.full(len(ts), 42, dtype=np.int64)),
                "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us")),
            }
        ),
        os.path.join(stream_dir, "a.parquet"),
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
    try:
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .parquet(stream_dir)
        )
        q = (
            stream_sessionize_stateful(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("hot_sessions_sink")
            .option("checkpointLocation", str(tmp_path / "hot_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    got = sorted(
        (r.user_id, r.session_start.timestamp(), r.session_end.timestamp(), r.n_events)
        for r in spark.sql("select * from hot_sessions_sink").collect()
    )
    # the first two sessions close (a later session exists); the third stays
    # open in state and is not emitted
    expected = [
        (42, float(s), float(s + n_per - 1), n_per) for s in starts[:2]
    ]
    assert got == expected
