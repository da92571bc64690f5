"""Event-stream analytics over the batch `events` table: tumbling-window
aggregation, gap-based sessionization, top-k users.

All operators are pure DataFrame/window expressions (no UDFs). Gap math is
done in epoch microseconds (exact integers) so the session boundaries are
bit-deterministic and identical to the SQL oracle. Money-ish sums are
computed in DECIMAL then cast to DOUBLE — exact, order-independent.

At scale: sessionization shuffles once on user_id (the window partition
key); tumbling windows are a single hash-agg with map-side partials. For a
live stream the same logic runs under Structured Streaming with
``session_window``/``window`` + watermark; this module is the batch shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min
TOP_USERS_K = 5


def tumbling_hourly(df: DataFrame) -> DataFrame:
    """Events per (hour bucket, event_type) with exact value sums."""
    return (
        df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def sessionize(df: DataFrame) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to the
    previous event exceeds SESSION_GAP_US. Output one row per session."""
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    # parquet timestamps surface as TIMESTAMP_NTZ; cast with session tz
    # pinned to UTC so epoch micros equal the oracle's naive epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > SESSION_GAP_US), 1).otherwise(0)
    with_sess = df.withColumn("_new", is_new).withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def asof_join(left: DataFrame, right: DataFrame, prefix: str = "asof_") -> DataFrame:
    """As-of join: attach to each left row the LATEST right row with
    ``right.ts <= left.ts`` for the same ``user_id`` (inclusive). Spark has
    no native as-of join; the scale-right composition is union + a
    last-ignore-nulls running window — ONE shuffle on the group key, no
    range-condition join (which would plan as a per-group cross product) and
    no row explosion. Right rows sort before left rows at equal ts so <= is
    inclusive; among equal-ts right rows the largest ``event_id`` wins
    (deterministic). Left rows with no prior right row get nulls.

    Output: all left columns plus ``prefix+event_id`` and ``prefix+ts``
    (the matched right row's id and timestamp).
    """
    reserved = {"_side", "_tie", "_payload", "_m"}
    for name, cols in (("left", left.columns), ("right", right.columns)):
        clash = reserved.intersection(cols)
        if clash:
            raise ValueError(
                f"asof_join reserves helper column(s) {sorted(clash)} which "
                f"already exist on the {name} DataFrame — rename them before "
                "joining"
            )
    r = right.select(
        F.col("user_id"),
        F.col("ts"),
        F.struct(F.col("ts").alias("_ts"), F.col("event_id").alias("event_id")).alias("_payload"),
        F.lit(0).alias("_side"),
        F.col("event_id").alias("_tie"),
    )
    l = left.withColumn("_side", F.lit(1)).withColumn("_tie", F.col("event_id"))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_side").asc(), F.col("_tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_payload", ignorenulls=True).over(w))
    out = matched.where(F.col("_side") == 1).select(
        *[F.col(c) for c in left.columns],
        F.col("_m._ts").alias(f"{prefix}ts"),
        F.col("_m.event_id").alias(f"{prefix}event_id"),
    )
    return out


def range_count_preceding(
    left: DataFrame,
    right: DataFrame,
    window_us: int | None = None,
    out_col: str = "n_prior",
) -> DataFrame:
    """Range join, bucketed: count right rows with timestamp in
    ``(left.ts - window_us, left.ts]`` for the same ``user_id``, for
    every left row (zero-match rows kept with count 0). ``window_us``
    defaults to SESSION_GAP_US as it is when the call runs.

    Spark has no native range join, and the naive theta-join
    (``r.ts BETWEEN l.ts - W AND l.ts``) plans as a per-group
    broadcast-nested-loop. The scale-right composition buckets right rows
    by ``floor(ts / W)`` and has each left row probe exactly TWO buckets
    (its own and the previous — any right row in the window must fall in
    one of them), turning the range condition into a plain equi-join on
    (user_id, bucket) plus an exact residual filter. Cost is one shuffle per
    side on a uniform composite key; no bucket sees more than ~2 windows
    of one group's rows, so group skew is already diluted W-fold.

    Duplicate left rows are SAFE: each left row gets an internal
    ``monotonically_increasing_id`` probe key (kept through the join,
    grouped on, and dropped before output), so two identical left rows
    each keep their own count instead of collapsing into one summed row.
    """
    if window_us is None:
        window_us = SESSION_GAP_US
    reserved = {"_l_us", "_bucket", "_r_by", "_r_us", "_l_rid"}
    for name, cols in (("left", left.columns), ("right", right.columns)):
        clash = reserved.intersection(cols)
        if clash:
            raise ValueError(
                f"range_count_preceding reserves helper column(s) "
                f"{sorted(clash)} which already exist on the {name} "
                "DataFrame — rename them before joining"
            )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # the probe id is projected BEFORE the explode, so both probe rows of
    # one left row share it; ids are partition-local counters (no shuffle)
    lb = left.withColumn("_l_rid", F.monotonically_increasing_id()).select(
        "*",
        us.alias("_l_us"),
        F.explode(
            F.array(
                F.floor(us / window_us) - 1, F.floor(us / window_us)
            )
        ).alias("_bucket"),
    )
    rb = right.select(
        F.col("user_id").alias("_r_by"),
        us.alias("_r_us"),
        F.floor(us / window_us).alias("_bucket"),
    )
    in_window = (
        (F.col("_r_us") > F.col("_l_us") - F.lit(window_us))
        & (F.col("_r_us") <= F.col("_l_us"))
    )
    # LEFT outer keeps zero-match rows (their probe rows survive with nulls);
    # each right match lands in exactly one probed bucket, so no double count
    return (
        lb.join(
            rb,
            (F.col("user_id") == F.col("_r_by")) & (lb["_bucket"] == rb["_bucket"]),
            "left",
        )
        .groupBy(lb["_l_rid"], *[lb[c] for c in left.columns])
        .agg(
            F.count(F.when(in_window, F.lit(1))).cast("long").alias(out_col)
        )
        .drop("_l_rid")
    )


def top_users(df: DataFrame) -> DataFrame:
    """The TOP_USERS_K users ranked by event count, ties broken by user_id.

    Scale shape: orderBy+limit plans as TakeOrderedAndProject — per-partition
    k-row heaps, k rows total to the driver — so no global sort and no
    single-partition Exchange over the full aggregate (at 10^9 users a global
    row_number window would funnel every user through ONE task). The rank
    window then runs over only the k survivors."""
    counts = df.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    order = [F.desc("n_events"), F.asc("user_id")]
    top = counts.orderBy(*order).limit(TOP_USERS_K)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("user_id", "n_events", "rnk")
    )
