"""Streaming transformations: watermarked tumbling/sliding windows and
sessionization over the events stream.

These are plan builders usable on BOTH batch and streaming DataFrames (the
Structured Streaming model: same declarative plan, incremental execution);
tests run them through readStream on rate/file sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_go_spark.hints import broadcast_if_small

# Shared exact-arithmetic helper (delta_go_spark.exact); re-exported here
# for the streaming queries and their tests.
from delta_go_spark.exact import cents as _cents  # noqa: E402


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP_LTZ; promote NTZ event time (the session
    time zone defines the instant mapping, consistently for the pipeline)."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling_counts(
    events: DataFrame,
    window_length: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Windowed count+sum per key; with a watermark when streaming so late
    state is bounded (the 100 TB streaming requirement: state must not grow
    with input)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_length).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    window_length: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    df = events
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, "2 hours")
    return (
        df.groupBy(
            F.window(F.col(ts_col), window_length, slide).alias("win"), F.col(key_col)
        )
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "avg_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based).  Spark's session_window handles the
    stateful merging; on streams a watermark bounds session state."""
    df = events
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, "2 hours")
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end Structured Streaming query entry: the hourly events rollup run
# THROUGH the streaming engine (file source -> windowed agg -> memory sink,
# availableNow trigger).  Deterministic, so it hash-matches the same DuckDB
# oracle as the batch variant — proving plan parity between the two engines.
def streaming_hourly_rollup(spark, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema  # ts arrives as bigint nanos
    # The file streaming source wants a directory; point it at sf_dir and
    # glob-filter to the one table file.
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    agg = (
        stream.groupBy(
            F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink = "streaming_hourly_rollup_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).orderBy("hour_ts", "event_type")


STREAMING_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_ts,
       event_type,
       count(*)               AS n_events,
       round(sum(value), 2)   AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_ts, event_type
"""


QUERIES: dict = {
    "streaming_hourly_rollup": (streaming_hourly_rollup, STREAMING_HOURLY_SQL),
}


# ---------------------------------------------------------------------------
# Sessionization with an exact relational oracle: Spark's session_window
# (gap-merge) equals the classic islands-and-gaps SQL (lag + running sum of
# session starts) — proven per-row by the hash check.
def session_windows_events(spark, sf_dir: str) -> DataFrame:
    from delta_go_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOWS_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM o
), numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts)              AS session_start,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


QUERIES["session_windows_events"] = (session_windows_events, SESSION_WINDOWS_SQL)


# ---------------------------------------------------------------------------
# Sliding windows (1h length, 30min slide): each event lands in exactly two
# windows; the oracle materializes both via unnest of the two candidate
# starts (time_bucket is calendar arithmetic — timezone-free on NTZ).
def sliding_avg_events(spark, sf_dir: str) -> DataFrame:
    from delta_go_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        sliding_avg(ev, "1 hour", "30 minutes", "ts", "event_type")
        .orderBy("window_start", "event_type")
    )


SLIDING_AVG_SQL = """
WITH w AS (
  SELECT event_type, value,
         unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE,
                 time_bucket(INTERVAL '30 minutes', ts)]) AS window_start
  FROM events
)
SELECT window_start, event_type, round(avg(value), 4) AS avg_value
FROM w
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


QUERIES["sliding_avg_events"] = (sliding_avg_events, SLIDING_AVG_SQL)


# ---------------------------------------------------------------------------
# Streaming exact dedup: dropDuplicates state over the event key while the
# stream flows — the in-flight deduplication every event pipeline needs
# before counts/feature extraction.  The deduped stream lands in the sink
# in append mode; state is bounded by KEY cardinality (documented
# contract; use dropDuplicatesWithinWatermark to bound by time instead
# when keys are unbounded).  Deterministic because the output aggregates
# only the key columns — whichever physical row wins per key, the key set
# is exactly the distinct set, so the oracle is COUNT(DISTINCT ...).
def streaming_dedup_events(spark, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    sink = "streaming_dedup_events_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


STREAMING_DEDUP_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES["streaming_dedup_events"] = (streaming_dedup_events, STREAMING_DEDUP_SQL)


# ---------------------------------------------------------------------------
# Stream-stream interval join: signup->purchase attribution run THROUGH the
# streaming engine.  The canonical Structured Streaming stateful join: both
# sides watermarked, the join condition carries an event-time interval, so
# Spark can evict state — signup state is held at most (watermark delay +
# join window), purchase state at most the watermark delay.  Without the
# interval bound the state store would grow with the stream; with it,
# state is O(traffic within the window) regardless of total stream length
# (the 100 TB/day requirement).  Deterministic under availableNow, so the
# result hash-matches the equivalent BATCH interval-join SQL in DuckDB —
# an independent engine executing the same semantics.
def streaming_interval_join_events(spark, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The interval condition is evaluated on ts_wm = NTZ cast to LTZ.
    # "Both sides shift together" only holds for FIXED-offset zones; under
    # a DST-observing session TZ the NTZ->LTZ cast is non-injective across
    # transitions and pair membership could diverge from the oracle's
    # pure-NTZ arithmetic.  Pin UTC for the cast (driver sessions are not
    # guaranteed to run under the repo's UTC-pinned session builder), and
    # RESTORE the caller's TZ after the stream materializes — leaking UTC
    # would shift every LTZ-rendering query that runs later in the same
    # session while its oracle stays on the system TZ.  The final agg
    # below is TZ-safe either way: the sink stores only NTZ timestamps.
    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(path).schema

    def _stream():
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn(
                "ts_ntz",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        else:
            s = s.withColumn("ts_ntz", F.col("ts"))
        # Watermarks/joins need TIMESTAMP_LTZ; the NTZ original is kept for
        # output so results never depend on the session time zone (the
        # LTZ values shift with TZ, but both sides shift together, so the
        # interval condition is TZ-invariant).
        return s.withColumn("ts_wm", F.col("ts_ntz").cast("timestamp"))

    signups = (
        _stream()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts_ntz").alias("signup_ts"),
            F.col("ts_wm").alias("s_wm"),
        )
        .withWatermark("s_wm", "1 hour")
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("value").alias("purchase_value"),
            F.col("ts_wm").alias("p_wm"),
        )
        .withWatermark("p_wm", "1 hour")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_wm") >= F.col("s_wm"))
        & (F.col("p_wm") <= F.col("s_wm") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    sink = "streaming_interval_join_sink"
    try:
        q = (
            joined.select("s_user", "signup_ts", "purchase_value")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
    return (
        spark.table(sink)
        .groupBy(
            # date_trunc returns LTZ; cast straight back to NTZ so the hour
            # label is identical under ANY session/driver time zone (the
            # events_hourly_rollup pattern)
            F.date_trunc("hour", "signup_ts")
            .cast("timestamp_ntz")
            .alias("signup_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("s_user").alias("n_users"),
            # integer cents from exact decimal arithmetic: rounding a
            # DOUBLE at 2dp can flip the last digit cross-engine (Spark
            # HALF_UP on the shortest repr vs DuckDB on the binary value)
            _cents(F.sum(F.col("purchase_value").cast("decimal(18,6)"))).alias(
                "purchase_cents"
            ),
        )
        .orderBy("signup_hour")
    )


STREAMING_INTERVAL_JOIN_SQL = """
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT date_trunc('hour', s.ts) AS signup_hour,
       count(*)                 AS n_pairs,
       count(DISTINCT s.user_id) AS n_users,
       CAST(floor(sum(CAST(p.value AS DECIMAL(18,6))) * 100 + 0.5) AS BIGINT)
         AS purchase_cents
FROM s JOIN p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 2 HOUR
GROUP BY 1
ORDER BY signup_hour
"""


QUERIES["streaming_interval_join_events"] = (
    streaming_interval_join_events,
    STREAMING_INTERVAL_JOIN_SQL,
)


def _isolated_stream_session(spark):
    """A new session over the shared context (own SQL conf) whose shuffle
    and state-store width is SPARK_GRAFT_STREAM_STATE_PARTITIONS (default
    4): streams whose key space is fixed by the query, not the data, size
    their partitions to it without touching the parent session's width."""
    import os

    raw = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(
            "SPARK_GRAFT_STREAM_STATE_PARTITIONS must be an integer > 0, "
            f"got {raw!r}"
        )
    ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", str(n))
    return ns


# ---------------------------------------------------------------------------
# Stream-static enrichment join: the canonical Structured Streaming lookup
# pattern — a streaming fact joined to a STATIC dimension (broadcast into
# every micro-batch, no state store involved; the static side is re-read
# per batch, which is what makes slowly-refreshed dimension tables work).
# Completes the streaming class coverage: rollup / session / sliding /
# stateful / dedup / interval-join / static-enrich.
def streaming_static_enrich_events(spark, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    # The stateful aggregate's key space is (4 tiers) x (handful of event
    # types) ~ 20 groups AT ANY SCALE — the key cardinality is fixed by
    # the query, not the data volume — yet the state store allocated one
    # partition per session shuffle partition (= cores), and EVERY
    # micro-batch pays a per-partition state-store commit (delta file
    # write + rename).  Profiled at sf0.1/local[32]: 32 state partitions,
    # summed commitTimeMs 14-74 s per batch for 20 state rows — the
    # row's entire cost is this fixed overhead (r13 verdict item 3).
    # Run the stream in an ISOLATED session (newSession: shared context,
    # own SQL conf) with state partitions sized to the KEY CARDINALITY —
    # a scale-independent property — leaving the parent session's batch
    # shuffle parallelism untouched.  Deployments with genuinely large
    # key spaces size it via SPARK_GRAFT_STREAM_STATE_PARTITIONS.
    ns = _isolated_stream_session(spark)
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = ns.read.parquet(path).schema
    stream = (
        ns.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    tiers = ns.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold"), (3, "platinum")],
        "tier_id int, tier string",
    )
    enriched = stream.withColumn(
        "tier_id", (F.col("user_id") % 4).cast("int")
    ).join(F.broadcast(tiers), "tier_id")
    agg = (
        enriched.groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation + integer cents: float sums merge in
            # engine-specific order, and even rounding an exact-decimal
            # sum as a DOUBLE can flip the last digit cross-engine
            _cents(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
                "value_cents"
            ),
        )
    )
    sink = "streaming_static_enrich_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ns.table(sink).orderBy("tier", "event_type")


STREAMING_STATIC_ENRICH_SQL = """
WITH tiers(tier_id, tier) AS (
  VALUES (0, 'bronze'), (1, 'silver'), (2, 'gold'), (3, 'platinum')
)
SELECT tier, event_type,
       count(*) AS n_events,
       CAST(floor(sum(CAST(value AS DECIMAL(18,6))) * 100 + 0.5) AS BIGINT)
         AS value_cents
FROM events e JOIN tiers t ON CAST(e.user_id % 4 AS INT) = t.tier_id
GROUP BY tier, event_type
ORDER BY tier, event_type
"""


QUERIES["streaming_static_enrich_events"] = (
    streaming_static_enrich_events,
    STREAMING_STATIC_ENRICH_SQL,
)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join — the "did the signup convert?"
# pattern where the ABSENCE of a match is the signal: signups with no
# purchase inside the 2-hour window emit with NULLs once the watermark
# proves no match can still arrive (Spark's no-data cleanup batch flushes
# the outer state after the last file).  Deterministic-by-construction:
# the result keeps only signups whose join window PROVABLY closed before
# end-of-stream (signup < max_ts - 3h - 1min: 2h window + 1h watermark
# delay + a one-minute margin off the eviction boundary), a pure batch
# predicate the oracle replays — so emission timing can never make the
# answer depend on micro-batch layout.
def streaming_leftouter_join_events(spark, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Same UTC pin + restore as streaming_interval_join_events: the
    # interval arithmetic runs on NTZ->LTZ casts, which only shift
    # uniformly under a fixed-offset zone.
    _prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        # everything from the batch schema read to stream termination runs
        # under the UTC pin; a failure anywhere must not leak UTC into the
        # shared session (it would shift every later LTZ-rendering query)
        schema = spark.read.parquet(path).schema

        def _stream():
            s = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
            )
            if dict(s.dtypes).get("ts") == "bigint":
                s = s.withColumn(
                    "ts_ntz",
                    F.expr(
                        "timestampadd(MICROSECOND, ts div 1000,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
            else:
                s = s.withColumn("ts_ntz", F.col("ts"))
            return s.withColumn("ts_wm", F.col("ts_ntz").cast("timestamp"))

        signups = (
            _stream()
            .filter(F.col("event_type") == "signup")
            .select(
                F.col("user_id").alias("s_user"),
                F.col("ts_ntz").alias("signup_ts"),
                F.col("ts_wm").alias("s_wm"),
            )
            .withWatermark("s_wm", "1 hour")
        )
        purchases = (
            _stream()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("value").alias("purchase_value"),
                F.col("ts_wm").alias("p_wm"),
            )
            .withWatermark("p_wm", "1 hour")
        )
        joined = signups.join(
            purchases,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_wm") >= F.col("s_wm"))
            & (F.col("p_wm") <= F.col("s_wm") + F.expr("INTERVAL 2 HOURS")),
            "leftOuter",
        )
        sink = "streaming_leftouter_join_sink"
        q = (
            joined.select("s_user", "signup_ts", "purchase_value")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.session.timeZone", _prev_tz)
    # closed-window cutoff from the BATCH view of the same file — O(1)
    # driver state, exactly replayable in the oracle
    from delta_go_spark.session import load_table

    # The query's global watermark is the MIN across both inputs (each =
    # max event time - 1h), so the provably-closed bound keys on the
    # EARLIER of the two sides' last events.
    cutoff = (
        load_table(spark, sf_dir, "events")  # ts already TIMESTAMP_NTZ here
        .filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.expr("timestampadd(MINUTE, -181, min(m))").alias("c"))
        .first()["c"]
    )
    return (
        spark.table(sink)
        .filter(
            F.col("signup_ts")
            # NTZ literal: F.lit(naive datetime) would build an LTZ literal
            # through the OS timezone and the comparison would coerce the
            # NTZ sink column through the (restored) session zone — the
            # exact trap the UTC pin exists to avoid
            < F.expr(f"TIMESTAMP_NTZ '{cutoff.isoformat(sep=' ')}'")
        )
        .groupBy(
            # LTZ->NTZ cast-back, same reason as above
            F.date_trunc("hour", "signup_ts")
            .cast("timestamp_ntz")
            .alias("signup_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_value").alias("n_matched"),
            F.count(F.when(F.col("purchase_value").isNull(), 1)).alias(
                "n_unconverted"
            ),
            _cents(
                F.sum(F.col("purchase_value").cast("decimal(18,6)"))
            ).alias("purchase_cents"),
        )
        .orderBy("signup_hour")
    )


STREAMING_LEFTOUTER_JOIN_SQL = """
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
     p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     cut AS (SELECT min(m) - INTERVAL 181 MINUTE AS c FROM (
               SELECT event_type, max(ts) AS m FROM events
               WHERE event_type IN ('signup', 'purchase')
               GROUP BY event_type))
SELECT date_trunc('hour', s.ts) AS signup_hour,
       count(*)                 AS n_rows,
       count(p.value)           AS n_matched,
       count(*) FILTER (WHERE p.value IS NULL) AS n_unconverted,
       CAST(floor(sum(CAST(p.value AS DECIMAL(18,6))) * 100 + 0.5) AS BIGINT)
         AS purchase_cents
FROM s LEFT JOIN p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 2 HOUR
WHERE s.ts < (SELECT c FROM cut)
GROUP BY 1
ORDER BY signup_hour
"""


QUERIES["streaming_leftouter_join_events"] = (
    streaming_leftouter_join_events,
    STREAMING_LEFTOUTER_JOIN_SQL,
)


# ---------------------------------------------------------------------------
# Streaming ETL into the Delta table itself: a multi-micro-batch stream
# folded into a per-key aggregate table via one additive MERGE per batch —
# the lakehouse ingestion shape (foreachBatch + MERGE) with the engine's own
# transaction log as the sink.  Exactly-once per batch comes from the
# SetTransaction token committed atomically with each merge
# (reference: action/trx.go, op/names.go STREAMING_UPDATE).
def _ev4_split(spark, sf_dir: str) -> str:
    """events split into 4 parquet files by event_id % 4 (deliberately NOT
    time-ordered, so multi-batch merge logic sees out-of-order arrival).

    Content signature in the cache name: a regenerated events fixture
    under the same sf path rebuilds the split instead of serving stale
    batches against a fresh oracle; rendered via fixture_cache_path
    (r10) — same physical path, one scheme repo-wide."""
    import os
    import shutil

    from delta_go_spark.session import fixture_cache_path, fixture_sig, load_table

    src = fixture_cache_path(
        "stream", sf_dir, f"ev4_{fixture_sig(sf_dir, 'events')}"
    )
    if not os.path.isdir(src) or len(
        [f for f in os.listdir(src) if f.endswith(".parquet")]
    ) < 4:
        shutil.rmtree(src, ignore_errors=True)
        ev = load_table(spark, sf_dir, "events")
        for i in range(4):
            ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
    return src


def _run_scratch(cache: str, name: str) -> str:
    """Fresh per-process scratch dir for a streaming sink run,
    collision-free ACROSS processes (a fixed shared path rmtree'd on entry
    would clobber a concurrent run's live checkpoint): each call gets
    run-<pid>, wiped on entry — so one process reuses one directory across
    its repeated runs (driver window + parity tests + bench best-of-3) —
    and stale dirs of DEAD pids are swept, bounding the leak to live
    processes.  Queries rebuild rather than resume (the replay/exactly-once
    path is pinned by tests/test_streaming.py on the committers
    themselves)."""
    import os
    import shutil

    runs_root = os.path.join(cache, name)
    os.makedirs(runs_root, exist_ok=True)
    for d in os.listdir(runs_root):
        if not d.startswith("run-"):
            continue
        try:
            pid = int(d.split("-", 1)[1])
            os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs_root, d), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another user: leave it
    run_dir = os.path.join(runs_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    return run_dir


def streaming_delta_aggsink_events(spark, sf_dir: str) -> DataFrame:
    """events split into 4 source files -> readStream with
    maxFilesPerTrigger=1 (4 micro-batches) -> per-batch groupBy(event_type)
    -> additive MERGE into a Delta aggregate table -> read the final table.

    The per-key update is ADDITIVE (n += n_batch, cents += cents_batch),
    so the final state is independent of micro-batch order — which is what
    makes the DuckDB oracle (the global aggregate) exact.  Work per batch
    is proportional to the BATCH, never the table: the 100 TB ingestion
    property."""
    import os

    from delta_go_spark.dml import DeltaDml
    from delta_go_spark.writer import write_dataframe

    src = _ev4_split(spark, sf_dir)
    run_dir = _run_scratch(os.path.dirname(src), "aggsink_runs")
    target = os.path.join(run_dir, "agg")
    # Per-batch work here is a groupBy whose output is O(event types) and
    # a MERGE into an O(event types) aggregate table, yet every batch ran
    # its aggregate + merge joins at the parent session's one-partition-
    # per-core shuffle width (32 tasks per tiny exchange x ~8 exchanges x
    # 4 batches at sf0.1/local[32]).  Same remedy as the static-enrich
    # row (r13 verdict item 3): an ISOLATED session (shared context, own
    # SQL conf) with shuffle width sized to the KEY CARDINALITY — a
    # property of the query, not the data volume — leaving the parent
    # session's batch parallelism untouched.  Real deployments with wide
    # key spaces size it via SPARK_GRAFT_STREAM_STATE_PARTITIONS.  The
    # result is partitioning-independent (additive integer merge).
    ns = _isolated_stream_session(spark)
    seed = ns.createDataFrame(
        [], "event_type string, n_events long, value_cents long"
    )
    write_dataframe(seed, target)

    schema = ns.read.parquet(src).schema
    stream = (
        ns.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        deltas = (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("long")
                ).alias("value_cents"),
            )
        )
        DeltaDml(ns, target).merge(
            deltas,
            on="event_type",
            update_set={
                "n_events": F.col("n_events") + F.col("_s_n_events"),
                "value_cents": F.col("value_cents") + F.col("_s_value_cents"),
            },
            txn_app_id="aggsink",
            txn_version=batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from delta_go_spark.table import DeltaTable

    return DeltaTable.for_path(spark, target).to_df().orderBy("event_type")


STREAMING_DELTA_AGGSINK_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES["streaming_delta_aggsink_events"] = (
    streaming_delta_aggsink_events,
    STREAMING_DELTA_AGGSINK_SQL,
)


# ---------------------------------------------------------------------------
# Streaming SCD1 upsert sink (the CDC-apply shape): the stream is keyed
# (user_id) and each micro-batch MERGEs "newest event wins" into a Delta
# dimension table.  Unlike the aggsink's order-independent additive fold,
# LAST-WINS is order-SENSITIVE — and the 4-way event_id%4 split deliberately
# interleaves time, so a batch can carry events OLDER than the current
# table row.  The conditional update (apply the source row only when its
# (ts_us, event_id) exceeds the target's) is exactly the out-of-order
# guard a production CDC apply needs; idempotency per batch comes from the
# SetTransaction token (reference: action/trx.go, op/names.go
# STREAMING_UPDATE).  Work per batch ∝ batch keys + matched target files,
# never the table: the 100 TB ingestion property.
def streaming_upsert_events(spark, sf_dir: str) -> DataFrame:
    """4 out-of-order micro-batches -> per-batch one-row-per-user reduction
    -> conditional last-wins MERGE into a Delta user-state table -> read the
    final table.  Oracle: global per-user argmax over (ts, event_id) plus a
    per-user event count."""
    import os

    from pyspark.sql import Window

    from delta_go_spark.dml import DeltaDml
    from delta_go_spark.writer import write_dataframe

    src = _ev4_split(spark, sf_dir)
    run_dir = _run_scratch(os.path.dirname(src), "upsert_runs")
    target = os.path.join(run_dir, "users")
    seed = spark.createDataFrame(
        [],
        "user_id long, last_ts_us long, last_event_id long, "
        "last_type string, last_value_cents long, n_events long",
    )
    write_dataframe(seed, target)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        per_user = (
            batch_df.withColumn("_rk", F.row_number().over(w))
            .withColumn(
                "n_events",
                F.count(F.lit(1)).over(Window.partitionBy("user_id")),
            )
            .filter(F.col("_rk") == 1)
            .select(
                "user_id",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                ).alias("last_ts_us"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_type"),
                F.floor(F.col("value") * 100 + 0.5)
                .cast("long")
                .alias("last_value_cents"),
                "n_events",
            )
        )
        newer = (F.col("_s_last_ts_us") > F.col("last_ts_us")) | (
            (F.col("_s_last_ts_us") == F.col("last_ts_us"))
            & (F.col("_s_last_event_id") > F.col("last_event_id"))
        )

        def keep(col: str):
            return F.when(newer, F.col(f"_s_{col}")).otherwise(F.col(col))

        DeltaDml(spark, target).merge(
            per_user,
            on="user_id",
            update_set={
                "last_ts_us": keep("last_ts_us"),
                "last_event_id": keep("last_event_id"),
                "last_type": keep("last_type"),
                "last_value_cents": keep("last_value_cents"),
                # the count is additive regardless of arrival order
                "n_events": F.col("n_events") + F.col("_s_n_events"),
            },
            txn_app_id="upsert",
            txn_version=batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from delta_go_spark.table import DeltaTable

    return DeltaTable.for_path(spark, target).to_df().orderBy("user_id")


STREAMING_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, value, event_id, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id,
       ts_us                                        AS last_ts_us,
       event_id                                     AS last_event_id,
       event_type                                   AS last_type,
       CAST(floor(value * 100 + 0.5) AS BIGINT)     AS last_value_cents,
       CAST(n AS BIGINT)                            AS n_events
FROM ranked
WHERE rk = 1
ORDER BY user_id
"""


QUERIES["streaming_upsert_events"] = (
    streaming_upsert_events,
    STREAMING_UPSERT_SQL,
)


def compact_state_tables(
    spark,
    tables: dict[str, str],
    batch_id: int,
    every: int,
    vacuum_retention_ms: int | None = None,
) -> None:
    """Every `every` batches, OPTIMIZE the maintainer's state tables
    (`tables` maps path -> cluster column), then — when
    `vacuum_retention_ms` is set — VACUUM each at that retention.

    Each per-batch MERGE appends the change's new rows as small files;
    over a long-running job they accumulate without bound (the log itself
    is bounded by postCommit checkpoints, the DATA file count is not).
    Compaction rebins them into ~target-size files sorted by the cluster
    column, committing dataChange=False so concurrent readers of the
    state keep snapshot isolation.  The trade is honest: the first merge
    after a compaction rewrites the larger compacted file(s) its keys
    land in — write amplification bounded by target_size and amortized
    over the N batches between compactions, the standard LSM bargain.
    Runs OUTSIDE the SetTransaction tokens: a replayed batch may re-run
    it, but dataChange=False compaction is idempotent in effect
    (re-binning already-compacted files is a no-op when min_files isn't
    met).  every=0 disables.

    VACUUM closes the growth axis compaction alone cannot: every merge
    and every compaction TOMBSTONE the files they rewrote, and the
    superseded bytes live on disk until vacuumed — so without it a
    long-running maintainer's disk footprint grows with total churn even
    while its ACTIVE file count stays bounded.  Vacuum here deletes
    tombstones older than the caller's retention (vacuum.py's standard
    contract — readers of snapshots older than the retention are stale by
    contract; a deployment sets this to its time-travel window, and None
    keeps vacuum manual).  It writes no commit, so a replayed batch
    re-running it is harmless."""
    if not every or batch_id <= 0 or batch_id % every:
        return
    from delta_go_spark.maintenance import optimize
    from delta_go_spark.vacuum import vacuum

    for tbl, cluster_col in tables.items():
        optimize(spark, tbl, cluster_by=[cluster_col])
        if vacuum_retention_ms is not None:
            vacuum(tbl, retention_millis=vacuum_retention_ms)


class IndexMaintainer:
    """foreachBatch sink for stream-maintained inverted-index state,
    stored in the engine's OWN Delta tables: a postings table keyed
    `pk` = token<US>doc (token, doc, tf) and an index table keyed
    `token` (df, cf, top_docs), each advanced by ONE MERGE per
    micro-batch — delete_condition removes the netted-away rows, the
    not-matched remainder inserts, exactly the CDC-apply committer
    shape streaming_upsert exercises.

    Idempotency: both merges carry a SetTransaction token (one app id
    per state table, version = batch_id), so a REPLAYED micro-batch
    (foreachBatch is at-least-once; a crash between the state commit
    and Spark's offset commit re-delivers the batch) no-ops at the
    TRANSACTION layer — the pointer-file machinery of the earlier
    parquet-generation form is gone, and with it the unbounded
    generation-dir growth.  A crash BETWEEN the two merges re-delivers
    the batch: the postings merge no-ops via its token and the index
    refresh recomputes from the (already post-batch) postings state,
    converging to the same rows — within a batch the index may lag the
    postings until the second merge lands, the standard
    eventually-consistent contract for a search index.  A RESTARTED
    maintenance job (new stream run, same checkpoint + state tables)
    resumes from the streaming offsets and the tables' txn versions.

    I/O shape (the r11 scale fix): per batch the merge REWRITES only
    data files containing a matched key (copy-on-write; the state is
    laid out token-hashed across `state_files` files so a batch
    touches few of them) and APPENDS the change's new rows — WRITTEN
    bytes scale with the CHANGE, not the state, pytest-pinned by
    reading the merge commit's own add/remove actions against the
    full state file count.  READS: the merge prunes candidate files
    by the source's key range against per-file stats
    (DeltaDml._merge_candidates) — that pays off on a RANGE-clustered
    key; this token-HASHED layout spreads every pk range across all
    files, trading read pruning for write locality (each token's
    postings live in exactly one file, so a batch's rewrites stay
    few).  A deployment whose batches touch token ranges would lay
    the state out repartitionByRange("token") and get both.

    RETENTION: each merge tombstones the files it rewrote; the Delta
    log bounds itself (postCommit checkpoints + expired-log cleanup)
    but superseded DATA files live until VACUUM — pass
    `vacuum_retention_ms` (the deployment's time-travel window) and the
    housekeeping step vacuums both state tables on the compaction
    cadence (compact_state_tables), the Delta-native bound on the same
    growth the old generation-dir form suffered unboundedly."""

    # one MERGE per state table per batch; the app ids namespace the
    # SetTransaction tokens so the two tables replay independently
    _TXN_POSTINGS = "idxmaint-postings"
    _TXN_INDEX = "idxmaint-index"

    # conservative in-memory bytes per broadcast affected-token row: a
    # ~24-char token string + JVM row overhead
    _TOKEN_ROW_EST_BYTES = 64

    def __init__(
        self,
        spark,
        state_dir: str,
        postings_v0: str,
        index_v0: str,
        top_k: int = 5,
        state_files: int = 8,
        compact_every: int = 8,
        vacuum_retention_ms: int | None = None,
    ):
        import os

        from delta_go_spark.log import DeltaLog
        from delta_go_spark.table import DeltaTable

        self.spark = spark
        self.top_k = top_k
        self.compact_every = compact_every
        self.vacuum_retention_ms = vacuum_retention_ms
        os.makedirs(state_dir, exist_ok=True)
        self.postings_tbl = os.path.join(state_dir, "postings")
        self.index_tbl = os.path.join(state_dir, "index")
        # seed each state table from the v0 parquet exactly once;
        # DeltaTable.create commits atomically, so a crash between the
        # two creates just re-creates the missing one on restart
        if not DeltaLog.for_table(self.postings_tbl).table_exists():
            DeltaTable.create(
                self.spark,
                self.postings_tbl,
                self._with_pk(spark.read.parquet(postings_v0)).repartition(
                    state_files, "token"
                ),
            )
        if not DeltaLog.for_table(self.index_tbl).table_exists():
            DeltaTable.create(
                self.spark,
                self.index_tbl,
                spark.read.parquet(index_v0).repartition(
                    state_files, "token"
                ),
            )

    @staticmethod
    def _with_pk(postings: DataFrame) -> DataFrame:
        # unit separator: a token is whitespace-split text, so \x1f
        # followed by a pure-digit tail cannot occur inside one
        return postings.withColumn(
            "pk",
            F.concat_ws("\x1f", F.col("token"), F.col("doc").cast("string")),
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from delta_go_spark.dml import DeltaDml
        from delta_go_spark.functions.textops import (
            cdf_net_changes,
            index_from_postings,
            token_postings,
        )
        from delta_go_spark.table import DeltaTable

        new_docs, deleted_docs = cdf_net_changes(
            batch_df.select("doc_id", "text", "_change_type", "_commit_version")
        )
        new_docs = new_docs.localCheckpoint()
        deleted_docs = deleted_docs.localCheckpoint()
        # one shingle pass per side, O(change) rows, each feeding both
        # the postings merge source and the affected-token set
        dp = self._with_pk(token_postings(new_docs)).localCheckpoint()
        del_p = self._with_pk(token_postings(deleted_docs)).localCheckpoint()
        affected = (
            dp.select("token")
            .unionByName(del_p.select("token"))
            .distinct()
            .localCheckpoint()
        )
        # O(change) for an incremental batch — but a BACKFILL pushed
        # through the same path would force a multi-GB broadcast, so the
        # hint is size-guarded (the dedup.py:1230 lesson): past the
        # session threshold the index refresh degrades to a shuffle join
        n_affected = affected.count()
        # postings MERGE: a netted-away posting deletes UNLESS the same
        # (token, doc) re-inserts in this very batch (delete-then-
        # reinsert nets to an update — the fresh tf must win, and a
        # duplicated source pk would trip the multiple-match guard)
        src = (
            del_p.join(dp, "pk", "left_anti")
            .withColumn("_del", F.lit(True))
            .unionByName(dp.withColumn("_del", F.lit(False)))
        )
        DeltaDml(self.spark, self.postings_tbl).merge(
            src,
            on="pk",
            update_set={"tf": F.col("_s_tf")},
            delete_condition="_del",
            txn_app_id=self._TXN_POSTINGS,
            txn_version=batch_id,
        )
        # index refresh: affected tokens re-rank over the POST-merge
        # postings state — deliberately post-merge, so a replay that
        # skipped the (already-applied) postings merge recomputes rows
        # identical to the first attempt's
        p1 = DeltaTable.for_path(self.spark, self.postings_tbl).to_df()
        refreshed = index_from_postings(
            p1.join(
                broadcast_if_small(
                    affected, n_affected * self._TOKEN_ROW_EST_BYTES
                ),
                "token",
            ),
            top_k=self.top_k,
            min_df=1,
        ).localCheckpoint()
        # an affected token with NO surviving postings leaves the index
        gone = affected.join(refreshed.select("token"), "token", "left_anti")
        isrc = refreshed.withColumn("_del", F.lit(False)).unionByName(
            gone.select(
                "token",
                F.lit(None).cast("long").alias("df"),
                F.lit(None).cast("long").alias("cf"),
                F.lit(None).cast("string").alias("top_docs"),
                F.lit(True).alias("_del"),
            )
        )
        DeltaDml(self.spark, self.index_tbl).merge(
            isrc,
            on="token",
            update_set={
                "df": F.col("_s_df"),
                "cf": F.col("_s_cf"),
                "top_docs": F.col("_s_top_docs"),
            },
            delete_condition="_del",
            txn_app_id=self._TXN_INDEX,
            txn_version=batch_id,
        )
        compact_state_tables(
            self.spark,
            {self.postings_tbl: "token", self.index_tbl: "token"},
            batch_id,
            self.compact_every,
            vacuum_retention_ms=self.vacuum_retention_ms,
        )

    def last_applied(self) -> int:
        """Highest batch_id fully folded into state — the INDEX table's
        SetTransaction version (the second of the two per-batch merges;
        once it lands the batch is completely applied)."""
        from delta_go_spark.log import DeltaLog

        snap = DeltaLog.for_table(self.index_tbl).update()
        t = snap.state().set_transactions.get(self._TXN_INDEX)
        return t.version if t else -1

    def current_index(self, min_df: int = 1) -> DataFrame:
        from delta_go_spark.table import DeltaTable

        return (
            DeltaTable.for_path(self.spark, self.index_tbl)
            .to_df()
            .filter(F.col("df") >= min_df)
            .select("token", "df", "cf", "top_docs")
            .orderBy("token")
        )


# ---------------------------------------------------------------------------
# Streaming index maintenance — the inverted index kept fresh by a
# Structured Streaming job over the table's OWN change feed
# (readStream.format("delta_go").option("readChangeFeed", "true")), the
# production shape for search-index upkeep: the maintenance job tails the
# change feed, each micro-batch nets its changes (cdf_net_changes handles
# multi-version catch-up batches via _commit_version) and applies the
# delete-aware O(change + affected-token postings) refresh, and state
# lives in the engine's OWN Delta tables advanced by one MERGE per batch
# under SetTransaction tokens, so a REPLAYED micro-batch (foreachBatch's
# at-least-once contract) is a no-op instead of a double-apply and
# written state bytes scale with the CHANGE, not the state (the r11
# parquet-generation form rewrote the full postings/index per batch).
# Oracle: the batch index SQL over the final
# live corpus — a hash match proves stream-maintained state converges to
# a from-scratch build through appends AND deletes.
def streaming_index_maintenance_docs(spark, sf_dir: str) -> DataFrame:
    import os

    from delta_go_spark.datasource import register
    from delta_go_spark.functions.textops import (
        index_from_postings,
        token_postings,
    )
    from delta_go_spark.operators.delta_queries import _CACHE_ROOT, _ensure_built
    from delta_go_spark.session import load_table
    from delta_go_spark.table import DeltaTable

    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(_CACHE_ROOT, key, "stream_invindex")
    tbl = os.path.join(root, "docs")
    postings_path = os.path.join(root, "postings_v0")
    index_path = os.path.join(root, "index_v0")

    def build():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "mod7", F.col("doc_id") % 7
        )
        v0 = docs.filter(F.col("doc_id") % 5 < 3)  # 60% of the corpus
        p0 = token_postings(v0)
        p0.write.mode("overwrite").parquet(postings_path)
        index_from_postings(
            spark.read.parquet(postings_path), top_k=3, min_df=1
        ).write.mode("overwrite").parquet(index_path)
        t = DeltaTable.create(
            spark, tbl, v0,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        t.append(docs.filter(F.col("doc_id") % 5 == 3))
        t.append(docs.filter(F.col("doc_id") % 5 == 4))
        t.delete_where("mod7 = 0")

    _ensure_built(tbl, 3, build, sf_dir=sf_dir, tables=("documents",))
    run_dir = _run_scratch(root, "runs")
    maintainer = IndexMaintainer(
        spark, run_dir, postings_path, index_path, top_k=3
    )
    register(spark)
    q = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(tbl)
        .writeStream.foreachBatch(maintainer.apply)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return maintainer.current_index(min_df=2)


def _streaming_index_sql() -> str:
    from delta_go_spark.functions.textops import inverted_index_sql

    # top_k=3 / min_df=2 (vs the CDF-incremental row's 5 / 3) so the two
    # maintenance rows hash different result sets despite sharing the
    # live corpus (every token with >3 postings ranks differently)
    return inverted_index_sql(
        top_k=3, min_df=2,
        source_sql="SELECT * FROM documents WHERE doc_id % 7 <> 0",
    )


QUERIES["streaming_index_maintenance_docs"] = (
    streaming_index_maintenance_docs,
    _streaming_index_sql(),
)


# ---------------------------------------------------------------------------
# Frequency-state maintenance — the IndexMaintainer committer shape applied
# to the CBO-stats axis.  The exact, delete-capable statistics
# (ndv_incremental's distinct counts, equidepth_from_frequencies'
# histogram buckets) are pure functions of a per-(column, value) frequency
# table; this maintainer is the production writer that keeps that table —
# and the per-column n_distinct derived from it — in the engine's OWN
# Delta tables, advanced by one MERGE per micro-batch under SetTransaction
# tokens.
class FrequencyStateMaintainer:
    """foreachBatch sink for stream-maintained column statistics, stored
    in two Delta tables: a frequency table keyed `pk` =
    column_name<US>val (column_name, val, cnt) and a stats table keyed
    `column_name` (column_name, n_distinct), each advanced by ONE MERGE
    per micro-batch.

    Per batch (all O(change) compute, fold_value_deltas' size-guarded
    state slice):

      1. net the CDF batch (cdf_net_changes) and sign-sum its per-value
         deltas (signed_value_deltas — the ONE netting rule every
         frequency consumer shares);
      2. fold against the CURRENT frequency state once
         (fold_value_deltas -> (column_name, val, c0, c1)), eagerly
         checkpointed so both merges read the same pre-batch image;
      3. MERGE the stats table first: n_distinct += the batch's
         zero-crossing sign-sum (columns netting to 0 are filtered out
         and touch no file);
      4. MERGE the frequency table last: cnt := c1, delete_condition
         removes rows whose frequency reached 0, never-seen values
         insert.

    MERGE ORDER IS A CRASH-RECOVERY INVARIANT: the stats delta (step 3)
    is computed AGAINST the pre-batch frequency image, so the table that
    other tables' deltas are derived FROM must advance LAST.  A crash
    between the merges re-delivers the batch (foreachBatch is
    at-least-once); the stats merge no-ops via its SetTransaction token
    and the frequency fold recomputes from the still-unchanged frequency
    state — converging to the same rows.  Were the order reversed, the
    replayed fold would read POST-merge frequencies and double-count
    crossings.  `last_applied` is therefore the FREQUENCY table's token:
    once the last merge lands the batch is completely applied.

    I/O shape: the frequency state is laid out pk-hashed across
    `state_files` files, so a batch's copy-on-write MERGE rewrites only
    the files holding a matched key and appends the new values — written
    bytes scale with the CHANGE, not the state (the same log-level pin
    as the IndexMaintainer, tests/test_ops_r13.py).  Every
    `compact_every` batches the small merge outputs compact
    (compact_state_tables, dataChange=False).  State size is O(distinct
    values) per column — the honest price of EXACT NDV under deletes
    (a sketch cannot forget); deployments choose the column set
    accordingly, and an unbounded-domain column (ids, raw text) pays
    O(corpus) state for exactness.

    VACUUM retention: each merge tombstones the files it rewrote; pass
    `vacuum_retention_ms` (the deployment's time-travel window) and the
    housekeeping step vacuums both state tables on the compaction
    cadence (compact_state_tables), as for any high-churn Delta
    table."""

    _TXN_FREQ = "freqmaint-freq"
    _TXN_STATS = "freqmaint-stats"

    def __init__(
        self,
        spark,
        state_dir: str,
        cols: list[str],
        freq_v0: str,
        ndv_v0: str,
        state_files: int = 8,
        compact_every: int = 8,
        vacuum_retention_ms: int | None = None,
    ):
        import os

        from delta_go_spark.log import DeltaLog
        from delta_go_spark.table import DeltaTable

        self.spark = spark
        self.cols = list(cols)
        self.compact_every = compact_every
        self.vacuum_retention_ms = vacuum_retention_ms
        os.makedirs(state_dir, exist_ok=True)
        self.freq_tbl = os.path.join(state_dir, "freq")
        self.stats_tbl = os.path.join(state_dir, "stats")
        # seed each state table from the v0 parquet exactly once;
        # DeltaTable.create commits atomically, so a crash between the
        # two creates just re-creates the missing one on restart
        if not DeltaLog.for_table(self.freq_tbl).table_exists():
            DeltaTable.create(
                self.spark,
                self.freq_tbl,
                self._with_pk(spark.read.parquet(freq_v0)).repartition(
                    state_files, "pk"
                ),
            )
        if not DeltaLog.for_table(self.stats_tbl).table_exists():
            DeltaTable.create(
                self.spark, self.stats_tbl, spark.read.parquet(ndv_v0)
            )

    @staticmethod
    def _with_pk(freq: DataFrame) -> DataFrame:
        # unit separator directly after the code-controlled column name
        # (which never contains \x1f); `val` is the raw tail, so the key
        # is injective whatever bytes the VALUE carries
        return freq.withColumn(
            "pk", F.concat_ws("\x1f", F.col("column_name"), F.col("val"))
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fold one CDF micro-batch (doc_id + the profiled payload columns
        + _change_type/_commit_version, the cdf_net_changes contract)."""
        from delta_go_spark.dml import DeltaDml
        from delta_go_spark.functions.textops import cdf_net_changes
        from delta_go_spark.operators.coverage import (
            fold_value_deltas,
            signed_value_deltas,
            zero_crossings,
        )
        from delta_go_spark.table import DeltaTable

        if self.last_applied() >= batch_id:
            return  # replayed batch: both merges would no-op anyway
        payload = tuple(c for c in self.cols if c != "doc_id")
        new_rows, deleted_rows = cdf_net_changes(
            batch_df, payload_cols=payload
        )
        signed = (
            signed_value_deltas(new_rows, deleted_rows, self.cols)
            .filter(F.col("d") != 0)
            .localCheckpoint()
        )
        freq0 = DeltaTable.for_path(self.spark, self.freq_tbl).to_df()
        # EAGER checkpoint before either merge: both sources must read the
        # pre-batch frequency image, and the frequency merge below
        # invalidates it
        folded = fold_value_deltas(freq0, signed).localCheckpoint()
        DeltaDml(self.spark, self.stats_tbl).merge(
            zero_crossings(folded),
            on="column_name",
            update_set={
                "n_distinct": (
                    F.col("n_distinct") + F.col("_s_adj")
                ).cast("long")
            },
            insert_set={"n_distinct": F.col("adj").cast("long")},
            txn_app_id=self._TXN_STATS,
            txn_version=batch_id,
        )
        fsrc = self._with_pk(folded).withColumn("_del", F.col("c1") <= 0)
        DeltaDml(self.spark, self.freq_tbl).merge(
            fsrc,
            on="pk",
            update_set={"cnt": F.col("_s_c1")},
            insert_set={"cnt": F.col("c1")},
            delete_condition="_del",
            txn_app_id=self._TXN_FREQ,
            txn_version=batch_id,
        )
        compact_state_tables(
            self.spark,
            {self.freq_tbl: "pk", self.stats_tbl: "column_name"},
            batch_id,
            self.compact_every,
            vacuum_retention_ms=self.vacuum_retention_ms,
        )

    def last_applied(self) -> int:
        """Highest batch_id fully folded into state — the FREQUENCY
        table's SetTransaction version (the second of the two per-batch
        merges; see the merge-order invariant in the class docstring)."""
        from delta_go_spark.log import DeltaLog

        snap = DeltaLog.for_table(self.freq_tbl).update()
        t = snap.state().set_transactions.get(self._TXN_FREQ)
        return t.version if t else -1

    def current_ndv(self) -> DataFrame:
        from delta_go_spark.table import DeltaTable

        return (
            DeltaTable.for_path(self.spark, self.stats_tbl)
            .to_df()
            .select("column_name", F.col("n_distinct").cast("long"))
            .orderBy("column_name")
        )

    def current_frequencies(self, column: str) -> DataFrame:
        from delta_go_spark.table import DeltaTable

        return (
            DeltaTable.for_path(self.spark, self.freq_tbl)
            .to_df()
            .filter(F.col("column_name") == column)
            .select("val", "cnt")
        )

    def current_histogram(
        self, column: str, buckets: int = 8, val_type: str = "long"
    ) -> DataFrame:
        """Equi-depth histogram served from the MAINTAINED state at
        O(distinct) — the CBO-stats refresh that never rescans the
        corpus.  `val_type` casts the stringified state values back to
        the column's native type so bucket ordering is numeric, not
        collation-dependent."""
        from delta_go_spark.operators.coverage import (
            equidepth_from_frequencies,
        )

        freq = self.current_frequencies(column).select(
            F.col("val").cast(val_type).alias("val"), "cnt"
        )
        return equidepth_from_frequencies(freq, buckets=buckets)


# ---------------------------------------------------------------------------
# Streaming stats maintenance — the FrequencyStateMaintainer driven the way
# production drives it: a Structured Streaming job tailing the table's OWN
# change feed (readStream.format("delta_go").option("readChangeFeed")),
# each micro-batch folded by ONE MERGE per state table under
# SetTransaction tokens.  This is the CBO-stats twin of
# streaming_index_maintenance_docs: ANALYZE numbers that stay fresh while
# the table churns, at O(change) per batch, exactly-once under foreachBatch
# replays, resumable across stream restarts.  Oracle: count(DISTINCT) per
# column over the final live corpus — a hash match proves stream-maintained
# NDV state converges to a from-scratch count through appends AND deletes.
_STREAM_STATS_COLS = ["lang", "n_chars", "source"]


def streaming_stats_maintenance_docs(spark, sf_dir: str) -> DataFrame:
    import os

    from delta_go_spark.datasource import register
    from delta_go_spark.operators.coverage import value_frequencies
    from delta_go_spark.operators.delta_queries import _CACHE_ROOT, _ensure_built
    from delta_go_spark.session import load_table
    from delta_go_spark.table import DeltaTable

    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(_CACHE_ROOT, key, "stream_stats")
    tbl = os.path.join(root, "docs")
    freq_path = os.path.join(root, "freq_v0")
    ndv_path = os.path.join(root, "ndv_v0")

    def build():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "mod7", F.col("doc_id") % 7
        )
        v0 = docs.filter(F.col("doc_id") % 5 < 3)  # 60% of the corpus
        value_frequencies(v0, _STREAM_STATS_COLS).write.mode(
            "overwrite"
        ).parquet(freq_path)
        spark.read.parquet(freq_path).groupBy("column_name").agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct")
        ).write.mode("overwrite").parquet(ndv_path)
        t = DeltaTable.create(
            spark, tbl, v0,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        t.append(docs.filter(F.col("doc_id") % 5 == 3))
        t.append(docs.filter(F.col("doc_id") % 5 == 4))
        t.delete_where("mod7 = 0")

    _ensure_built(
        tbl, 3, build, sf_dir=sf_dir, tables=("documents",),
        recipe=f"cols={_STREAM_STATS_COLS!r}",
    )
    run_dir = _run_scratch(root, "runs")
    # doc_id is the netting KEY (cdf_net_changes), not a maintained
    # column — the state tracks exactly the three profiled columns
    maintainer = FrequencyStateMaintainer(
        spark,
        os.path.join(run_dir, "state"),
        _STREAM_STATS_COLS,
        freq_path,
        ndv_path,
    )
    register(spark)
    q = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(tbl)
        .writeStream.foreachBatch(maintainer.apply)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return maintainer.current_ndv()


STREAMING_STATS_SQL = (
    "WITH live_docs AS (\n"
    "  SELECT * FROM documents WHERE doc_id % 7 <> 0\n"
    ")\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct FROM live_docs"
        for c in _STREAM_STATS_COLS
    )
    + "\nORDER BY column_name"
)


QUERIES["streaming_stats_maintenance_docs"] = (
    streaming_stats_maintenance_docs,
    STREAMING_STATS_SQL,
)
