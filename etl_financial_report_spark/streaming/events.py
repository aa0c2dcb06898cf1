"""Event-stream transforms, written once and run both as batch (for the
DuckDB oracle) and as Structured Streaming (tests).

Design: each transform is a pure ``DataFrame -> DataFrame`` function, so
``spark.read.parquet`` and ``spark.readStream.schema(...).parquet`` feed
the identical logical plan — the Spark-first replacement for the
reference's imperative one-shot pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from ..schemas import EVENT_PROPS

# --------------------------------------------------------------- transforms


def with_props(events: DataFrame) -> DataFrame:
    """Parse the JSON props column (from_json on a declared schema —
    north-star addition; the reference has no JSON surface, SURVEY.md §2.7)."""
    return events.withColumn("props_parsed", F.from_json("props", EVENT_PROPS))


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type. In streaming mode add
    ``withWatermark("ts", ...)`` upstream; the aggregation is identical."""
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ----------------------------------------------------------------- queries


@register(
    "events_tumbling_window",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 1h window agg over events (streaming-equivalent batch plan).",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_json_extract",
    oracle="""
SELECT event_id,
       event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
""",
    doc="from_json over events.props with a declared schema + filter on the parsed field.",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_props(load_table(spark, sf_dir, "events"))
    return (
        ev.select("event_id", "event_type", F.col("props_parsed.k").alias("prop_k"))
        .where(F.col("prop_k") > 50)
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window aggregation — each event lands in width/slide
    overlapping windows; the batch equivalent enumerates window starts."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization per user: a session breaks when the gap to the
    previous event exceeds the threshold (lag + cumulative break flag —
    the same kernel as the reference's page-run pruning, W2). In streaming
    mode the equivalent is ``session_window(ts, gap)``."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    brk = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > gap_s, 1
    ).otherwise(0)
    sessions = (
        events.withColumn("brk", brk)
        .withColumn(
            "session_no",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "events_sliding_window",
    oracle="""
WITH slides AS (
    SELECT e.*, gs.s AS win_start
    FROM events e,
         LATERAL (
            SELECT unnest(generate_series(
                time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                time_bucket(INTERVAL '30 minutes', ts),
                INTERVAL '30 minutes')) AS s
         ) gs
    WHERE ts >= gs.s AND ts < gs.s + INTERVAL '1 hour'
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM slides
GROUP BY 1, 2
""",
    doc="Sliding 1h/30m window agg (streaming-equivalent batch plan).",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_sessionize",
    oracle="""
WITH ordered AS (
    SELECT *,
           CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT *,
           CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM ordered
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_no
""",
    doc=(
        "Sessionization (30-min gap): lag + cumulative break flag, the W2 kernel "
        "applied to time; streaming twin is session_window(ts, gap)."
    ),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


@register(
    "events_dedupe",
    oracle="""
SELECT event_id, COUNT(*) AS n
FROM (SELECT DISTINCT event_id, user_id, event_type FROM events)
GROUP BY event_id
""",
    doc="Stream-dedup batch twin: distinct on the event identity key.",
)
def events_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type")
        .dropDuplicates()
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_hybrid_rollup",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc=(
        "Continuous-aggregate (hypertable-rollup) pattern: hours older than "
        "the tail cutoff come from a PRE-AGGREGATED rollup frame, the last "
        "hour is aggregated from raw events at query time, and the union is "
        "proven identical to aggregating everything (the oracle is the plain "
        "aggregation). At scale the rollup side is a materialized table "
        "maintained by the streaming tumbling-window job — queries touch "
        "raw data only for the hot tail."
    ),
)
def events_hybrid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # cutoff = the latest event's hour, derived INSIDE the plan: a 1-row
    # max aggregate broadcast onto the scan (round 1 collect()ed it, which
    # cost an extra full pass over events before the real job)
    mx = ev.agg(F.date_trunc("hour", F.max("ts")).alias("cutoff"))
    evc = ev.crossJoin(F.broadcast(mx))
    old = tumbling_counts(evc.where(F.date_trunc("hour", "ts") < F.col("cutoff")).drop("cutoff"))
    tail = tumbling_counts(evc.where(F.date_trunc("hour", "ts") >= F.col("cutoff")).drop("cutoff"))
    return old.unionByName(tail)


@register(
    "events_variant_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(CASE WHEN json_valid(props)
                              THEN json_extract(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(TRY_CAST(CASE WHEN json_valid(props)
                              THEN json_extract(props, '$.k') END AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc=(
        "Semi-structured props via the Spark 4 VARIANT type: "
        "try_parse_json once, try_variant_get typed paths — the "
        "open-schema alternative to from_json when the props shape isn't "
        "declared up front (events_json_extract covers the "
        "declared-schema path). The try_ forms are load-bearing on real "
        "data: malformed JSON and a non-numeric $.k read NULL instead of "
        "killing the job (MALFORMED_RECORD / invalidVariantCast — "
        "tests/test_hostile_corpus.py), matching the oracle's "
        "json_valid guard + TRY_CAST."
    ),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_session_duration_hist",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_id, ts,
           CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM ordered
), sess AS (
    SELECT user_id, session_no,
           CAST(floor(epoch(max(ts))) AS BIGINT)
               - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_s,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
)
SELECT CAST(dur_s // 600 AS BIGINT) AS dur_bucket_10m,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MIN(dur_s) AS BIGINT) AS min_dur_s,
       CAST(MAX(dur_s) AS BIGINT) AS max_dur_s
FROM sess GROUP BY dur_s // 600
""",
    doc=(
        "Session-duration histogram over the 30-min-gap sessionization: "
        "fixed 10-minute duration buckets with per-bucket session/event "
        "counts and exact duration bounds — the engagement-shape "
        "diagnostic downstream of events_sessionize (same session kernel; "
        "integer epoch seconds, so bucketing is exact in both engines). "
        "Exchanges shrink events -> sessions -> O(buckets) rows."
    ),
)
def events_session_duration_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = (
        sessionize(load_table(spark, sf_dir, "events"))
        .select(
            "user_id",
            "session_no",
            "n_events",
            (
                F.unix_timestamp(F.to_timestamp("session_end"))
                - F.unix_timestamp(F.to_timestamp("session_start"))
            ).alias("dur_s"),
        )
    )
    return sess.groupBy(F.expr("dur_s DIV 600").cast("long").alias("dur_bucket_10m")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.min("dur_s").cast("long").alias("min_dur_s"),
        F.max("dur_s").cast("long").alias("max_dur_s"),
    )
