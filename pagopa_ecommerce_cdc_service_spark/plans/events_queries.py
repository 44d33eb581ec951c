"""Event-stream operator suite over the generic ``events`` table.

These generalize the reference's stream-shaped semantics (keyed last-event
state, time ordering, sessionization) into reusable batch operators with
DuckDB oracles. The streaming twins live in ``streaming/``.

Scale notes: every window partitions by ``user_id`` (the natural key); the
tumbling/daily rollups are plain hash aggregations. All arithmetic on the
``value`` column is decimal-exact (helpers.py discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.pipeline import drain_to_memory
from .helpers import (
    dec,
    gate_workdir,
    money_sum,
    read,
    registrar,
    staged_stream,
)

QUERIES = {}
ORACLES = {}

# DuckDB reads events.ts at nanosecond precision; Spark (and the driver's
# hash compare) work at micros. Every oracle goes through this shadowing
# inline view so both engines see identical micro-floored timestamps.
EV = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value, props FROM events) events"
)


query = registrar(QUERIES, ORACLES)


# ---------------------------------------------------------------------------
# last event per user — the keyed "current state" view (M1 analog)
# ---------------------------------------------------------------------------
@query(
    "w_last_event_per_user",
    f"""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM {EV}
    ) t WHERE rn = 1
    """,
)
def w_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# sessionization: 30-minute-gap sessions (lag + cumulative island id)
# ---------------------------------------------------------------------------
_SESSION_SQL_CORE = f"""
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM {EV}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query(
    "w_session_stats",
    f"""
    SELECT user_id,
           COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events,
           MAX(session_len) AS max_session_events
    FROM (
      SELECT user_id, session_id,
             COUNT(*) OVER (PARTITION BY user_id, session_id) AS session_len
      FROM (
        SELECT user_id, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ({_SESSION_SQL_CORE})
      )
    )
    GROUP BY user_id
    """,
)
def w_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full microsecond precision: `ts.cast('long')` would truncate to seconds
    # while the oracle compares the exact interval — a gap within 1s of the
    # 30-min boundary would sessionize differently
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    with_sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess_len = F.count("*").over(Window.partitionBy("user_id", "session_id"))
    return (
        with_sess.withColumn("session_len", sess_len)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.max("session_len").alias("max_session_events"),
        )
    )


# ---------------------------------------------------------------------------
# session windows (Spark-native session_window vs SQL gap-islands)
# ---------------------------------------------------------------------------
@query(
    "w_session_windows",
    f"""
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        -- >= : Spark's session_window treats event ranges as [ts, ts+gap),
        -- so an event exactly 30:00 after the previous one starts a NEW
        -- session; the gap-island twin must use >= to match
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM {EV}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
    )
    GROUP BY user_id, session_id
    """,
)
def w_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's native session_window: batch groupBy over a dynamic-gap window;
    # in streaming the same expression runs incrementally with state.
    ev = read(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# tumbling hourly rollup
# ---------------------------------------------------------------------------
@query(
    "w_tumbling_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def w_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum(dec("value"), "sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING tumbling window under the hard gate: the same hourly rollup run
# through Structured Streaming with a 1-hour watermark in append mode — only
# windows the watermark has finalized are emitted, so a far-future flush
# event (written as a second file, processed as a later micro-batch)
# deterministically finalizes every real window. The memory-sink result must
# hash-match the plain batch GROUP BY oracle: streaming ≡ batch ≡ SQL for
# event-time windows (append mode forbids count-distinct, hence no n_users
# here unlike the batch w_tumbling_hourly).
# ---------------------------------------------------------------------------
@query(
    "w_stream_tumbling_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def w_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select("ts", "event_type", "value")
    # watermark flush row at max(ts)+3h, computed and written executor-side
    # (a one-row aggregate DF) — no scalar ever crosses to the driver
    flush = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    workdir = gate_workdir("stream-window-gate-")
    stream = (
        staged_stream(workdir, [ev, flush])
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum(dec("value"), "sum_value"))
    )
    return (
        drain_to_memory(
            stream, "append", f"{workdir}/ckpt", "w_stream_tumbling_hourly"
        )
        .filter(F.col("event_type") != "__flush__")
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# STREAMING dedup under the hard gate (ST3's stream-level twin): the events
# table is replayed as micro-batch 1, then a duplicate subset (every third
# event — byte-identical redelivery, the crash-replay shape) "arrives" as
# micro-batch 2. dropDuplicatesWithinWatermark keys the stateful dedup on
# event_id; the watermark delay is sized past the corpus time-span so no
# row is ever late-dropped — every removal is the DEDUP operator's doing,
# across the batch boundary, from state. The deduped append stream must
# then aggregate to exactly the original table's per-type stats (the
# oracle): streaming dedup ≡ batch distinct. At scale the watermark delay
# is the redelivery horizon and state is evicted past it, the same
# horizon/capped-state trade the fold's seen-set makes.
# ---------------------------------------------------------------------------
@query(
    "w_stream_dedup_within_watermark",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_distinct_ids,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    GROUP BY event_type
    """,
)
def w_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    workdir = gate_workdir("stream-dedup-gate-")
    stream = (
        staged_stream(workdir, [ev, ev.filter(F.col("event_id") % 3 == 0)])
        # delay > the whole corpus span: nothing is ever late, so every
        # dropped row is provably the dedup state's decision
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        drain_to_memory(
            stream, "append", f"{workdir}/ckpt", "w_stream_dedup_within_watermark"
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
            money_sum(dec("value"), "sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING stream-static enrichment join under the hard gate: the events
# table replays as a 2-file stream and each micro-batch broadcast-joins the
# STATIC customer⋈nation dimension (the reference's "enrich the change
# stream against a lookup table" shape, and the standard streaming
# dimension join). Stateless — no watermark, no state store: Spark
# re-plans the static side into each micro-batch as a broadcast hash
# join, which is exactly the 100 TB posture (dim table → broadcast, the
# unbounded side never shuffles). The enriched append stream lands in a
# memory sink and must batch-aggregate to the plain three-way-join
# oracle: stream-enriched ≡ batch-joined.
# ---------------------------------------------------------------------------
@query(
    "w_stream_static_enrich",
    f"""
    SELECT c.c_mktsegment AS mktsegment,
           n.n_name AS nation_name,
           events.event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT events.user_id) AS n_users,
           CAST(SUM(CAST(events.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    JOIN customer c ON events.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def w_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select("user_id", "event_type", "value")
    dim = (
        read(spark, sf_dir, "customer")
        .join(
            read(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation_name"),
        )
    )
    workdir = gate_workdir("stream-enrich-gate-")
    parity = F.col("user_id") % 2
    stream = staged_stream(
        workdir, [ev.filter(parity == 0), ev.filter(parity == 1)]
    ).join(F.broadcast(dim), "user_id", "inner")
    return (
        drain_to_memory(stream, "append", f"{workdir}/ckpt", "w_stream_static_enrich")
        .groupBy("mktsegment", "nation_name", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum(dec("value"), "sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# sliding windows (1h window, 15min slide) via Spark window() vs SQL expansion
# ---------------------------------------------------------------------------
@query(
    "w_sliding_hourly",
    # each event belongs to 4 overlapping [start, start+1h) windows whose
    # starts sit on the 15-min grid: floor15(ts) - g*15min, g = 0..3
    f"""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + ((CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900) * INTERVAL 1 SECOND
             - (s.g * INTERVAL 15 MINUTE) AS win_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}, (SELECT UNNEST(range(4)) AS g) s
    GROUP BY 1
    """,
)
def w_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark-native sliding window: each event lands in 4 overlapping windows.
    ev = read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# salted two-phase aggregation over the hot event_type keys (a handful of
# types over the whole table — exactly the hot-key shape AQE cannot split,
# since it is one groupBy key, not a join). Result ≡ plain GROUP BY, so the
# oracle is the plain SQL; the plan is what differs (two exchanges, hot key
# spread over n_salts reduce slots).
# ---------------------------------------------------------------------------
@query(
    "w_salted_type_stats",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           MIN(user_id) AS min_user,
           MAX(user_id) AS max_user
    FROM {EV}
    GROUP BY event_type
    """,
)
def w_salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import SaltedAgg, count_agg, max_agg, min_agg, salted_agg

    ev = read(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        [
            count_agg("n_events"),
            SaltedAgg(
                lambda: F.sum(dec("value")),
                lambda c: F.sum(c).cast("double"),
                "sum_value",
            ),
            min_agg("user_id", "min_user"),
            max_agg("user_id", "max_user"),
        ],
        n_salts=16,
    )


# ---------------------------------------------------------------------------
# running total per user (cumulative decimal-exact sum)
# ---------------------------------------------------------------------------
@query(
    "w_running_total",
    f"""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM {EV}
    """,
)
def w_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value")).over(w).cast("double").alias("running_value"),
    )


# ---------------------------------------------------------------------------
# top-k per group (rank within event_type by value)
# ---------------------------------------------------------------------------
@query(
    "w_topk_per_type",
    f"""
    SELECT event_type, event_id, user_id, value, rk FROM (
      SELECT event_type, event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rk
      FROM {EV}
    ) t WHERE rk <= 5
    """,
)
def w_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("event_type", "event_id", "user_id", "value", "rk")
    )


# ---------------------------------------------------------------------------
# per-user consecutive delta (lag)
# ---------------------------------------------------------------------------
@query(
    "w_lag_delta",
    f"""
    SELECT event_id, user_id, ts,
           CAST(CAST(value AS DECIMAL(12,2))
                - LAG(CAST(value AS DECIMAL(12,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS DOUBLE) AS delta
    FROM {EV}
    """,
)
def w_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (dec("value") - F.lag(dec("value")).over(w)).cast("double").alias("delta"),
    )


# ---------------------------------------------------------------------------
# pivot: per-user event-type counts (fixed column set)
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "w_pivot_event_counts",
    f"""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM {EV} GROUP BY user_id
    """,
)
def w_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# daily activity rollup
# ---------------------------------------------------------------------------
@query(
    "w_daily_activity",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS active_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    GROUP BY date_trunc('day', ts)
    """,
)
def w_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("active_users"),
        money_sum(dec("value"), "sum_value"),
    )


# ---------------------------------------------------------------------------
# semi-structured extraction from the JSON props column
# ---------------------------------------------------------------------------
@query(
    "w_json_props_hist",
    f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           COUNT(*) AS n
    FROM {EV}
    GROUP BY 1
    """,
)
def w_json_props_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k_val")
        )
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# semi-structured extraction through Spark 4's VARIANT type: props parsed
# once into the binary variant encoding, then typed variant_get paths feed
# an ordinary aggregation — the engine surface a semi-structured lakehouse
# pipeline uses instead of per-access JSON string parsing (the variant
# binary is parsed once per row; get_json_object re-parses per path). The
# oracle computes the same stats via DuckDB's JSON path extraction, so the
# hash certifies the variant ENCODE→typed-DECODE round trip, not just the
# aggregation. Map-only + one partial-aggregable groupBy at any scale.
# ---------------------------------------------------------------------------
@query(
    "w_variant_props_stats",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           COUNT(*) FILTER (WHERE json_extract_string(props, '$.missing') IS NULL) AS n_missing_path
    FROM {EV}
    GROUP BY event_type
    """,
)
def w_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").withColumn(
        "v", F.parse_json(F.col("props"))
    )
    k = F.variant_get(F.col("v"), "$.k", "long")
    missing = F.try_variant_get(F.col("v"), "$.missing", "long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("long").alias("k_sum"),
        F.min(k).cast("long").alias("k_min"),
        F.max(k).cast("long").alias("k_max"),
        F.count_if(missing.isNull()).alias("n_missing_path"),
    )


# ---------------------------------------------------------------------------
# as-of join: each purchase picks the user's latest click at-or-before it
# (operators/asof.py union+window formulation; oracle is DuckDB's native
# ASOF LEFT JOIN — deterministic because (user_id, ts) is unique)
# ---------------------------------------------------------------------------
@query(
    "w_asof_click_purchase",
    f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           p.value AS purchase_value,
           c.event_id AS asof_event_id, c.ts AS asof_ts, c.value AS asof_value
    FROM (SELECT * FROM {EV} WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM {EV} WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def w_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    ev = read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_backward(
        purchases,
        clicks,
        by="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload_cols=["event_id", "ts", "value"],
        right_tiebreak="event_id",  # well-defined match under ts ties
    )


# ---------------------------------------------------------------------------
# range join: clicks within the 10 minutes before each error, per user.
# BUCKETED: both sides get a coarse time bucket (bucket width = the band
# width, 600s), each error probes buckets {b-1, b} (a click in
# [ts-10min, ts] can only live in those two), and the join runs on the
# (user_id, bucket) EQUI-key with the exact band as a post-join filter.
# A hot user's click history is scanned per (error, adjacent-bucket) —
# O(clicks in the 20-minute neighborhood) — instead of per error across
# the full history, which is what a bare user_id equi-join degrades to at
# 100 TB. Each click matches at most one probe row (its own bucket), so
# no dedup is needed; the 2x error-side explode is the entire overhead.
# The oracle states the same semantics declaratively.
# ---------------------------------------------------------------------------
_RANGE_BAND_SECONDS = 600
@query(
    "w_range_recent_clicks",
    f"""
    SELECT e.event_id, e.user_id, e.ts,
           COUNT(c.event_id) AS n_recent_clicks
    FROM (SELECT * FROM {EV} WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM {EV} WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts <= e.ts
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def w_range_recent_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")

    def bucket(ts_col):
        return F.floor(F.unix_timestamp(ts_col) / F.lit(_RANGE_BAND_SECONDS))

    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withColumn(
            "probe_bucket", F.explode(F.array(bucket(F.col("ts")) - 1, bucket(F.col("ts"))))
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event_id"),
        bucket(F.col("ts")).alias("c_bucket"),
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("probe_bucket") == F.col("c_bucket"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTE"))
        & (F.col("c_ts") <= F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("c_event_id").alias("n_recent_clicks")
    )


# ---------------------------------------------------------------------------
# HOT-KEY fact-fact join under AQE skew handling: signup→click pairs within
# one day, joined on user_id ALONE. user_id is deliberately low-cardinality
# in this corpus (~15 users per 1k events), so every join key is hot: a
# plain hash layout puts each user's full click history into ONE shuffle
# partition, and at 100 TB that single task is the job. The scale path is
# AQE's skew-join split (spark.sql.adaptive.skewJoin): the oversized probe
# partitions are split into map-range chunks and the matching build
# partition is replicated per chunk — same results, bounded task size, no
# manual salting. tests/test_plan_quality.py::test_skew_join_pairs_aqe_split
# executes this plan with skew thresholds forced low and asserts the final
# adaptive plan actually applied the split (skew=true on the join node);
# PLANS.md carries the evidence. The time band rides on the equi-join as a
# post-join predicate, and the aggregation keeps output at |users| rows.
# ---------------------------------------------------------------------------
@query(
    "w_skew_join_pairs",
    f"""
    SELECT s.user_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN c.ts <= s.ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_hour
    FROM (SELECT * FROM {EV} WHERE event_type = 'signup') s
    JOIN (SELECT * FROM {EV} WHERE event_type = 'click') c
      ON s.user_id = c.user_id
     AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 1 DAY
    GROUP BY s.user_id
    """,
)
def w_skew_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    pairs = signups.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("s_ts"))
        & (F.col("c_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY")),
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            F.when(
                F.col("c_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"), 1
            ).otherwise(0)
        ).alias("n_within_hour"),
    )


# ---------------------------------------------------------------------------
# exact percentiles per event type, engine-portable: the value at row
# ceil(p·n) of the (value, event_id)-ordered partition — no reliance on
# either engine's quantile interpolation rules
# ---------------------------------------------------------------------------
@query(
    "w_value_percentiles",
    f"""
    SELECT event_type,
           MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN value END) AS p90,
           MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
           COUNT(*) AS n_events
    FROM (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM {EV}
    )
    GROUP BY event_type
    """,
)
def w_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )

    def pct(p: float, alias: str):
        at = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.max(F.when(F.col("rn") == at, F.col("value"))).alias(alias)

    return ranked.groupBy("event_type").agg(
        pct(0.50, "p50"), pct(0.90, "p90"), pct(0.99, "p99"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# set operations: user cohorts via INTERSECT / EXCEPT
# ---------------------------------------------------------------------------
@query(
    "w_set_op_cohorts",
    f"""
    SELECT 'click_and_purchase' AS cohort, COUNT(*) AS n_users FROM (
      SELECT user_id FROM {EV} WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM {EV} WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_no_purchase' AS cohort, COUNT(*) AS n_users FROM (
      SELECT user_id FROM {EV} WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM {EV} WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'signup_and_error' AS cohort, COUNT(*) AS n_users FROM (
      SELECT user_id FROM {EV} WHERE event_type = 'signup'
      INTERSECT
      SELECT user_id FROM {EV} WHERE event_type = 'error')
    """,
)
def w_set_op_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")

    def users(etype: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select("user_id")

    rows = [
        ("click_and_purchase", users("click").intersect(users("purchase"))),
        # subtract = EXCEPT DISTINCT (exceptAll would keep users whose
        # click count merely exceeds their purchase count)
        ("click_no_purchase", users("click").subtract(users("purchase"))),
        ("signup_and_error", users("signup").intersect(users("error"))),
    ]
    out = None
    for label, df in rows:
        part = df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("cohort"), "n_users"
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# CUBE: counts over (event_type, day) with all subtotal combinations
# ---------------------------------------------------------------------------
@query(
    "w_cube_counts",
    f"""
    SELECT COALESCE(event_type, 'ALL') AS etype,
           COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM {EV})
    GROUP BY CUBE (event_type, day)
    """,
)
def w_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day"), "value"
    )
    return (
        ev.cube("event_type", "day")
        .agg(F.count("*").alias("n"), money_sum(dec("value"), "total_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# explicit GROUPING SETS via the spark.sql API surface (rollup/cube cover the
# DataFrame path; this exercises the SQL front door with a hand-picked set
# list: by type, by user bucket, and the grand total)
# ---------------------------------------------------------------------------
@query(
    "w_grouping_sets",
    f"""
    SELECT COALESCE(event_type, 'ALL') AS etype,
           COALESCE(CAST(user_bucket AS VARCHAR), 'ALL') AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM (SELECT event_type, user_id % 10 AS user_bucket, value FROM {EV})
    GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
    """,
)
def w_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    read(spark, sf_dir, "events").createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS etype,
               COALESCE(CAST(user_bucket AS STRING), 'ALL') AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM (SELECT event_type, user_id % 10 AS user_bucket, value
              FROM _gs_events)
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """
    )


# ---------------------------------------------------------------------------
# histogram-quantile sketch: fixed-width bins estimate p50/p90/p99 next to
# the exact rank-based audit. The sketch is the SCALE path: the histogram is
# a bounded (event_type, bin) grid built in one map-side-combined
# aggregation — no global sort, no full-width row_number window — and grids
# from any partitioning merge by addition (the mergeable-summary property;
# same argument as the HLL registers in operators/sketches.py). The exact
# columns are the audit, carried by a rank window the sketch exists to
# avoid at 100 TB. All estimate arithmetic is integer-derived doubles with
# identical parenthesization in both engines.
# ---------------------------------------------------------------------------
_HIST_W = 2.0  # bin width in value units


def _hist_quantiles_oracle() -> str:
    def est(q: float) -> str:
        t = f"CAST(ceil({q} * n) AS BIGINT)"
        cond = f"((cum - cnt) < {t} AND {t} <= cum)"
        frac = f"(CAST({t} - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE))"
        e = f"((CAST(bin AS DOUBLE) * {_HIST_W}) + ({_HIST_W} * {frac}))"
        return f"MAX(CASE WHEN {cond} THEN {e} END)"

    return f"""
    WITH hist AS (
      SELECT event_type, CAST(FLOOR(value / {_HIST_W}) AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM {EV} GROUP BY event_type, bin
    ), cum_hist AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ), sketch AS (
      SELECT event_type,
             {est(0.50)} AS p50_est,
             {est(0.90)} AS p90_est,
             {est(0.99)} AS p99_est,
             COUNT(*) AS n_bins
      FROM cum_hist GROUP BY event_type
    ), exact AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50_exact,
             MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN value END) AS p90_exact,
             MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99_exact,
             COUNT(*) AS n_events
      FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM {EV}
      ) GROUP BY event_type
    )
    SELECT s.event_type, e.n_events, s.n_bins,
           s.p50_est, s.p90_est, s.p99_est,
           e.p50_exact, e.p90_exact, e.p99_exact
    FROM sketch s JOIN exact e USING (event_type)
    """



def _hist_quantile_report(hist: DataFrame, ev: DataFrame) -> DataFrame:
    """Interpolated p50/p90/p99 from a (event_type, bin, cnt) grid beside
    the exact rank-window audit over ``ev`` — shared by the batch histogram
    query and the streaming grid-merge gate so the estimator algebra (and
    its oracle, ``_hist_quantiles_oracle``) lives in exactly one place."""
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum_hist = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )

    def est(q: float, alias: str):
        t = F.ceil(F.lit(q) * F.col("n")).cast("long")
        cond = ((F.col("cum") - F.col("cnt")) < t) & (t <= F.col("cum"))
        frac = (t - (F.col("cum") - F.col("cnt"))).cast("double") / F.col(
            "cnt"
        ).cast("double")
        e = (F.col("bin").cast("double") * F.lit(_HIST_W)) + (F.lit(_HIST_W) * frac)
        return F.max(F.when(cond, e)).alias(alias)

    sketch = cum_hist.groupBy("event_type").agg(
        est(0.50, "p50_est"),
        est(0.90, "p90_est"),
        est(0.99, "p99_est"),
        F.count("*").alias("n_bins"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count("*").over(w_all)
    )

    def pct(q: float, alias: str):
        at = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.max(F.when(F.col("rn") == at, F.col("value"))).alias(alias)

    exact = ranked.groupBy("event_type").agg(
        pct(0.50, "p50_exact"),
        pct(0.90, "p90_exact"),
        pct(0.99, "p99_exact"),
        F.count("*").alias("n_events"),
    )
    return sketch.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_events",
        "n_bins",
        "p50_est",
        "p90_est",
        "p99_est",
        "p50_exact",
        "p90_exact",
        "p99_exact",
    )


@query("w_hist_quantiles", _hist_quantiles_oracle())
def w_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / F.lit(_HIST_W)).cast("long").alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    return _hist_quantile_report(hist, ev)


# ---------------------------------------------------------------------------
# partition-pruned scan: events re-laid-out as a date-partitioned dataset
# (the ingest layout any 100 TB event store uses), then a one-day query —
# the scan must prune to that day's directory via PartitionFilters (plan-
# asserted in tests/test_plan_quality.py), reading 1/Nth of the data
# before a single row is decoded. partitionBy writes the hive layout;
# dynamic partition pruning and predicate pushdown follow from it for
# free. The oracle is the plain filtered aggregate: layout must be
# invisible in values.
# ---------------------------------------------------------------------------
@query(
    "w_partition_pruned_day",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM {EV}
    WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM {EV})
    GROUP BY event_type
    """,
)
def w_partition_pruned_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    ev = read(spark, sf_dir, "events")
    workdir = gate_workdir("part-prune-gate-")
    dest = f"{workdir}/events_by_day_{uuid.uuid4().hex[:8]}"
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode(
        "overwrite"
    ).parquet(dest)
    laid = spark.read.parquet(dest)
    first_day = ev.select(F.min(F.to_date("ts")).alias("d")).first()[0]
    return (
        laid.filter(F.col("day") == F.lit(first_day))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            money_sum(dec("value"), "sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# sequential-pattern funnel: signup → later click → later purchase, per
# user (the MATCH_RECOGNIZE-class analytic). Each stage is one
# map-side-combined min-aggregation on user_id plus a co-partitioned join
# back — three narrow shuffles on the same key (exchange-reusable), never
# a per-user sort of full history. Elapsed totals are exact micros sums.
# ---------------------------------------------------------------------------
@query(
    "w_funnel_signup_click_purchase",
    f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM {EV}
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT events.user_id, s1.t1, MIN(events.ts) AS t2
      FROM {EV} JOIN s1 ON events.user_id = s1.user_id
      WHERE events.event_type = 'click' AND events.ts > s1.t1
      GROUP BY events.user_id, s1.t1
    ), s3 AS (
      SELECT events.user_id, s2.t1, MIN(events.ts) AS t3
      FROM {EV} JOIN s2 ON events.user_id = s2.user_id
      WHERE events.event_type = 'purchase' AND events.ts > s2.t2
      GROUP BY events.user_id, s2.t1
    )
    SELECT COUNT(*) AS n_signed_up,
           (SELECT COUNT(*) FROM s2) AS n_clicked_after,
           (SELECT COUNT(*) FROM s3) AS n_purchased_after,
           (SELECT CAST(COALESCE(SUM(epoch_us(t3) - epoch_us(t1)), 0) AS BIGINT)
            FROM s3) AS total_conversion_micros
    FROM s1
    """,
)
def w_funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count("*").alias("n_signed_up"))
    n2 = s2.agg(F.count("*").alias("n_clicked_after"))
    n3 = s3.agg(
        F.count("*").alias("n_purchased_after"),
        F.coalesce(
            F.sum(F.unix_micros("t3") - F.unix_micros("t1")), F.lit(0)
        )
        .cast("long")
        .alias("total_conversion_micros"),
    )
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))


# ---------------------------------------------------------------------------
# cohort retention matrix: users grouped by first-activity week, activity
# tracked as distinct (user, day), offsets in whole weeks. Two shuffles on
# user_id (first-seen + distinct-day) and one bounded (cohort, offset)
# grid aggregation — the standard retention shape; the matrix is tiny at
# any corpus size (weeks x offsets).
# ---------------------------------------------------------------------------
@query(
    "w_cohort_retention",
    f"""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS TIMESTAMP) AS cohort_week,
             MIN(CAST(ts AS DATE)) AS cohort_day
      FROM {EV} GROUP BY user_id
    ), acts AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM {EV}
    ), offsets AS (
      SELECT f.cohort_week, (a.d - f.cohort_day) // 7 AS week_offset, a.user_id
      FROM acts a JOIN firsts f ON a.user_id = f.user_id
    ), grid AS (
      SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_active
      FROM offsets GROUP BY cohort_week, week_offset
    ), sizes AS (
      SELECT cohort_week, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort_week
    )
    SELECT g.cohort_week, g.week_offset, g.n_active, s.n_cohort,
           CAST(g.n_active AS DOUBLE) / s.n_cohort AS retention
    FROM grid g JOIN sizes s USING (cohort_week)
    """,
)
def w_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts"))).alias("cohort_week"),
        F.min(F.to_date("ts")).alias("cohort_day"),
    )
    acts = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    offsets = acts.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("d"), F.col("cohort_day")) / F.lit(7))
        .cast("int")
        .cast("long")
        .alias("week_offset"),
        "user_id",
    )
    grid = offsets.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("n_cohort"))
    return grid.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias("retention"),
    )


# ---------------------------------------------------------------------------
# SCD2 validity-interval enrichment: a slowly-changing dimension is derived
# from each user's purchase history (tier = cumulative purchase count,
# valid [purchase_ts, next_purchase_ts)), and every click is enriched with
# the tier valid AT ITS EVENT TIME. The scale formulation is the as-of
# union trick — tier changes and clicks interleave in ONE window ordered
# by (ts, tiebreak), last_value(tier) carries forward — so there is NO
# range join at all: one exchange on user_id, no per-event scan of
# dimension history (the naive fact⋈dim BETWEEN join is quadratic per hot
# user). Clicks before any purchase get tier 0.
# ---------------------------------------------------------------------------
@query(
    "w_scd2_tier_enrich",
    f"""
    WITH changes AS (
      SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS tier
      FROM {EV} WHERE event_type = 'purchase'
    ), unioned AS (
      SELECT user_id, ts, 0 AS is_click, tier, NULL AS event_id FROM changes
      UNION ALL
      SELECT user_id, ts, 1 AS is_click, NULL AS tier, event_id
      FROM {EV} WHERE event_type = 'click'
    ), carried AS (
      SELECT user_id, ts, is_click, event_id,
             COALESCE(MAX(tier) OVER (
               PARTITION BY user_id ORDER BY ts, is_click, tier NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS tier_at
      FROM unioned
    )
    SELECT tier_at AS tier, COUNT(*) AS n_clicks,
           COUNT(DISTINCT user_id) AS n_users
    FROM carried WHERE is_click = 1
    GROUP BY tier_at
    """,
)
def w_scd2_tier_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the interval join IS a backward as-of join: reuse the one
    # implementation of the union-window carry (operators/asof.py) instead
    # of a second copy of its tie-break logic. Right rows sort before left
    # rows at an equal timestamp (inclusive SCD2 start: a click at exactly
    # a tier-change instant sees the NEW tier) and right_tiebreak="tier"
    # resolves same-ts purchases to the highest tier.
    from ..operators.asof import asof_join_backward

    ev = read(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("tier", F.row_number().over(w_rank))
        .select("user_id", "ts", "tier")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    enriched = asof_join_backward(
        clicks,
        changes,
        by="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["tier"],
        right_tiebreak="tier",
    )
    return (
        enriched.groupBy(
            F.coalesce(F.col("asof_tier"), F.lit(0)).cast("long").alias("tier")
        )
        .agg(
            F.count("*").alias("n_clicks"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# data-quality audit: the constraint checks a pipeline runs before
# trusting a batch — key uniqueness, null rates, referential integrity,
# domain ranges — as ONE pass of map-side-combined aggregates plus one
# broadcast-probe anti-join for the FK check. Output is a compact
# (check, violations, total) report; every check is a SUM(CASE), so the
# whole audit is a single scan of each table at any scale.
# ---------------------------------------------------------------------------
@query(
    "w_dq_audit",
    f"""
    WITH ev_checks AS (
      SELECT 'events.event_id unique' AS check_name,
             CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS violations,
             COUNT(*) AS total
      FROM {EV}
      UNION ALL
      SELECT 'events.value in [0, 1e6)',
             CAST(SUM(CASE WHEN value < 0 OR value >= 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT),
             COUNT(*)
      FROM {EV}
      UNION ALL
      SELECT 'events.required columns non-null',
             CAST(SUM(CASE WHEN ts IS NULL OR user_id IS NULL
                            OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(*)
      FROM {EV}
      UNION ALL
      SELECT 'events.event_type in domain',
             CAST(SUM(CASE WHEN event_type NOT IN
                   ('click','error','purchase','signup','view')
                   THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(*)
      FROM {EV}
      UNION ALL
      SELECT 'lineitem.l_orderkey in orders',
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             COUNT(*)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT * FROM ev_checks
    """,
)
def w_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    li = read(spark, sf_dir, "lineitem")
    orders = read(spark, sf_dir, "orders")

    def check(name, violations, total):
        return F.struct(
            F.lit(name).alias("check_name"),
            violations.cast("long").alias("violations"),
            total.alias("total"),
        )

    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    ev_agg = ev.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count_distinct("event_id")).alias("dup_ids"),
        flag((F.col("value") < 0) | (F.col("value") >= 1000000)).alias("bad_range"),
        flag(
            F.col("ts").isNull() | F.col("user_id").isNull() | F.col("event_type").isNull()
        ).alias("nulls"),
        flag(
            ~F.col("event_type").isin("click", "error", "purchase", "signup", "view")
        ).alias("bad_domain"),
    )
    ev_rows = ev_agg.select(
        F.explode(
            F.array(
                check("events.event_id unique", F.col("dup_ids"), F.col("n")),
                check("events.value in [0, 1e6)", F.col("bad_range"), F.col("n")),
                check("events.required columns non-null", F.col("nulls"), F.col("n")),
                check("events.event_type in domain", F.col("bad_domain"), F.col("n")),
            )
        ).alias("r")
    ).select("r.*")
    # fact-fact FK probe: a plain left join — the optimizer broadcasts at
    # test scale, and at 100 TB this is the one legitimate shuffled join
    # (forcing broadcast of a fact key column would OOM)
    fk = (
        li.join(
            orders.select("o_orderkey"),
            li["l_orderkey"] == orders["o_orderkey"],
            "left",
        )
        .agg(
            flag(F.col("o_orderkey").isNull()).cast("long").alias("violations"),
            F.count("*").alias("total"),
        )
        .select(
            F.lit("lineitem.l_orderkey in orders").alias("check_name"),
            "violations",
            "total",
        )
    )
    return ev_rows.unionAll(fk)


# ---------------------------------------------------------------------------
# STREAMING stream-stream interval join under the hard gate — the last
# Structured Streaming join class the suite lacked (stream-static enrich
# and stateful dedup/aggregation gates already run). Clicks and purchases
# arrive as two INDEPENDENT file streams, each split into two micro-batch
# files by USER-id parity in OPPOSITE phase (trigger 1 = even-user clicks
# + odd-user purchases; trigger 2 swaps): a pair always shares its
# user_id, so a click and its matching purchase NEVER co-arrive — every
# single match must form across the batch boundary from the join state
# store, in both directions (trigger-2 purchases against trigger-1 click
# state, and trigger-2 clicks against trigger-1 purchase state). Both
# sides are watermarked and the join carries the event-time constraint
# purchase.ts ∈ [click.ts, click.ts + 30 min]; the delay is sized past the
# corpus span so no row is late-dropped and the append stream provably
# contains EXACTLY the batch join's matches (the oracle), aggregated
# per user with decimal-exact sums.
# Scale shape: Spark shuffles both streams on user_id once and keeps
# per-key interval state; state size is bounded by watermark delay ×
# arrival rate — at production the delay is the 30-min business horizon
# plus allowed lateness, not the corpus span, so state is O(minutes of
# traffic per key), the canonical stream-stream join posture. Reference
# analog: correlating the transaction-activated stream with its
# authorization outcomes inside a bounded window.
# ---------------------------------------------------------------------------
@query(
    "w_stream_join_click_purchase",
    f"""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_purchase_value,
           MIN(p.ts) AS first_purchase_ts,
           MAX(p.ts) AS last_purchase_ts
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
          FROM events) c
    JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
          FROM events) p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def w_stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )

    workdir = gate_workdir("stream-join-gate-")
    # opposite-phase user-parity split: each trigger holds clicks and
    # purchases of DISJOINT user sets, so no match can form inside a
    # trigger — every emitted pair is the join state store's doing
    even, odd = F.col("user_id") % 2 == 0, F.col("user_id") % 2 == 1
    c = (
        staged_stream(f"{workdir}/clicks", [clicks.filter(even), clicks.filter(odd)])
        .withWatermark("ts", "365 days")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
    )
    p = (
        staged_stream(
            f"{workdir}/purch", [purchases.filter(odd), purchases.filter(even)]
        )
        .withWatermark("ts", "365 days")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    joined = c.join(
        p,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return (
        drain_to_memory(
            joined, "append", f"{workdir}/ckpt", "w_stream_join_click_purchase"
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            money_sum(dec("p_value"), "sum_purchase_value"),
            F.min("p_ts").alias("first_purchase_ts"),
            F.max("p_ts").alias("last_purchase_ts"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING session windows under the hard gate — the stateful MERGING
# window operator (distinct from tumbling aggregation: session state must
# EXTEND and MERGE as events arrive, not just accumulate into fixed
# buckets). The events table replays as two micro-batch files hash-split
# by event id, so most sessions receive events in BOTH batches and the
# emitted windows exist only if cross-batch session-state merge is
# correct. Append-mode sessions finalize only when the watermark passes
# their end, so a single synthetic flush row (user_id = -1, filtered from
# the output) advances the global watermark past the corpus; the 45-day
# delay exceeds the corpus span so no real event is ever late-dropped —
# the streamed sessions must equal the batch gap-island oracle (the same
# SQL that certifies batch session_window). Scale shape: state is keyed
# by (user_id, open session) and evicted at the real production delay
# (minutes, not the test's corpus-span bound) once the watermark passes.
# ---------------------------------------------------------------------------
@query(
    "w_stream_session_windows",
    f"""
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM {EV}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
    )
    GROUP BY user_id, session_id
    """,
)
def w_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    # one watermark-advancing flush row far past the corpus: finalizes every
    # real session; computed executor-side (one-row aggregate), no collect
    flush = ev.agg(
        F.lit(-1).cast("long").alias("event_id"),
        (F.max("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(0.0).alias("value"),
    )
    workdir = gate_workdir("stream-session-gate-")
    half = F.col("event_id") % 2
    stream = (
        staged_stream(workdir, [ev.filter(half == 0), ev.filter(half == 1), flush])
        # delay > corpus span: the hash-split batches interleave in event
        # time, so nothing may be late; only the flush row moves the
        # watermark past the real sessions
        .withWatermark("ts", "45 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            money_sum(dec("value"), "sum_value"),
        )
    )
    return (
        drain_to_memory(stream, "append", f"{workdir}/ckpt", "w_stream_session_windows")
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# STREAMING LEFT-OUTER stream-stream join under the hard gate — the
# state-EVICTION emission path, which the inner-join gate cannot exercise:
# an unmatched click emits its null-padded row only when the watermark
# passes the end of its match window, i.e. the row is produced BY state
# expiry, not by an arriving match. Both sides carry flush rows
# (user_id < 0, filtered from the output) because the global watermark is
# the MINIMUM over the two sources — one flushed side alone would hold
# every unmatched click in state forever. The append output aggregates to
# the batch LEFT JOIN oracle: matched pair counts AND unmatched-click
# counts per user, so the gate hash certifies both emission paths.
# Scale shape: same as the inner gate (shuffle both streams on user_id
# once; state bounded by watermark delay × rate) plus deterministic state
# cleanup — the property that keeps a 1000-executor outer join's store
# from growing without bound.
# ---------------------------------------------------------------------------
@query(
    "w_stream_left_join_clicks",
    f"""
    SELECT c.user_id,
           COUNT(*) AS n_clicks,
           CAST(SUM(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
          FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def w_stream_left_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )

    def flush(df, uid: int):
        # one watermark-advancing row per SOURCE (global watermark = min
        # across sources), far past every click's match-window end; derived
        # from the side's own projected slice (a ts-only aggregate scan),
        # not a second pass over the full events table — the 200-day
        # margin dwarfs any skew between the two sides' max timestamps
        return df.select("ts").agg(
            F.lit(-1).cast("long").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 200 DAYS")).alias("ts"),
            F.lit(uid).cast("long").alias("user_id"),
        )

    workdir = gate_workdir("stream-ljoin-gate-")
    # opposite-phase user-parity split (as in the inner-join gate): every
    # MATCHED pair forms from the join state store across the batch
    # boundary; unmatched clicks additionally exercise eviction emission
    even, odd = F.col("user_id") % 2 == 0, F.col("user_id") % 2 == 1
    c = (
        staged_stream(
            f"{workdir}/clicks",
            [clicks.filter(even), clicks.filter(odd), flush(clicks, -1)],
        )
        # 45 days > corpus span (no real row late); the flush rows land
        # 200 days out, pushing the watermark past every match window so
        # unmatched state evicts and emits
        .withWatermark("ts", "45 days")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
    )
    p = (
        staged_stream(
            f"{workdir}/purch",
            [purchases.filter(odd), purchases.filter(even), flush(purchases, -2)],
        )
        .withWatermark("ts", "45 days")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
    )
    joined = c.join(
        p,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    return (
        drain_to_memory(
            joined, "append", f"{workdir}/ckpt", "w_stream_left_join_clicks"
        )
        .filter(F.col("c_user") >= 0)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
            F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
    )


# ---------------------------------------------------------------------------
# INTERVAL-OVERLAP self-join — the remaining join class (equi / as-of /
# range-bucket / skew / SCD2 / stream-stream are all gated already):
# concurrent-session analysis, "which sessions were live at the same
# time", the genomic/observability overlap shape. The scale path is
# time-bucket blocking: each session explodes to the hour buckets it
# covers (bounded by session length / bucket width), candidates come from
# an EQUI-join on the bucket, and each overlapping pair is counted exactly
# once by attributing it to the bucket containing the overlap's start
# (greatest of the two session starts) — the standard dedup trick that
# avoids a distinct over the pair blowup. The DuckDB oracle computes the
# SAME pairs with a direct quadratic inequality join, so the gate
# certifies that blocking loses nothing. Overlap durations are exact
# epoch-millisecond integers. Sessions come from the same native
# session_window aggregation the session gates certify.
# At 100 TB: the bucket explode is bounded fan-out, the bucket equi-join
# shuffles on a narrow key whose per-bucket population is the concurrency
# level (thousands, not corpus-sized), and no all-pairs stage exists.
# ---------------------------------------------------------------------------
@query(
    "w_interval_overlap_sessions",
    f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end
      FROM (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        OR LAG(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM {EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
      ) GROUP BY user_id, sid
    )
    SELECT strftime(date_trunc('day', greatest(a.s_start, b.s_start)),
                    '%Y-%m-%d') AS day,
           COUNT(*) AS n_pairs,
           CAST(SUM(epoch_ms(least(a.s_end, b.s_end))
                    - epoch_ms(greatest(a.s_start, b.s_start))) AS BIGINT)
             AS sum_overlap_ms
    FROM s a JOIN s b
      ON a.user_id < b.user_id
     AND a.s_start < b.s_end AND b.s_start < a.s_end
    GROUP BY 1
    """,
)
def w_interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    s = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("_n"))
        .select(
            "user_id",
            F.col("sw.start").alias("s_start"),
            F.col("sw.end").alias("s_end"),
        )
    )
    b = s.withColumn(
        "bucket",
        F.explode(
            F.expr(
                "sequence(date_trunc('hour', s_start), "
                "date_trunc('hour', s_end), interval 1 hour)"
            )
        ),
    )
    a = b.select(
        F.col("user_id").alias("u_a"),
        F.col("s_start").alias("st_a"),
        F.col("s_end").alias("en_a"),
        "bucket",
    )
    c = b.select(
        F.col("user_id").alias("u_b"),
        F.col("s_start").alias("st_b"),
        F.col("s_end").alias("en_b"),
        F.col("bucket").alias("bucket_b"),
    )
    ov_start = F.greatest(F.col("st_a"), F.col("st_b"))
    ov_end = F.least(F.col("en_a"), F.col("en_b"))
    pairs = (
        a.join(
            c,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("u_a") < F.col("u_b"))
            & (F.col("st_a") < F.col("en_b"))
            & (F.col("st_b") < F.col("en_a")),
        )
        # count each pair once: only in the bucket where its overlap starts
        .filter(F.date_trunc("hour", ov_start) == F.col("bucket"))
    )
    return pairs.groupBy(
        F.date_format(ov_start, "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.unix_millis(ov_end) - F.unix_millis(ov_start))
        .cast("long")
        .alias("sum_overlap_ms"),
    )


# ---------------------------------------------------------------------------
# STREAMING histogram-grid accumulation under the hard gate — the quantile
# member of the mergeable-summary family (HLL and Count-Min streaming
# gates already run): the bounded (event_type, bin) count grid maintained
# by a complete-mode streaming aggregation across two hash-split
# micro-batches must equal the single-pass batch histogram counter for
# counter — counts merge by addition under any arrival order, which is
# what lets a 1000-executor stream serve live p50/p90/p99 with
# O(types × bins) state. The interpolation and the exact rank-window
# audit run batch-side on the streamed grid / the same corpus, and the
# output (and oracle) is exactly w_hist_quantiles', so the gate hash
# certifies the streamed grid bit-for-bit.
# ---------------------------------------------------------------------------
@query("w_stream_hist_merge", _hist_quantiles_oracle())
def w_stream_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    src_rows = ev.select("event_id", "event_type", "value")
    workdir = gate_workdir("stream-hist-gate-")
    half = F.col("event_id") % 2
    stream = (
        staged_stream(workdir, [src_rows.filter(half == 0), src_rows.filter(half == 1)])
        .groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(_HIST_W)).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    hist = drain_to_memory(
        stream, "complete", f"{workdir}/ckpt", "w_stream_hist_merge"
    )
    return _hist_quantile_report(hist, ev)


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov over per-user journeys): for
# every consecutive event pair within a user's time-ordered stream, the
# (prev_type → curr_type) count and the row-normalized transition
# probability as a 1e6-scaled integer ((n·1e6) div row_total — exact in
# both engines, no float division order anywhere). The funnel/journey
# model product analytics derives before sequence mining. Scale shape: ONE
# user_id window exchange builds the lagged pairs, then a map-side-combined
# groupBy on the (prev, curr) key — 25 output rows regardless of corpus
# size; the row total rides a window over the tiny transition table, not a
# second pass over events.
# ---------------------------------------------------------------------------
@query(
    "w_event_transitions",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM {EV}
    ),
    pairs AS (
      SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, curr_type, n,
           CAST((n * 1000000)
                // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
             AS BIGINT) AS p_micro
    FROM pairs
    """,
)
def w_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = (
        seq.groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(wt))
        .withColumn("p_micro", F.expr("(n * 1000000) div row_total"))
        .select("prev_type", "curr_type", "n", "p_micro")
    )


# ---------------------------------------------------------------------------
# STREAMING twin of the transition matrix under the hard gate: the events
# table replays as a two-file stream split at a fixed timestamp, and the
# per-user LAG becomes keyed state (``applyInPandasWithState``: state =
# the user's last event_type; each micro-batch emits the (prev → curr)
# pairs its rows induce, seeded from state, then stores its last row) —
# the streaming form of a sequence feature: the pair crossing the
# micro-batch boundary is exactly what a stateless per-batch lag would
# lose, so the gate certifies the state handoff, not just windowing. The
# final table must hash-match the SAME batch SQL oracle as
# w_event_transitions. Scale: state is one tuple per user (bounded), pair
# emission is append-only, and the closing aggregate is the 25-row
# matrix.
# ---------------------------------------------------------------------------
_TRANS_SPLIT_TS = "2024-01-16 00:00:00"


def _lag_pair_stream(spark: SparkSession, sf_dir: str, prefix: str, what: str):
    """The stateful-lag pair stream, drained: the events table replays as
    two files split at ``_TRANS_SPLIT_TS``; per user, keyed state holds the
    last ``event_type``, and each micro-batch emits the (``prev_type``,
    ``curr_type``) pairs its rows induce in (ts, event_id) order, the first
    seeded from state. Returns (the drained pair table, the events read)."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    ev = read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    workdir = gate_workdir(prefix)
    cut = F.lit(_TRANS_SPLIT_TS).cast("timestamp")

    def lag_fn(key, pdf_iter, state):
        parts = list(pdf_iter)
        pdf = pd.concat(parts) if parts else pd.DataFrame(
            columns=["user_id", "ts", "event_id", "event_type"]
        )
        if len(pdf) == 0:
            yield pd.DataFrame({"prev_type": [], "curr_type": []})
            return
        pdf = pdf.sort_values(["ts", "event_id"])
        prevs = pdf["event_type"].shift(1)
        if state.exists:
            prevs.iloc[0] = state.get[0]
        out = pd.DataFrame(
            {"prev_type": prevs, "curr_type": pdf["event_type"]}
        )
        # store the raw value, NOT str(...): a NULL last event_type must
        # stay a null in state (str(None) would seed the next batch with
        # the literal "None" and diverge from the batch oracle's
        # prev_type IS NOT NULL filter)
        last = pdf["event_type"].iloc[-1]
        state.update((None if pd.isna(last) else str(last),))
        yield out[out["prev_type"].notna()]

    stream = staged_stream(
        workdir, [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    )
    pairs = stream.groupBy("user_id").applyInPandasWithState(
        lag_fn,
        outputStructType="prev_type string, curr_type string",
        stateStructType=StructType([StructField("last_type", StringType())]),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return drain_to_memory(pairs, "append", f"{workdir}/ckpt", what), ev


def w_stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, _ = _lag_pair_stream(
        spark, sf_dir, "stream-transitions-gate-", "w_stream_event_transitions"
    )
    agg = pairs.groupBy("prev_type", "curr_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("prev_type")
    return (
        agg.withColumn("row_total", F.sum("n").over(wt))
        .withColumn("p_micro", F.expr("(n * 1000000) div row_total"))
        .select("prev_type", "curr_type", "n", "p_micro")
    )


QUERIES["w_stream_event_transitions"] = w_stream_event_transitions
ORACLES["w_stream_event_transitions"] = ORACLES["w_event_transitions"]


# ---------------------------------------------------------------------------
# robust daily-volume anomaly flags (median / MAD): per event type, a day
# is anomalous when its event count deviates from the type's median by
# more than 3× the median absolute deviation — the data-quality monitor a
# pipeline runs on ingest volumes, robust where mean/stddev would let one
# outlier day mask itself. Uses the suite's nearest-rank percentile
# discipline (ceil(0.5·n)-th order statistic, deterministic day
# tiebreak), so median and MAD are actual integer data values and the
# whole flag computation is integer-exact. 100 TB shape: ONE corpus scan
# folds to the (type, day) grid (partial-aggregable); every later stage
# operates on that bounded grid (days × types rows at any corpus size).
# ---------------------------------------------------------------------------
def _anomaly_flags(daily: DataFrame) -> DataFrame:
    """(event_type, day, cnt) grid → median/MAD anomaly flags (shared by
    the batch query and its streaming twin — the grid is bounded, so this
    post-processing is corpus-size-independent)."""

    def nearest_rank(df: DataFrame, col: str, alias: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "day")
        wn = Window.partitionBy("event_type")
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count("*").over(wn)
        )
        at = F.ceil(F.lit(0.5) * F.col("n")).cast("long")
        return ranked.groupBy("event_type").agg(
            F.max(F.when(F.col("rn") == at, F.col(col))).alias(alias)
        )

    med = nearest_rank(daily, "cnt", "med")
    dev = daily.join(med, "event_type").withColumn(
        "dv", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = nearest_rank(dev, "dv", "mad")
    return (
        dev.join(mad, "event_type")
        .select(
            "event_type",
            "day",
            "cnt",
            "med",
            "mad",
            (F.col("dv") > 3 * F.col("mad")).alias("is_anomaly"),
        )
    )


@query(
    "w_anomaly_days",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS cnt
      FROM {EV}
      GROUP BY event_type, date_trunc('day', ts)
    ),
    med AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cnt END) AS med
      FROM (
        SELECT event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
      )
      GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.cnt, m.med,
             ABS(d.cnt - m.med) AS dv
      FROM daily d JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN dv END) AS mad
      FROM (
        SELECT event_type, dv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dv, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      )
      GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.cnt, d.med, a.mad,
           d.dv > 3 * a.mad AS is_anomaly
    FROM dev d JOIN mad a USING (event_type)
    """,
)
def w_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    return _anomaly_flags(daily)


# ---------------------------------------------------------------------------
# streaming twin of the anomaly audit: the (event_type, day) count grid is
# maintained as a streaming aggregation across ordered micro-batches (the
# mergeable-summary property — partial counts merge under any batch
# split), then the SAME bounded-grid median/MAD post-processing flags the
# anomalies; final table ≡ the batch oracle. The ingest-volume monitor as
# it actually deploys: counts accrete on the stream, flags recompute on
# the tiny grid each evaluation.
# ---------------------------------------------------------------------------
def w_stream_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-anomaly-gate-",
        ["event_type", "ts"],
        [F.count("*").alias("cnt")],
        ["event_type", F.date_trunc("day", "ts").alias("day")],
    )
    return _anomaly_flags(grid)


QUERIES["w_stream_anomaly_days"] = w_stream_anomaly_days
ORACLES["w_stream_anomaly_days"] = ORACLES["w_anomaly_days"]

# ---------------------------------------------------------------------------
# statistics family — integer-exact trend / correlation / decay over the
# daily activity grid. A monitoring stack on the reference's view
# (BASELINE.md: ingestion-rate capacity planning) needs exactly these three
# summaries: is volume trending, do two signals move together, and what is
# the recency-weighted load. All three reduce the corpus ONCE to the
# bounded (event_type, day) grid — a single partial-aggregated exchange —
# and run the statistics on the tiny grid, so the shapes are scan-bound at
# any corpus size. Every moment is an exact integer (BIGINT sums over
# centered day indices / counts); the ONLY floating-point steps are final
# divisions/sqrt of identical operands, so the doubles are bit-identical
# across engines (helpers.py discipline). At 100 TB the moment sums move to
# DECIMAL(38,0) unchanged in shape.
# ---------------------------------------------------------------------------
@query(
    "w_ols_daily_trend",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS y
      FROM {EV} GROUP BY 1, 2
    ),
    centered AS (
      SELECT event_type,
             CAST(date_diff('day', MIN(day) OVER (), day) AS BIGINT) AS x,
             y
      FROM daily
    ),
    mo AS (
      SELECT event_type, COUNT(*) AS n_days,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM centered GROUP BY event_type
    )
    SELECT event_type, n_days,
           CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
           CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                     / CAST(n_days * sxx - sx * sx AS DOUBLE) END
             AS slope_per_day,
           CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n_days * sxx - sx * sx AS DOUBLE) END
             AS intercept
    FROM mo
    """,
)
def w_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS fit of daily event volume against a centered day index.

    Closed-form least squares on exact integer moments: slope and intercept
    surface both as BIGINT rationals (num/den — the auditable exact form)
    and as doubles derived by one division of those identical integers.
    The day index is centered on the global minimum day so the moment sums
    stay far from BIGINT range at any scale; the minimum is an unpartitioned
    window over the already-aggregated BOUNDED grid (n_types × n_days rows),
    not a second corpus scan — the whole query reads events exactly once.
    """
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("y"))
    return _ols_from_daily(daily)


def _ols_from_daily(daily: DataFrame) -> DataFrame:
    """(event_type, day, y) grid → centered-index OLS rows. Shared by the
    batch query and its streaming twin (extracted fingerprint-neutrally —
    pure delegation, expressions unchanged)."""
    centered = daily.select(
        "event_type",
        F.datediff("day", F.min("day").over(Window.partitionBy()))
        .cast("long")
        .alias("x"),
        "y",
    )
    mo = centered.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    icpt = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return mo.select(
        "event_type",
        "n_days",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("slope_per_day"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(icpt.cast("double") / den.cast("double"))
        .alias("intercept"),
    )


@query(
    "w_pearson_daily",
    f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             COUNT(*) AS x, COUNT(DISTINCT user_id) AS y
      FROM {EV} GROUP BY 1, 2
    ),
    mo AS (
      SELECT event_type, COUNT(*) AS n_days,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           CAST(n_days * sxy - sx * sy AS BIGINT) AS r_num,
           CAST(n_days * sxx - sx * sx AS BIGINT) AS den_x,
           CAST(n_days * syy - sy * sy AS BIGINT) AS den_y,
           CASE WHEN (n_days * sxx - sx * sx) = 0
                  OR (n_days * syy - sy * sy) = 0 THEN NULL
                ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE)
                            * CAST(n_days * syy - sy * sy AS DOUBLE)) END
             AS pearson_r
    FROM mo
    """,
)
def w_pearson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of daily volume vs daily reach, per event type.

    x = events/day, y = distinct users/day: both exact BIGINTs off the same
    bounded grid, so all five moments and the three Pearson components are
    exact integers; r is one double division + sqrt of identical operands
    in both engines. The zero-variance guard is explicit because the
    engines disagree on x/0.0 (Spark NULL, DuckDB Infinity).
    """
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count("*").alias("x"),
        F.countDistinct("user_id").alias("y"),
    )
    return _pearson_from_daily(daily)


def _pearson_from_daily(daily: DataFrame) -> DataFrame:
    """(event_type, x, y) daily grid → Pearson rows. Shared by the batch
    query and its streaming twin (extracted fingerprint-neutrally — pure
    delegation, expressions unchanged)."""
    mo = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
    return mo.select(
        "event_type",
        "n_days",
        num.alias("r_num"),
        den_x.alias("den_x"),
        den_y.alias("den_y"),
        F.when((den_x == 0) | (den_y == 0), F.lit(None).cast("double"))
        .otherwise(
            num.cast("double")
            / F.sqrt(den_x.cast("double") * den_y.cast("double"))
        )
        .alias("pearson_r"),
    )


@query(
    "w_decayed_counts",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM {EV} GROUP BY 1, 2
    ),
    aged AS (
      SELECT event_type, cnt,
             CAST(date_diff('day', day, MAX(day) OVER ()) AS BIGINT) // 7
               AS k
      FROM daily
    ),
    perk AS (
      SELECT event_type, k, CAST(SUM(cnt) AS BIGINT) AS cnt_k
      FROM aged GROUP BY 1, 2
    ),
    denom AS (
      SELECT event_type, k, cnt_k, MAX(k) OVER () AS big_k,
             LEAST(MAX(k) OVER (), 50) AS cap_k
      FROM perk
    )
    SELECT event_type,
           MAX(big_k) AS weeks_span,
           CAST(CAST(SUM(
             CASE WHEN k <= cap_k
                  THEN CAST(cnt_k AS HUGEINT)
                       * CAST(POWER(2, cap_k - k) AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS VARCHAR)
             AS decayed_num,
           CAST(SUM(
             CASE WHEN k <= cap_k
                  THEN CAST(cnt_k AS HUGEINT)
                       * CAST(POWER(2, cap_k - k) AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS DOUBLE)
             / CAST(POWER(2, MAX(cap_k)) AS DOUBLE) AS decayed_score
    FROM denom GROUP BY event_type
    """,
)
def w_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity: half-life-decayed daily counts per type.

    Each day's count is weighted 2^-k, k = full weeks before the newest
    day (a one-week half-life). The weighted sum is kept EXACT as an
    integer numerator over the common denominator 2^cap_k, with the decay
    window TRUNCATED at cap_k = min(big_k, 50) half-lives: a day older
    than 50 half-lives contributes < 2^-50 (relative) to the score —
    below double epsilon — so dropping it changes nothing observable
    while bounding every weight at 2^50. Without the clamp the weight
    2^(big_k-k) overflows BIGINT once the grid spans 63+ weeks (the
    round-7 ADVICE finding). The numerator is summed in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — bound 2^51 x weekly-rate, ~1e25 even at
    1e9 events/week, far under the 1e38 ceiling — and emitted as a STRING
    so the cross-engine hash compares exact digits, not a lossy double.
    The decay stays mergeable under any partitioning within the window
    (numerators add), so the shape remains streaming- and rollup-safe.
    The per-(type, k) pre-aggregation means the weighting runs on the
    bounded week grid, never the corpus; events is read exactly once.
    """
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    everything = Window.partitionBy()
    keyed = daily.select(
        "event_type",
        "cnt",
        (
            F.datediff(F.max("day").over(everything), "day").cast("long")
            / F.lit(7)
        )
        .cast("long")
        .alias("k"),
    )
    perk = keyed.groupBy("event_type", "k").agg(F.sum("cnt").alias("cnt_k"))
    aged = perk.withColumn("big_k", F.max("k").over(everything)).withColumn(
        "cap_k", F.least(F.col("big_k"), F.lit(50))
    )
    # exact: 2^e is an exact double for e <= 50, and the decimal cast
    # preserves it; the clamped exponent keeps every weight representable
    weight = F.when(
        F.col("k") <= F.col("cap_k"),
        F.pow(F.lit(2.0), (F.col("cap_k") - F.col("k")).cast("double")).cast(
            "decimal(20,0)"
        ),
    ).otherwise(F.lit(0).cast("decimal(20,0)"))
    num = F.sum(F.col("cnt_k").cast("decimal(18,0)") * weight)
    return aged.groupBy("event_type").agg(
        F.max("big_k").alias("weeks_span"),
        num.cast("string").alias("decayed_num"),
        (num.cast("double") / F.pow(F.lit(2.0), F.max("cap_k"))).alias(
            "decayed_score"
        ),
    )


# ---------------------------------------------------------------------------
# INTERVAL OVERLAP JOIN (range join without the cross product): per-user
# activity sessions [first_event, last_event] joined against the corpus's
# HOT HOURS (hours whose event count is >= 1.25x the per-hour average —
# exact integer test 4*cnt*n_hours >= 5*total). A naive overlap join is a
# theta-join (cross product + range filter) — the oracle below states
# exactly that semantics. The Spark plan instead EXPLODES each session
# into the hour buckets it covers (bounded by session duration / 1h) and
# equi-joins on the bucket key with the hot-hour dimension BROADCAST —
# the standard bucketed-range-join rewrite: zero extra exchanges beyond
# sessionization, and the bucket fan-out is the knob (coarser buckets =
# fewer rows, finer = tighter candidates + residual filter). 100 TB: the
# hour dimension is calendar-bounded (~9k rows/year) — always broadcast;
# sessions explode by duration, worst-case a week-long session is 168
# rows. Overlap lengths are exact BIGINT milliseconds.
# ---------------------------------------------------------------------------
_HOUR_MS = 3_600_000


@query(
    "w_interval_overlap_join",
    f"""
    WITH ms AS (
      SELECT user_id, event_id, epoch_ms(ts) AS tms FROM {EV}
    ),
    sess AS (
      SELECT user_id,
             MIN(tms) AS s_start, MAX(tms) AS s_end
      FROM (
        SELECT user_id, tms,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (
          SELECT user_id, tms, event_id,
                 CASE WHEN tms - LAG(tms) OVER w >= 1800000
                        OR LAG(tms) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM ms
          WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
        )
      )
      GROUP BY user_id, session_id
    ),
    hours AS (
      SELECT tms // {_HOUR_MS} AS hb, count(*) AS hour_events FROM ms GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(hour_events) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_hours FROM hours),
    hot AS (
      SELECT hb, hour_events FROM hours CROSS JOIN tot
      WHERE 4 * hour_events * n_hours >= 5 * total
    )
    SELECT s.user_id,
           s.s_start AS session_start_ms,
           h.hb * {_HOUR_MS} AS hour_ms,
           h.hour_events,
           LEAST(s.s_end + 1, (h.hb + 1) * {_HOUR_MS})
             - GREATEST(s.s_start, h.hb * {_HOUR_MS}) AS overlap_ms
    FROM sess s JOIN hot h
      ON s.s_start < (h.hb + 1) * {_HOUR_MS} AND s.s_end >= h.hb * {_HOUR_MS}
    """,
)
def w_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    H = _HOUR_MS
    ev = read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis(F.col("ts")).alias("tms")
    )
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    is_new = F.when(
        (F.col("tms") - F.lag("tms").over(w) >= 1_800_000)
        | F.lag("tms").over(w).isNull(),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("tms").alias("s_start"), F.max("tms").alias("s_end"))
    )
    hours = ev.groupBy(F.expr(f"tms div {H}").alias("hb")).agg(
        F.count("*").alias("hour_events")
    )
    tot = hours.agg(
        F.sum("hour_events").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_hours"),
    )
    hot = hours.crossJoin(F.broadcast(tot)).filter(
        4 * F.col("hour_events") * F.col("n_hours") >= 5 * F.col("total")
    ).select("hb", "hour_events")
    # bucketed-range rewrite: explode sessions into covered hour buckets,
    # broadcast the (calendar-bounded) hot-hour dimension, equi-join on hb.
    # The residual range filter is a no-op here (bucket width == interval
    # width) but kept for the general contract.
    buckets = sess.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.expr(f"s_start div {H}"), F.expr(f"s_end div {H}"))
        ).alias("hb"),
    )
    joined = buckets.join(F.broadcast(hot), "hb").filter(
        (F.col("s_start") < (F.col("hb") + 1) * H)
        & (F.col("s_end") >= F.col("hb") * H)
    )
    return joined.select(
        "user_id",
        F.col("s_start").alias("session_start_ms"),
        (F.col("hb") * H).alias("hour_ms"),
        "hour_events",
        (
            F.least(F.col("s_end") + 1, (F.col("hb") + 1) * H)
            - F.greatest(F.col("s_start"), F.col("hb") * H)
        ).alias("overlap_ms"),
    )

# ---------------------------------------------------------------------------
# SESSION PATH MINING: the most frequent event-type SEQUENCES users follow
# within a session (30-min inactivity gap, the same sessionization law as
# w_interval_overlap_join) — the navigation-pattern query behind funnel
# discovery. Each session's path is its first 8 event types in arrival
# order joined with '>'; output is the top 25 paths by session count with
# deterministic (count DESC, path) ordering. Plan: ONE user_id exchange
# serves the gap-mark and run-sum windows; the per-session path is an
# in-row array_sort+slice over collect_list (bounded at 8 by the slice);
# the path census is a bounded-key aggregation + TakeOrderedAndProject.
# 100 TB: sessions are user-bounded; the path space is capped by the
# 8-event truncation (paths beyond 8 events collapse, documented), so the
# census never exceeds |event_types|^8 keys and in practice follows the
# power-law head this query exists to report.
# ---------------------------------------------------------------------------
_PATH_MAXLEN = 8
_PATH_TOP = 25


@query(
    "w_session_paths",
    f"""
    WITH ms AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms FROM {EV}
    ),
    marked AS (
      SELECT user_id, event_id, event_type, tms,
             CASE WHEN tms - LAG(tms) OVER w >= 1800000
                    OR LAG(tms) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM ms
      WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, tms,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    paths AS (
      SELECT user_id, session_id,
             array_to_string(
               (list(event_type ORDER BY tms, event_id))[1:{_PATH_MAXLEN}],
               '>') AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOP}
    """,
)
def w_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_millis(F.col("ts")).alias("tms")
    )
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    is_new = F.when(
        (F.col("tms") - F.lag("tms").over(w) >= 1_800_000)
        | F.lag("tms").over(w).isNull(),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tms", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                _PATH_MAXLEN,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# ROLLING DAU/WAU STICKINESS: per day, distinct daily actives over distinct
# trailing-7-day actives — the engagement ratio every product dashboard
# tracks. Rolling DISTINCT doesn't compose from daily partials (users
# repeat across days), so the scalable rewrite FANS each (user, day) pair
# OUT to the ≤7 trailing days it covers and counts distinct per day — the
# bounded-grid analogue of the interval-overlap bucket rewrite (the
# (user, day) table is tiny next to events: one groupBy collapses events
# first, and the fan-out is a constant 7). Ratio = exact per-mille BIGINT.
# Days with no trailing coverage beyond themselves still appear (wau >=
# dau >= 1 by construction).
# ---------------------------------------------------------------------------
@query(
    "w_rolling_dau_wau",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM {EV}
    ),
    days AS (SELECT DISTINCT day FROM ud),
    fan AS (
      SELECT u.user_id, d.day
      FROM ud u JOIN days d
        ON d.day >= u.day AND d.day <= u.day + INTERVAL 6 DAY
    ),
    wau AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM fan
      GROUP BY day
    ),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau * 1000 // w.wau AS BIGINT) AS stickiness_per_1k
    FROM dau d JOIN wau w USING (day)
    """,
)
def w_rolling_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    return _dau_wau_from_grid(ud)


def _dau_wau_from_grid(ud: DataFrame) -> DataFrame:
    """Distinct (user_id, day) grid → (day, dau, wau, stickiness). Shared
    by the batch query and its streaming twin (extracted fingerprint-
    neutrally — pure delegation, expressions unchanged)."""
    # fan each (user, day) out to the <=7 trailing days it covers, but only
    # days that EXIST in the grid (oracle joins the day dimension; Spark
    # explodes the sequence then semi-joins the broadcast day dimension —
    # the calendar is bounded, always broadcastable)
    days = ud.select("day").distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).join(F.broadcast(days), "day", "left_semi")
    wau = fan.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("(dau * 1000) div wau").cast("long").alias("stickiness_per_1k"),
    )


# ---------------------------------------------------------------------------
# MARKOV STATIONARY DISTRIBUTION (unrolled power iteration over the
# journey transition matrix): where user sessions SETTLE — the long-run
# occupancy of each event type under the empirical chain, the summary a
# funnel owner reads next to the raw transition matrix. Arithmetic is
# FIXED-POINT INTEGER throughout (the stats-family discipline): the mass
# vector starts at 1e6/K per type and each step distributes v(i)·n(i,j)
# div rowtotal(i) — floor division, bit-identical cross-engine, no IEEE
# accumulation anywhere (mass bleeds ≤K per step to flooring; after 10
# steps ≤ 50 ppm, documented). Shape: the transition matrix is ONE
# corpus exchange (the w_event_transitions law) into a ≤K² bounded table
# (persisted — ten iterations re-read it); every iteration is a join of
# two BOUNDED tables (K and K² rows) — zero corpus work after the first
# exchange, the e_pca_top2 pattern on the journey matrix.
# ---------------------------------------------------------------------------
_MARKOV_ITERS = 10


def _markov_oracle() -> str:
    ctes = [
        f"""seq AS MATERIALIZED (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM {EV})""",
        """m AS MATERIALIZED (
      SELECT prev_type AS cur, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS BIGINT) AS rt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)""",
        f"""types AS MATERIALIZED (
      SELECT DISTINCT event_type FROM {EV})""",
        """v0 AS MATERIALIZED (
      SELECT event_type,
             CAST(1000000 // (SELECT COUNT(*) FROM types) AS BIGINT) AS v
      FROM types)""",
    ]
    for t in range(1, _MARKOV_ITERS + 1):
        ctes.append(
            f"""vu{t} AS MATERIALIZED (
      SELECT m.nxt AS event_type, CAST(SUM((v.v * m.n) // m.rt) AS BIGINT) AS v
      FROM m JOIN v{t - 1} v ON v.event_type = m.cur GROUP BY m.nxt)"""
        )
        ctes.append(
            f"""v{t} AS MATERIALIZED (
      SELECT t.event_type, COALESCE(u.v, 0) AS v
      FROM types t LEFT JOIN vu{t} u USING (event_type))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\n    SELECT event_type, CAST(v AS BIGINT) AS stationary_per_1m"
        f"\n    FROM v{_MARKOV_ITERS}"
    )


@query("w_markov_stationary", _markov_oracle())
def w_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wt = Window.partitionBy("cur")
    m = (
        seq.groupBy(
            F.col("prev_type").alias("cur"),
            F.col("event_type").alias("nxt"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn("rt", F.sum("n").over(wt))
        # (r14: no persist — the in-row power iteration reads the matrix
        # exactly once, into its single collect_list array)
    )
    types = ev.select("event_type").distinct()
    return _stationary_from_matrix(m, types)


def _stationary_from_matrix(m: DataFrame, types: DataFrame) -> DataFrame:
    """Power iteration over a (cur, nxt, n, rt) transition matrix + type
    dimension → stationary mass per type. Shared by the batch query and
    its streaming twin.

    r14 optimization (guide §2.4/§1.2): the matrix (≤ K² rows) and the
    type dimension (K rows) each collapse to ONE array row; all ten
    iterations run as in-row array folds in a SINGLE map stage instead of
    ten (broadcast join + groupBy + re-attach join) rounds — ~30 tiny
    stages (and their AQE replans) become one. Arithmetic is the
    identical exact BIGINT fixed-point law: per type t,
    v'(t) = Σ over matrix entries e with e.nxt = t of
    (v(e.cur)·e.n) DIV e.rt, absent ⇒ 0 — term set, integer division and
    summation domain all equal the old join/groupBy formulation (sum
    order is irrelevant for exact integers), so the value hash is
    unchanged. Each iteration's vector is bound through
    ``explode(array(…))`` — a Generate barrier the optimizer cannot
    collapse — so iteration t's array is evaluated exactly ONCE and read
    as a value by iteration t+1's lambdas (a plain Project chain would
    re-inline the single-referenced alias into the per-entry lambda and
    re-evaluate the whole recursion per matrix entry — exponential)."""
    marr = m.agg(
        F.array_sort(F.collect_list(F.struct("cur", "nxt", "n", "rt"))).alias("ma")
    )
    tarr = types.agg(F.array_sort(F.collect_list("event_type")).alias("ta"))
    one = marr.crossJoin(F.broadcast(tarr))
    v0 = F.expr(
        "transform(ta, t -> named_struct("
        "'et', t, 'v', CAST(1000000 DIV size(ta) AS BIGINT)))"
    )
    df = one.select("ma", "ta", F.explode(F.array(v0)).alias("v"))
    step = F.expr(
        "transform(ta, t -> named_struct('et', t, 'v', "
        "coalesce(aggregate(filter(ma, e -> e.nxt = t), CAST(0 AS BIGINT), "
        "(acc, e) -> acc + "
        "(element_at(filter(v, x -> x.et = e.cur), 1).v * e.n) DIV e.rt), "
        "CAST(0 AS BIGINT))))"
    )
    for _ in range(_MARKOV_ITERS):
        df = df.select("ma", "ta", F.explode(F.array(step)).alias("v"))
    return df.select(F.explode("v").alias("s")).select(
        F.col("s.et").alias("event_type"),
        F.col("s.v").alias("stationary_per_1m"),
    )


# ---------------------------------------------------------------------------
# HOURLY SEASONALITY PROFILE: the day-of-week × hour-of-day activity grid
# with exact per-mille share of the week — the load-shape evidence behind
# capacity planning and anomaly baselines (w_anomaly_days flags days;
# this is the within-week rhythm those flags are judged against).
# Bounded 168-cell output; one corpus scan with map-side combine; the
# week total rides a broadcast one-row crossJoin. ISO day numbering
# pinned via dayofweek/isodow parity (both engines: Monday = 1).
# ---------------------------------------------------------------------------
@query(
    "w_hourly_seasonality",
    f"""
    WITH g AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM {EV} GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
    SELECT dow, hod, n_events, n_users,
           CAST(n_events * 1000 // tot.total AS BIGINT) AS share_per_1k
    FROM g CROSS JOIN tot
    """,
)
def w_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    g = ev.groupBy(
        # Spark dayofweek: Sunday=1 .. Saturday=7; ISO wants Monday=1..Sunday=7
        F.expr("((dayofweek(ts) + 5) % 7) + 1").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return _seasonality_share(g)


def _seasonality_share(g: DataFrame) -> DataFrame:
    """Week-total share over the bounded 168-cell grid — shared by the
    batch query and its streaming twin (pure-delegation extraction;
    expressions unchanged, the batch plan stays byte-identical)."""
    tot = g.agg(F.sum("n_events").alias("total"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        "n_events",
        "n_users",
        F.expr("(n_events * 1000) div total").cast("long").alias("share_per_1k"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over the daily ingest grid (round 9): the
# drift monitor a training-data pipeline runs on per-type event volume. A
# one-sided CUSUM with reference value k = per-type mean detects a
# sustained mean SHIFT that the pointwise median/MAD audit
# (w_anomaly_days) cannot see — MAD flags single outlier days, CUSUM
# accumulates small persistent deviations. Integer-exact via the
# telescoped form: S_t = P_t − min(0, min_{s≤t} P_s) where
# P_t = n·prefix_t − t·total (the prefix sums scaled by n so the mean
# subtraction stays integral; P is the running sum of n·x_i − total).
# The recursive max(0, S_{t−1} + …) definition and this prefix-minus-
# running-min form are identical by telescoping. Peak day = argmax S.
# 100 TB shape: one (type, day) count aggregation over the corpus (the
# only full-data pass, map-side combinable), then three windows on a
# BOUNDED grid (days × types) — a second exchange of ~150 rows. Overflow
# bound: |P| ≤ n_days · total_events < 2^63 for any realistic decade.
# ---------------------------------------------------------------------------
@query(
    "w_cusum_changepoint",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {EV}
      GROUP BY event_type, date_trunc('day', ts)
    ),
    p AS (
      SELECT event_type, day, cnt,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cnt) OVER (PARTITION BY event_type) AS total,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS d_idx
      FROM daily
    ),
    s AS (
      SELECT event_type, day, cnt,
             CAST(n * prefix - d_idx * total AS BIGINT) AS pscaled
      FROM p
    ),
    c AS (
      SELECT event_type, day, cnt,
             CAST(pscaled - LEAST(CAST(0 AS BIGINT),
                             MIN(pscaled) OVER (PARTITION BY event_type
                                                ORDER BY day
                                                ROWS BETWEEN UNBOUNDED PRECEDING
                                                         AND CURRENT ROW))
               AS BIGINT) AS cusum_num
      FROM s
    )
    SELECT event_type, day, cnt, cusum_num,
           cusum_num = MAX(cusum_num) OVER (PARTITION BY event_type) AS is_peak
    FROM c
    """,
)
def w_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return _cusum_flags(daily)


def _cusum_flags(daily: DataFrame) -> DataFrame:
    """Bounded-grid CUSUM post-processing shared by the batch query and
    its streaming twin (the _anomaly_flags pattern)."""
    w_part = Window.partitionBy("event_type")
    w_ord = w_part.orderBy("day")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = daily.select(
        "event_type",
        "day",
        "cnt",
        F.count("*").over(w_part).alias("n"),
        F.sum("cnt").over(w_part).alias("total"),
        F.sum("cnt").over(w_run).alias("prefix"),
        F.row_number().over(w_ord).alias("d_idx"),
    )
    s = p.withColumn(
        "pscaled", F.col("n") * F.col("prefix") - F.col("d_idx") * F.col("total")
    )
    c = s.withColumn(
        "cusum_num",
        F.col("pscaled")
        - F.least(F.lit(0).cast("bigint"), F.min("pscaled").over(w_run)),
    )
    return c.select(
        "event_type",
        "day",
        "cnt",
        "cusum_num",
        (F.col("cusum_num") == F.max("cusum_num").over(w_part)).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# streaming twin of the CUSUM drift monitor (round 9): the (type, day)
# count grid accretes as a streaming aggregation across ordered
# micro-batches (mergeable-summary law — partial counts merge under any
# batch split, exactly the w_stream_anomaly_days shape), then the SAME
# bounded-grid CUSUM post-processing (_cusum_flags) runs on the drained
# grid; final table ≡ the batch oracle. The monitor as it deploys:
# counts accrete on the stream, the drift statistic recomputes on the
# tiny grid each evaluation.
# ---------------------------------------------------------------------------
def w_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-cusum-gate-",
        ["event_type", "ts"],
        [F.count("*").cast("long").alias("cnt")],
        ["event_type", F.date_trunc("day", "ts").alias("day")],
    )
    return _cusum_flags(grid)


QUERIES["w_stream_cusum"] = w_stream_cusum
ORACLES["w_stream_cusum"] = ORACLES["w_cusum_changepoint"]


# ---------------------------------------------------------------------------
# streaming twin of the rolling DAU/WAU stickiness (round 10): the
# distinct (user, day) grid accretes as a streaming aggregation across
# ordered micro-batches (mergeable-summary law — a (user_id, day) groupBy
# is a set union under any batch split, the w_stream_cusum shape), then
# the SAME bounded-grid fan-out post-processing (_dau_wau_from_grid) runs
# on the drained grid; final table ≡ the batch oracle. The dashboard
# metric as it deploys: actives accrete on the stream, the trailing-7-day
# ratio recomputes on the tiny (user, day) grid each evaluation.
# ---------------------------------------------------------------------------
def w_stream_rolling_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-dau-gate-",
        ["user_id", "ts"],
        [F.count("*").cast("long").alias("cnt")],
        ["user_id", F.date_trunc("day", "ts").alias("day")],
    )
    return _dau_wau_from_grid(grid.select("user_id", "day"))


QUERIES["w_stream_rolling_dau_wau"] = w_stream_rolling_dau_wau
ORACLES["w_stream_rolling_dau_wau"] = ORACLES["w_rolling_dau_wau"]


# ---------------------------------------------------------------------------
# streaming twin of the Markov stationary distribution (round 10): the
# transition matrix accretes from the SAME stateful-lag pair stream as
# w_stream_event_transitions (per-user last-event carried in keyed state
# across micro-batches — the only part of the chain that needs state),
# then the SHARED power iteration (_stationary_from_matrix) runs on the
# drained ≤K² matrix. The type dimension is read from the staged source
# batch-side (a deployment keeps it as a dimension table). Final table ≡
# the batch oracle: the funnel summary as it deploys — pairs accrete on
# the stream, the fixed-point recomputes on the bounded matrix.
# ---------------------------------------------------------------------------
def w_stream_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, ev = _lag_pair_stream(
        spark, sf_dir, "stream-markov-gate-", "w_stream_markov_stationary"
    )
    wt = Window.partitionBy("cur")
    m = (
        pairs.groupBy(
            F.col("prev_type").alias("cur"), F.col("curr_type").alias("nxt")
        )
        .agg(F.count("*").alias("n"))
        .withColumn("rt", F.sum("n").over(wt))
        # (r14: no persist — the in-row power iteration reads the matrix
        # exactly once, into its single collect_list array)
    )
    types = ev.filter(F.col("ts").isNotNull()).select("event_type").distinct()
    return _stationary_from_matrix(m, types)


QUERIES["w_stream_markov_stationary"] = w_stream_markov_stationary
ORACLES["w_stream_markov_stationary"] = ORACLES["w_markov_stationary"]


# ---------------------------------------------------------------------------
# streaming twins of the daily-grid statistics family (round 10): OLS
# trend and Pearson volume-vs-reach as they deploy — the grids accrete as
# streaming aggregations across ordered micro-batches (mergeable-summary
# law: the count grid merges under any batch split; the Pearson grid
# accretes at (type, day, user) grain so the distinct-user count is a set
# union — the w_stream_rolling_dau_wau discipline, since streaming
# aggregations cannot COUNT(DISTINCT)), then the SHARED post-processing
# (_ols_from_daily / _pearson_from_daily) runs on the drained bounded
# grid. Final tables ≡ the batch oracles.
# ---------------------------------------------------------------------------
def _drain_stream_grid(spark, sf_dir, prefix, cols, agg_exprs, group_cols):
    ev = read(spark, sf_dir, "events").select("event_id", *cols)
    workdir = gate_workdir(prefix)
    half = F.col("event_id") % 2
    stream = (
        staged_stream(workdir, [ev.filter(half == 0), ev.filter(half == 1)])
        .groupBy(*group_cols)
        .agg(*agg_exprs)
    )
    grid = drain_to_memory(stream, "complete", f"{workdir}/ckpt", prefix)
    # persist the bounded grid before the post-processing (a memory-table
    # lineage joined against itself trips conflicting-reference resolution;
    # a deployed monitor checkpoints its grid anyway)
    grid_dir = f"{workdir}/grid"
    grid.write.mode("overwrite").parquet(grid_dir)
    return spark.read.parquet(grid_dir)


def w_stream_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-ols-gate-",
        ["event_type", "ts"],
        [F.count("*").cast("long").alias("y")],
        ["event_type", F.date_trunc("day", "ts").cast("date").alias("day")],
    )
    return _ols_from_daily(grid.select("event_type", "day", "y"))


def w_stream_pearson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-pearson-gate-",
        ["event_type", "ts", "user_id"],
        [F.count("*").cast("long").alias("cnt")],
        ["event_type", F.date_trunc("day", "ts").alias("day"), "user_id"],
    )
    # per-(type, day, user) counts preserve totals: x = Σ cnt (events),
    # y = row count (distinct users) — the set-union rewrite of the
    # batch COUNT(DISTINCT)
    daily = g.groupBy("event_type", "day").agg(
        F.sum("cnt").alias("x"), F.count("*").alias("y")
    )
    return _pearson_from_daily(daily)


QUERIES["w_stream_ols_daily_trend"] = w_stream_ols_daily_trend
ORACLES["w_stream_ols_daily_trend"] = ORACLES["w_ols_daily_trend"]
QUERIES["w_stream_pearson_daily"] = w_stream_pearson_daily
ORACLES["w_stream_pearson_daily"] = ORACLES["w_pearson_daily"]

# ---------------------------------------------------------------------------
# streaming twin of the hourly seasonality profile (round 10): the
# day-of-week × hour-of-day grid accretes at (dow, hod, user) GRAIN
# because streaming aggregations cannot COUNT(DISTINCT) — per-user counts
# preserve totals (n_events = Σcnt) while distinct users fall out as the
# drained per-cell row count (the w_stream_pearson_daily set-union
# rewrite), then the SHARED `_seasonality_share` week-total projection
# runs on the drained bounded 168-cell grid; final table ≡ the batch
# oracle. The load-shape baseline as it deploys: cells accrete on the
# stream, the per-mille share recomputes on the tiny grid each evaluation.
# ---------------------------------------------------------------------------
def w_stream_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _drain_stream_grid(
        spark,
        sf_dir,
        "stream-season-gate-",
        ["ts", "user_id"],
        [F.count("*").cast("long").alias("cnt")],
        [
            F.expr("((dayofweek(ts) + 5) % 7) + 1").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
            "user_id",
        ],
    )
    grid = g.groupBy("dow", "hod").agg(
        F.sum("cnt").alias("n_events"), F.count("*").alias("n_users")
    )
    return _seasonality_share(grid)


QUERIES["w_stream_hourly_seasonality"] = w_stream_hourly_seasonality
ORACLES["w_stream_hourly_seasonality"] = ORACLES["w_hourly_seasonality"]
