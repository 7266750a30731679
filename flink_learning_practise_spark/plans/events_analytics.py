"""Event-stream analytics plans (batch twins of the reference's
DataStream transforms and window pipelines), each paired with a DuckDB
oracle. The ``events`` table plays the reference's Kafka order stream
(``order2_push_order_to_kafka.py`` topic) — event_id/ts/user_id/
event_type/value/props(JSON).

Every plan uses only built-in expressions (whole-stage codegen; no
Python) and deterministic numeric aggregation (see ``num.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datasets import load
from ..num import DEC, davg, dsum, sql_davg, sql_dsum
from ..operators import cep, joins, transforms, windows

# ---------------------------------------------------------------------------
# #1 select/map


def select_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return transforms.select_fields(
        li,
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.year("l_shipdate").alias("ship_year"),
    )


SELECT_PROJECT_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       CAST(extract(year FROM l_shipdate) AS INTEGER) AS ship_year
FROM lineitem
"""

# ---------------------------------------------------------------------------
# #2 filter with pushdown (TPC-H Q6 shape)


def filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    filtered = transforms.filter_rows(
        li,
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24),
    )
    return filtered.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


FILTER_PUSHDOWN_SQL = f"""
SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

# ---------------------------------------------------------------------------
# #3 flatMap via explode


def flatmap_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = transforms.flatmap_split(docs, "text", " ", out="word")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_count"))
        .orderBy(F.desc("word_count"), "word")
        .limit(50)
    )


FLATMAP_WORDS_SQL = """
SELECT word, COUNT(*) AS word_count
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY word_count DESC, word
LIMIT 50
"""

# ---------------------------------------------------------------------------
# #4 keyBy + aggregate


def keyby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return transforms.keyby_agg(
        ev,
        ["user_id", "event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            davg("value", "avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ],
    )


KEYBY_AGG_SQL = f"""
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")},
       {sql_davg("value", "avg_value")},
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id, event_type
"""

# ---------------------------------------------------------------------------
# #5 validation / cleaning


def validate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cleaned = transforms.filter_nulls(ev, ["user_id", "value", "event_type"])
    valid = transforms.validate_rows(
        cleaned, (F.col("value") >= 1.0) & (F.col("event_type") != "error")
    )
    return valid.select("event_id", "user_id", "event_type", "value")


VALIDATE_CLEAN_SQL = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  AND value >= 1.0 AND event_type <> 'error'
"""

# ---------------------------------------------------------------------------
# #6 error side-output


def side_output_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    reason = (
        F.when(F.col("event_type") == "error", F.lit("error_event"))
        .when(F.col("value") < 1.0, F.lit("value_too_small"))
        .otherwise(F.lit(None).cast("string"))
    )
    _valid, errors = transforms.split_valid_errors(ev, reason)
    return errors.select("event_id", "user_id", "error_reason")


SIDE_OUTPUT_ERRORS_SQL = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'error' THEN 'error_event'
            WHEN value < 1.0 THEN 'value_too_small' END AS error_reason
FROM events
WHERE event_type = 'error' OR value < 1.0
"""

# ---------------------------------------------------------------------------
# #20 JSON ETL (walmart-order parse analog on events.props)


def json_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("int")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


JSON_ETL_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# #10 tumbling window


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return windows.tumbling_window(
        ev,
        "ts",
        "1 minute",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")],
    )


TUMBLING_WINDOW_SQL = f"""
SELECT date_trunc('minute', ts) AS window_start,
       date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")}
FROM events
GROUP BY 1, 2, 3
"""

# ---------------------------------------------------------------------------
# #11 sliding (HOP) window


def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return windows.sliding_window(
        ev,
        "ts",
        "5 minutes",
        "1 minute",
        aggs=[F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")],
    )


SLIDING_WINDOW_SQL = f"""
SELECT ws AS window_start,
       ws + INTERVAL 5 MINUTE AS window_end,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")}
FROM (
  SELECT unnest(generate_series(
           date_trunc('minute', ts) - INTERVAL 4 MINUTE,
           date_trunc('minute', ts),
           INTERVAL 1 MINUTE)) AS ws,
         value
  FROM events
)
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# #12 session window (batch gaps-and-islands)

SESSION_GAP = "4 HOURS"


def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return windows.session_window_batch(
        ev,
        "ts",
        SESSION_GAP,
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")],
        tiebreak=["event_id"],
    )


SESSION_WINDOW_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")}
FROM sessioned
GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------------------
# #13 tumbling count window

COUNT_WINDOW_N = 20


def count_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return windows.tumbling_count_window(
        ev,
        keys=["user_id"],
        order=["ts", "event_id"],
        count=COUNT_WINDOW_N,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        ],
    )


COUNT_WINDOW_TUMBLING_SQL = f"""
WITH numbered AS (
  SELECT user_id, ts, value,
         CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
                    / {COUNT_WINDOW_N}.0) AS BIGINT) AS window_id
  FROM events
)
SELECT user_id, window_id,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")},
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM numbered
GROUP BY user_id, window_id
"""

# ---------------------------------------------------------------------------
# #14 sliding count window (rolling frame)


def count_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    rolled = windows.sliding_count_window(
        ev,
        keys=["user_id"],
        order=["ts", "event_id"],
        count=4,
        rolling={
            "rolling_n": F.count(F.lit(1)),
            "rolling_sum_dec": F.sum(F.col("value").cast(DEC)),
        },
    )
    return rolled.select(
        "event_id",
        "user_id",
        "rolling_n",
        F.col("rolling_sum_dec").cast("double").alias("rolling_sum"),
    )


COUNT_WINDOW_SLIDING_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS rolling_n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS rolling_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""

# ---------------------------------------------------------------------------
# #17 stream-stream window join


def window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = joins.window_join(
        views, purchases, "v_ts", "p_ts", "10 minutes", on=[("user_id", "p_user")]
    )
    return joined.select("window_start", "user_id", "view_id", "purchase_id")


WINDOW_JOIN_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id,
         make_timestamp((epoch_ms(ts) // 600000) * 600000000) AS window_start
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id AS purchase_id,
         make_timestamp((epoch_ms(ts) // 600000) * 600000000) AS window_start
  FROM events WHERE event_type = 'purchase'
)
SELECT v.window_start AS window_start, v.user_id AS user_id, view_id, purchase_id
FROM v JOIN p ON v.user_id = p.user_id AND v.window_start = p.window_start
"""

# ---------------------------------------------------------------------------
# #18 interval join


def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = joins.interval_join(
        purchases,
        clicks,
        "purchase_ts",
        "click_ts",
        lower="30 MINUTES",
        upper="0 SECONDS",
        on=[("p_user", "c_user")],
    )
    return joined.select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id"
    )


INTERVAL_JOIN_SQL = """
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
"""

# ---------------------------------------------------------------------------
# #19 as-of join


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    return joins.asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        value_cols=["click_id", "click_ts", "click_value"],
    )


ASOF_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type column profiling — the stats pass a training-data
    pipeline runs before/after every transformation: row count, exact
    user cardinality, min/max and exact interpolated median of `value`.
    One hash-agg shuffle; count-distinct expands to a two-phase
    aggregate (partial per (type, user), then final) planned by
    Catalyst. The exact forms here are the oracle-checked baselines of
    the sketch variants in :func:`event_profile_sketch`."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("med_value"),
        )
    )


EVENT_PROFILE_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       round(MIN(value), 6) AS min_value,
       round(MAX(value), 6) AS max_value,
       round(quantile_cont(value, 0.5), 6) AS med_value
FROM events
GROUP BY event_type
"""


def event_profile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profiling — the 100 TB path (rows-only check: sketch
    internals are engine-specific). HyperLogLog++ cardinality and
    GK-sketch quantiles are mergeable, so partial aggregates combine
    across any partitioning with fixed memory per group — exact
    count-distinct shuffles every (group, user) pair instead, and exact
    percentile materializes per-group value multisets. Relative error:
    HLL ~2.3%, quantile eps 0.01."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.023).alias("n_users_approx"),
            F.percentile_approx("value", 0.5, 100).alias("med_value_approx"),
        )
    )


# ---------------------------------------------------------------------------
# CEP-lite sequence detection (Flink CEP analog, ref flink_typora.md:505):
# view -> click -> purchase funnel, skip-till-next-match, 12h step gap.

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_GAP_SPARK = "12 hours"
FUNNEL_GAP_DUCK = "12 HOUR"


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = cep.funnel(ev, list(FUNNEL_STEPS), FUNNEL_GAP_SPARK)
    renames = {
        f"step{i}_{suffix}": f"{name}_{suffix}"
        for i, name in enumerate(FUNNEL_STEPS, start=1)
        for suffix in ("id", "ts")
    }
    return out.select(
        "user_id", *[F.col(old).alias(new) for old, new in renames.items()]
    )


def funnel_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """notFollowedBy: views with NO click in the next 12 hours."""
    ev = load(spark, sf_dir, "events")
    out = cep.not_followed_by(ev, "view", "click", FUNNEL_GAP_SPARK)
    return out.select(
        "user_id",
        F.col("step1_id").alias("view_id"),
        F.col("step1_ts").alias("view_ts"),
    )


FUNNEL_ABANDONMENT_SQL = f"""
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events
  -- mirror the Spark operator's unsequenceable-event guard (cep.py):
  -- rows with NULL ts/id are dropped before matching on both engines
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
), nxt AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'click' THEN k END) OVER w AS na
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS view_id, ts AS view_ts
FROM nxt
WHERE event_type = 'view'
  AND (na IS NULL
       OR CAST(substring(na, 1, 20) AS BIGINT)
          > epoch_us(ts + INTERVAL {FUNNEL_GAP_DUCK}))
"""


EVENT_FUNNEL_SQL = f"""
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events
  -- mirror the Spark operator's unsequenceable-event guard (cep.py):
  -- rows with NULL ts/id are dropped before matching on both engines
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
), nxt AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'click' THEN k END) OVER w AS next_click_k,
    MIN(CASE WHEN event_type = 'purchase' THEN k END) OVER w AS next_purchase_k
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT v.user_id,
       v.event_id AS view_id, v.ts AS view_ts,
       c.event_id AS click_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM nxt v
JOIN nxt c ON c.user_id = v.user_id AND c.k = v.next_click_k
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND c.ts <= v.ts + INTERVAL {FUNNEL_GAP_DUCK}
JOIN nxt p ON p.user_id = c.user_id AND p.k = c.next_purchase_k
          AND p.event_type = 'purchase'
          AND p.ts <= c.ts + INTERVAL {FUNNEL_GAP_DUCK}
"""


# ---------------------------------------------------------------------------
# #80 changelog compaction: latest-per-key current view (CDC staple)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upsert-compaction view: each user's most recent event —
    how a changelog stream becomes a current-state table (the batch
    twin of the reference's Kafka→MySQL upsert sink, and of streaming
    dropDuplicates-keep-last). One shuffle on the key; rank-1 window
    with a deterministic (ts, event_id) tie-break, so replays and
    engine differences can't flip survivors."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


LATEST_EVENT_PER_USER_SQL = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# #80d MERGE INTO analog: incremental snapshot maintenance from a
# changelog, with tombstones. The oracle proves the maintenance
# IDENTITY: merge(compact(old), new) == compact(all) — the incremental
# path must land byte-identical to recomputing from scratch.

CDC_CUTOFF = "1997-06-01 00:00:00"


def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.cdc import merge_snapshot

    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    ev = load(spark, sf_dir, "events").select(*cols)
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp")
    old = ev.filter(F.col("ts") < cutoff)
    win = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    snapshot = (
        old.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    changes = ev.filter(F.col("ts") >= cutoff).withColumn(
        "is_delete", F.col("event_type") == "error"  # errors = tombstones
    )
    return merge_snapshot(
        snapshot, changes, ["user_id"], "ts", "event_id", "is_delete"
    ).select(*cols)


CDC_MERGE_SQL = f"""
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
  AND NOT (event_type = 'error' AND ts >= TIMESTAMP '{CDC_CUTOFF}')
"""


# ---------------------------------------------------------------------------
# #88 hypertable rollup + gap-fill (TimescaleDB time_bucket_gapfill /
# PromQL range-vector analog): continuous per-key time grid with LOCF.


def gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly rollup on a CONTINUOUS grid: hours with no
    events appear explicitly (n_events=0, is_gap=true) with the last
    observed hourly average carried forward (LOCF) — the resample step
    every time-series consumer (dashboards, feature windows, anomaly
    baselines) needs before it can difference or window.

    Scale shape: ONE shuffle on (user, hour) for the decimal rollup;
    the per-user span comes from re-aggregating those already-hourly
    rows (tiny); the grid is a per-user ``sequence`` explode — rows =
    users × span-hours, generated NOT shuffled (the join back to the
    rollup is on the same (user, hour) key). LOCF is one per-user
    window with ``last(ignorenulls)`` — incremental frame, no second
    sort once AQE reuses the join's partitioning. Span is data-driven
    per user, so a sparse user contributes a small grid, not the
    global calendar.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            davg("value", "_avg"),
        )
    )
    span = hourly.groupBy("user_id").agg(
        F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.expr("sequence(_lo, _hi, interval 1 hour)")
        ).alias("bucket_ts"),
    )
    joined = grid.join(hourly, ["user_id", "bucket_ts"], "left_outer")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "bucket_ts",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
        F.last("_avg", ignorenulls=True).over(w).alias("value_locf"),
        F.col("_n").isNull().alias("is_gap"),
    )


GAPFILL_RESAMPLE_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS avg_v
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM (SELECT user_id, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi
        FROM hourly GROUP BY user_id)
)
SELECT g.user_id, g.bucket_ts,
       COALESCE(h.n, 0) AS n_events,
       last_value(h.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       h.n IS NULL AS is_gap
FROM grid g LEFT JOIN hourly h USING (user_id, bucket_ts)
"""


# ---------------------------------------------------------------------------
# #88b rolling z-score anomaly flags over the hourly rollup — the
# consumer the gap-fill feeds (anomaly baselines). Variance comes from
# two exact DECIMAL frame sums (Σx, Σx²) instead of a built-in stddev:
# streaming-variance algorithms (Welford etc.) are engine- and
# order-dependent, but sums of decimals are associative, so z-scores
# are bit-identical across engines and partitionings.

ANOMALY_Z = 2.5
ANOMALY_MIN_HOURS = 12


def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.sum(F.col("value").cast(DEC)).alias("_s"),
        F.sum(
            (F.col("value").cast(DEC) * F.col("value").cast(DEC)).cast(
                "decimal(28,12)"
            )
        ).alias("_s2"),
        F.count(F.lit(1)).alias("_n"),
    )
    # trailing 24h baseline EXCLUDING the current hour (a spike must
    # not inflate its own baseline); frame = previous 24 grid-adjacent
    # observed hours (sparse users: previous observed hours)
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_ts")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "user_id",
        "bucket_ts",
        (F.col("_s").cast("double") / F.col("_n")).alias("hour_avg"),
        F.sum("_s").over(w).alias("_bs"),
        F.sum("_s2").over(w).alias("_bs2"),
        F.sum("_n").over(w).alias("_bn"),
        F.count(F.lit(1)).over(w).alias("_bhours"),
    )
    bs = F.col("_bs").cast("double")
    bs2 = F.col("_bs2").cast("double")
    bn = F.col("_bn").cast("double")
    mean = bs / bn
    var = (bs2 - bs * bs / bn) / bn
    z = (F.col("hour_avg") - mean) / F.sqrt(var)
    return (
        stats.filter(F.col("_bhours") >= ANOMALY_MIN_HOURS)
        .filter(var > 0)
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
        .select(
            "user_id",
            "bucket_ts",
            F.round("hour_avg", 6).alias("hour_avg"),
            "z",
        )
    )


ROLLING_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         SUM(CAST(value AS DECIMAL(18,6))) AS s,
         SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(28,12))) AS s2,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
framed AS (
  SELECT user_id, bucket_ts,
         CAST(s AS DOUBLE) / n AS hour_avg,
         CAST(SUM(s)  OVER w AS DOUBLE) AS bs,
         CAST(SUM(s2) OVER w AS DOUBLE) AS bs2,
         CAST(SUM(n)  OVER w AS DOUBLE) AS bn,
         COUNT(*) OVER w AS bhours
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket_ts, round(hour_avg, 6) AS hour_avg,
       round((hour_avg - bs / bn) / sqrt((bs2 - bs * bs / bn) / bn), 6) AS z
FROM framed
WHERE bhours >= {ANOMALY_MIN_HOURS}
  AND (bs2 - bs * bs / bn) / bn > 0
  AND abs(round((hour_avg - bs / bn) / sqrt((bs2 - bs * bs / bn) / bn), 6)) >= {ANOMALY_Z}
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by their first-activity
    week, counted in each subsequent week they return — the classic
    product-analytics query (and a two-level keyBy exercise: per-user
    reduce, then per-cohort-cell aggregate).

    Scale shape: ONE shuffle on user_id computes both the cohort
    (min week) and the distinct active weeks per user in the same
    aggregate — the corpus-sized exchange. Exploding the per-user week
    set yields one row per (user, week), already distinct, so the
    final (cohort, offset) count needs no count_distinct machinery;
    its shuffle is cohort-matrix-sized. A per-user week set spans at
    most the corpus's week range — bounded state, no skew risk.
    """
    events = load(spark, sf_dir, "events")
    per_user = (
        events.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("week")
        )
        .groupBy("user_id")
        .agg(
            F.min("week").alias("cohort_week"),
            F.collect_set("week").alias("weeks"),
        )
    )
    return (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("week")
        )
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_COHORTS_SQL = """
WITH act AS (
  -- DuckDB's date_trunc('week') yields DATE; Spark's yields TIMESTAMP.
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_offset,
       COUNT(*) AS active_users
FROM act JOIN first USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) materialization of the
    event stream: per user, runs of equal event_type compress into
    validity intervals [valid_from, valid_to) with an is_current flag —
    the warehouse-side twin of changelog compaction
    (q_latest_event_per_user keeps the last state; this keeps the full
    versioned history the as-of join consumes).

    Scale shape: ONE shuffle on user_id; both window passes (lag to
    detect changes, lead to close intervals) share the same
    partitioning and ordering, and the filter between them preserves
    sort order, so the second window adds no exchange and no sort.
    Deterministic (ts, event_id) ordering makes interval boundaries
    replay-stable.
    """
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = events.withColumn(
        "_prev", F.lag("event_type").over(w)
    ).filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    return (
        changes.withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


SCD2_INTERVALS_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
chg AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM chg
"""


def cascaded_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tier computed FROM the minute tier (not from raw events)
    — the incremental-rollup pattern every 100 TB metrics pipeline
    relies on: materialize fine-grained partials once, then maintain
    coarser tiers by re-aggregating partials instead of re-scanning the
    fact table. The oracle aggregates raw events directly at hour
    grain, so parity PROVES the tiers compose losslessly.

    The minute sums stay DECIMAL between tiers (cast to double only at
    the end): decimal addition is associative, so cascade == direct is
    exact, partition-order independent — a double-valued intermediate
    tier would drift in the last ulp and break both the oracle and
    cross-run reproducibility.

    Scale shape: the minute aggregate is the only corpus-sized shuffle
    (map-side partials); the hour tier re-shuffles minute-tier rows —
    ~1/60th the keys. At scale the minute tier would persist (see
    sinks/) and the hour tier would read it, not recompute it.
    """
    events = load(spark, sf_dir, "events")
    minute = (
        events.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        )
    )
    return (
        minute.groupBy(
            F.date_trunc("hour", F.col("minute_start")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


CASCADED_REAGG_SQL = f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", "sum_value")}
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


# ---------------------------------------------------------------------------
# #90 data-quality report (Deequ analog): table-level contracts —
# uniqueness, referential integrity, value budgets — as one unioned
# frame of tiny independent aggregates.


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven table contracts, SHARED-SCAN formulation (round-4: the
    naive one-frame-per-check union planned 12 shuffles / 24 hash aggs
    because every check re-scanned its base table — see operators/dq.py
    for the single-check primitives this fuses):

    - each base table is scanned ONCE; all checks over the same table
      ride one pass (conditional aggregates share the scan, a stack()
      fans the finished counts into report rows — driver-free, tiny);
    - the per-key group tier doubles as the FK parent key set: cust_g
      feeds BOTH unique(c_custkey) and the orders FK probe, ord_g feeds
      BOTH unique(o_orderkey)+fk(o_custkey) and the lineitem FK probe.
      Catalyst's column pruning specializes the two consumers (one
      keeps the count, one only the key), so the key-column scan
      repeats rather than ReusedExchange-ing — deliberate: a one-column
      pushed-projection re-scan is cheaper at 100 TB than pinning a
      customer-sized cached tier in executor memory.  Net plan: 5 KEYED
      exchanges (was 12 before the r4 fusion), plus 4 SinglePartition
      exchanges of finished one-row aggregates and 3 broadcasts of key
      sets — the scalar/broadcast moves are bytes, not data motion, so
      the keyed count is the scale claim (PLANS.md's "9 shuffles" =
      5 keyed + 4 scalar; pinned in tests/test_plan_shape.py::
      test_dq_report_exchange_budget).  Heavy tables (lineitem,
      events) are scanned once;
    - FK checks are presence-marker left joins (NOT EXISTS semantics:
      null FK values are not orphans), orphan and total counted in the
      same aggregate.
    """
    from ..operators import dq

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    ev = load(spark, sf_dir, "events")

    report_cols = "(check_name, table_name, violations, total)"

    # customer: one groupBy — unique check AND the FK parent key set
    cust_g = cust.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("_n"))
    u_cust = cust_g.agg(
        F.lit("unique(c_custkey)").alias("check_name"),
        F.lit("customer").alias("table_name"),
        F.coalesce(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0)), F.lit(0)
        ).alias("violations"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("total"),
    )

    # orders: one scan → FK probe against cust_g, then one groupBy
    # carrying BOTH the uniqueness counts and the orphan count
    cust_keys = cust_g.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("_pc")
    )
    ord_g = (
        orders.select("o_orderkey", "o_custkey")
        .join(cust_keys, "o_custkey", "left")
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(
                    F.col("o_custkey").isNotNull() & F.col("_pc").isNull(), 1
                ).otherwise(0)
            ).alias("_orph"),
        )
    )
    ord_rows = ord_g.agg(
        F.coalesce(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0)), F.lit(0)
        ).alias("v_unique"),
        F.coalesce(F.sum("_orph"), F.lit(0)).alias("v_fk"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("total"),
    ).selectExpr(
        "stack(2, 'unique(o_orderkey)', 'orders', v_unique, total,"
        "         'fk(o_custkey)', 'orders', v_fk, total) AS " + report_cols
    )

    # lineitem: ONE scan for both FK checks and the amounts condition
    ord_keys = ord_g.select(
        F.col("o_orderkey").alias("l_orderkey"), F.lit(1).alias("_po")
    )
    part_keys = part.groupBy(F.col("p_partkey").alias("l_partkey")).agg(
        F.lit(1).alias("_pp")
    )
    li_rows = (
        li.select(
            "l_orderkey",
            "l_partkey",
            ((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)).alias("_ok"),
        )
        .join(ord_keys, "l_orderkey", "left")
        .join(part_keys, "l_partkey", "left")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("l_orderkey").isNotNull() & F.col("_po").isNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("v_fko"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("l_partkey").isNotNull() & F.col("_pp").isNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("v_fkp"),
            F.coalesce(
                F.sum(F.when(F.col("_ok"), 0).otherwise(1)), F.lit(0)
            ).alias("v_pos"),
            F.count(F.lit(1)).alias("total"),
        )
        .selectExpr(
            "stack(3, 'fk(l_orderkey)', 'lineitem', v_fko, total,"
            "         'fk(l_partkey)', 'lineitem', v_fkp, total,"
            "         'positive_amounts', 'lineitem', v_pos, total) AS "
            + report_cols
        )
    )

    ev_row = dq.check_condition(
        ev, F.col("ts").isNotNull() & F.col("user_id").isNotNull(),
        "event_keys_present", "events",
    )

    return dq.dq_report([u_cust, ord_rows, li_rows, ev_row]).orderBy(
        "table_name", "check_name"
    )


DQ_REPORT_SQL = """
-- FK subqueries filter IS NOT NULL: a NULL parent key would make NOT IN
-- three-valued (0 reported violations regardless of real orphans), while
-- the Spark plan uses NOT EXISTS semantics. (advice r3)
SELECT check_name, table_name,
       CAST(violations AS BIGINT) AS violations,
       CAST(total AS BIGINT) AS total
FROM (
  SELECT 'unique(c_custkey)' AS check_name, 'customer' AS table_name,
         COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS violations, SUM(n) AS total
  FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey)
  UNION ALL
  SELECT 'unique(o_orderkey)', 'orders',
         COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0), SUM(n)
  FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'fk(o_custkey)', 'orders',
         COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                          AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                        WHERE c_custkey IS NOT NULL)),
         COUNT(*)
  FROM orders
  UNION ALL
  SELECT 'fk(l_orderkey)', 'lineitem',
         COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL
                          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                         WHERE o_orderkey IS NOT NULL)),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'fk(l_partkey)', 'lineitem',
         COUNT(*) FILTER (WHERE l_partkey IS NOT NULL
                          AND l_partkey NOT IN (SELECT p_partkey FROM part
                                        WHERE p_partkey IS NOT NULL)),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'positive_amounts', 'lineitem',
         COUNT(*) - COUNT(*) FILTER (WHERE l_quantity > 0 AND l_extendedprice > 0),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'event_keys_present', 'events',
         COUNT(*) - COUNT(*) FILTER (WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         COUNT(*)
  FROM events
)
ORDER BY table_name, check_name
"""


# ---------------------------------------------------------------------------
# #91 A/B conversion significance: two-proportion z-test on
# view→purchase conversion, variants = deterministic user-id split
# (the experimentation readout over the event stream — one per-user
# aggregate, then ONE conditional aggregate; z from counts only, so
# the math is a pure function of integers and hash-stable).


def ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("_viewed"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("_conv"),
    )
    exposed = flags.filter(F.col("_viewed") == 1).withColumn(
        "_v", F.pmod(F.col("user_id"), F.lit(2))
    )
    agg = exposed.agg(
        F.sum(F.when(F.col("_v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when((F.col("_v") == 0) & (F.col("_conv") == 1), 1).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("_v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when((F.col("_v") == 1) & (F.col("_conv") == 1), 1).otherwise(0)).alias("conv_b"),
    )
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    # degenerate experiments (an empty variant, or all/none converted
    # → zero pooled variance) yield NULL, never an ANSI division error
    z = F.when(both & (var > 0), (pa - pb) / F.sqrt(var))
    return agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.when(F.col("n_a") > 0, F.round(pa, 6)).alias("cvr_a"),
        F.when(F.col("n_b") > 0, F.round(pb, 6)).alias("cvr_b"),
        F.round(z, 6).alias("z_score"),
    )


AB_CONVERSION_SQL = """
WITH flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
agg AS (
  -- ((x % 2) + 2) % 2 == Spark's pmod: non-negative for negative ids
  SELECT SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS conv_a,
         SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN ((user_id % 2) + 2) % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS conv_b
  FROM flags WHERE viewed = 1
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       CASE WHEN n_a > 0 THEN round(conv_a / CAST(n_a AS DOUBLE), 6) END AS cvr_a,
       CASE WHEN n_b > 0 THEN round(conv_b / CAST(n_b AS DOUBLE), 6) END AS cvr_b,
       CASE WHEN n_a > 0 AND n_b > 0
                 AND ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                 * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 / n_a + 1.0 / n_b) > 0
            THEN round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                       / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / n_a + 1.0 / n_b)), 6)
       END AS z_score
FROM agg
"""


# ---------------------------------------------------------------------------
# #92 funnel conversion report: step-wise entry/conversion counts +
# rates for the view→click→purchase funnel — the product-analytics
# readout ON TOP of the CEP tier (#54): the three tiers are counts of
# funnel() matches at prefix depths 1/2/3, so the operator composes
# instead of re-deriving the matching logic.


def funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    starts = ev.filter(
        (F.col("event_type") == FUNNEL_STEPS[0])
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).agg(F.count(F.lit(1)).alias("n_step1"))
    two = cep.funnel(ev, list(FUNNEL_STEPS[:2]), FUNNEL_GAP_SPARK).agg(
        F.count(F.lit(1)).alias("n_step2")
    )
    three = cep.funnel(ev, list(FUNNEL_STEPS), FUNNEL_GAP_SPARK).agg(
        F.count(F.lit(1)).alias("n_step3")
    )
    return (
        starts.crossJoin(F.broadcast(two))
        .crossJoin(F.broadcast(three))
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            # empty-tier guards: under Spark 4's default ANSI mode an
            # unguarded 0-denominator raises instead of NULLing
            F.when(
                F.col("n_step1") > 0,
                F.round(F.col("n_step2") / F.col("n_step1"), 6),
            ).alias("rate_12"),
            F.when(
                F.col("n_step2") > 0,
                F.round(F.col("n_step3") / F.col("n_step2"), 6),
            ).alias("rate_23"),
            F.when(
                F.col("n_step1") > 0,
                F.round(F.col("n_step3") / F.col("n_step1"), 6),
            ).alias("rate_13"),
        )
    )


FUNNEL_RATES_SQL = f"""
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
), nxt AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'click' THEN k END) OVER w AS next_click_k,
    MIN(CASE WHEN event_type = 'purchase' THEN k END) OVER w AS next_purchase_k
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), two AS (
  SELECT v.event_id
  FROM nxt v
  JOIN nxt c ON c.user_id = v.user_id AND c.k = v.next_click_k
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND c.ts <= v.ts + INTERVAL {FUNNEL_GAP_DUCK}
), three AS (
  SELECT v.event_id
  FROM nxt v
  JOIN nxt c ON c.user_id = v.user_id AND c.k = v.next_click_k
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND c.ts <= v.ts + INTERVAL {FUNNEL_GAP_DUCK}
  JOIN nxt p ON p.user_id = c.user_id AND p.k = c.next_purchase_k
            AND p.event_type = 'purchase'
            AND p.ts <= c.ts + INTERVAL {FUNNEL_GAP_DUCK}
)
SELECT
  (SELECT COUNT(*) FROM seq WHERE event_type = 'view') AS n_step1,
  (SELECT COUNT(*) FROM two) AS n_step2,
  (SELECT COUNT(*) FROM three) AS n_step3,
  CASE WHEN (SELECT COUNT(*) FROM seq WHERE event_type = 'view') > 0
       THEN round((SELECT COUNT(*) FROM two)
                  / CAST((SELECT COUNT(*) FROM seq WHERE event_type = 'view') AS DOUBLE), 6)
  END AS rate_12,
  CASE WHEN (SELECT COUNT(*) FROM two) > 0
       THEN round((SELECT COUNT(*) FROM three)
                  / CAST((SELECT COUNT(*) FROM two) AS DOUBLE), 6)
  END AS rate_23,
  CASE WHEN (SELECT COUNT(*) FROM seq WHERE event_type = 'view') > 0
       THEN round((SELECT COUNT(*) FROM three)
                  / CAST((SELECT COUNT(*) FROM seq WHERE event_type = 'view') AS DOUBLE), 6)
  END AS rate_13
"""


# ---------------------------------------------------------------------------
# #94 per-user behavioral features: the feature-engineering aggregate a
# training pipeline materializes into a feature store — one groupBy
# produces the whole vector (conditional counts, recency span, active
# days, mean inter-event gap from integer epoch math — no window, no
# self-join).


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    # parquet event times are TIMESTAMP_NTZ; unix_micros needs an
    # instant — cast is a no-op shift under the UTC session
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id")
        .agg(
            n.alias("n_events"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_views"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
            # NOT dsum: `value` is a DOUBLE, and CAST(double AS
            # DECIMAL(18,6)) rounds per-engine (Spark HALF_UP on the
            # decimal expansion, DuckDB on the scaled binary) — a
            # latent 1-ulp divergence class. floor(x*1e6 + 0.5) is
            # plain IEEE, bit-identical in both engines; the micros
            # SUM is then exact decimal.
            (
                F.sum(
                    F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / 1e6
            ).alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            # round(x, 6) is the engine-divergent trap (Spark HALF_UP
            # vs DuckDB scaled-binary): user 1124 at sf0.1 lands the
            # mean gap exactly on a .xxxxxx5 boundary and the two
            # engines round it apart. floor(us/(n-1) + 0.5)/1e6 —
            # round-to-micros in integer space — is IEEE-identical.
            F.when(
                n > 1,
                F.floor(
                    (F.max(epoch) - F.min(epoch)).cast("double") / (n - 1)
                    + F.lit(0.5)
                )
                / 1_000_000.0,
            ).alias("mean_gap_sec"),
        )
        .withColumn(
            "purchase_per_view",
            F.when(
                F.col("n_views") > 0,
                F.floor(
                    F.col("n_purchases") / F.col("n_views") * 1e6 + F.lit(0.5)
                )
                / 1e6,
            ),
        )
        # active_days as a SEPARATE two-phase distinct, not a
        # countDistinct inside the wide agg — mixed distinct/non-
        # distinct aggregates plan as an Expand that doubles every
        # event row through the partial hash (supplier_scorecard's
        # measured 2x). The (user, day) distinct collapses map-side.
        .join(
            ev.select("user_id", F.to_date("ts").alias("_d"))
            .distinct()
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("active_days")),
            "user_id",
        )
        .select(
            "user_id",
            "n_events",
            "n_views",
            "n_purchases",
            "n_errors",
            "total_value",
            "first_ts",
            "last_ts",
            "active_days",
            "mean_gap_sec",
            "purchase_per_view",
        )
    )


USER_FEATURES_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS DECIMAL(28,0))) AS DOUBLE)
         / 1e6 AS total_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
       CASE WHEN COUNT(*) > 1
            THEN floor(CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE)
                       / (COUNT(*) - 1) + 0.5) / 1000000.0
       END AS mean_gap_sec,
       CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
            THEN floor(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
                       * 1e6 + 0.5) / 1e6
       END AS purchase_per_view
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# #95 fixed-width value histogram per event type — the OLAP histogram
# primitive (bin = floor(value/width); one shuffle on (type, bin),
# bins materialize only where data exists — sparse-safe, unlike a
# dense width_bucket array).

HIST_WIDTH = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bin_ = F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_min"),
            F.round(F.max("value"), 6).alias("bin_max"),
        )
        .withColumn("bin_lo", F.round(F.col("bin") * HIST_WIDTH, 6))
        .select("event_type", "bin", "bin_lo", "n", "bin_min", "bin_max")
        .orderBy("event_type", "bin")
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bin,
       CAST(round(CAST(floor(value / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH}, 6) AS DOUBLE) AS bin_lo,
       COUNT(*) AS n,
       round(MIN(value), 6) AS bin_min,
       round(MAX(value), 6) AS bin_max
FROM events
WHERE value IS NOT NULL
GROUP BY event_type, floor(value / {HIST_WIDTH})
ORDER BY event_type, bin
"""


# ---------------------------------------------------------------------------
# #99 last-touch attribution: each purchase attributed to the user's
# latest preceding 'view' within a 30-minute lookback — the marketing-
# attribution form of the as-of join (#19), computed as ONE ordered
# window pass per user instead of a join (the views and purchases are
# the same stream, so the as-of pairing is a running last-non-null).

ATTRIBUTION_WINDOW_SEC = 1800


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(purchase_id, user_id, purchase_ts, view_id, latency_sec);
    view_id/latency NULL when no view fell inside the lookback.

    Scale shape: one user-keyed exchange + sort; the running
    last-view carry is F.last(ignorenulls) over (ts, event_id) — a
    TOTAL order, so same-timestamp events resolve identically in any
    engine. No self-join: at 100 TB the events table is scanned once
    and shuffled once.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    last_view = F.last(
        F.when(
            F.col("event_type") == "view",
            F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid")),
        ),
        ignorenulls=True,
    ).over(w)
    in_window = (
        F.col("_lv").isNotNull()
        & (
            F.unix_timestamp("ts") - F.unix_timestamp("_lv.ts")
            <= ATTRIBUTION_WINDOW_SEC
        )
    )
    return (
        ev.withColumn("_lv", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(in_window, F.col("_lv.eid")).alias("view_id"),
            F.when(
                in_window,
                F.unix_timestamp("ts") - F.unix_timestamp("_lv.ts"),
            ).alias("latency_sec"),
        )
    )


LAST_TOUCH_ATTRIBUTION_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'view'
                         THEN struct_pack(ts := ts, eid := event_id) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
  FROM events
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       CASE WHEN lv IS NOT NULL
              AND date_diff('second', lv.ts, ts) <= {ATTRIBUTION_WINDOW_SEC}
            THEN lv.eid END AS view_id,
       CASE WHEN lv IS NOT NULL
              AND date_diff('second', lv.ts, ts) <= {ATTRIBUTION_WINDOW_SEC}
            THEN CAST(date_diff('second', lv.ts, ts) AS BIGINT) END AS latency_sec
FROM w
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# #100 session conversion by entry event: sessionize (30-min inactivity
# gap — the batch twin of the session window #12), then conversion rate
# grouped by each session's ENTRY event type (landing-page analysis:
# which entry behavior converts).

SESSION_GAP_SEC = 1800


def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(entry_type, n_sessions, n_converted, conversion_rate).

    Scale shape: the sessionization (lag + running sum) and the
    first-event row_number share ONE user-keyed sort order, so the
    whole derivation is one exchange + one sort; the per-session
    aggregate shuffles (user, session) keys; the final entry-type
    rollup is a handful of groups. Rate = integer counts divided once,
    rounded — engine-exact.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(
        gap.isNull() | (gap > SESSION_GAP_SEC), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("_new", new_sess)
        .withColumn(
            "_sess",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("user_id", "_sess").orderBy("ts", "event_id")
        ))
    )
    per_session = sess.groupBy("user_id", "_sess").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("event_type"))).alias(
            "entry_type"
        ),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("_conv"),
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("_conv").alias("n_converted"),
        )
        .withColumn(
            "conversion_rate",
            F.round(F.col("n_converted") / F.col("n_sessions"), 6),
        )
        .orderBy("entry_type")
    )


SESSION_CONVERSION_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS newsess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *,
         SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS rn
  FROM s
),
per_session AS (
  SELECT user_id, sess,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM r GROUP BY user_id, sess
)
SELECT entry_type,
       COUNT(*) AS n_sessions,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
FROM per_session
GROUP BY entry_type
ORDER BY entry_type
"""


# ---------------------------------------------------------------------------
# #104 per-user EWMA smoothing: the recursive time-series operator a
# window aggregate can't express (each value depends on the previous
# RESULT) — runs as a LINEAR Arrow-batched per-key fold
# (operators/transforms.ewma, applyInPandas); per-step rounding is
# plain IEEE arithmetic, identical in Python and SQL, so the oracle
# replays the recursion exactly with a recursive CTE.

EWMA_ALPHA = 0.3


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return transforms.ewma(
        ev.select("user_id", "event_id", "ts", "value"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        val_col="value",
        alpha=EWMA_ALPHA,
    )


# base AS MATERIALIZED: DuckDB 1.0 inlines plain CTEs, so the recursive
# arm's join would re-run the row_number window over the full events
# scan at EVERY recursion depth (max per-user chain length) — hint it
# once (DuckDB-only syntax; oracles never run on Spark).
USER_VALUE_EWMA_SQL = f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  -- floor(x*1e9 + 0.5)/1e9, not round(x, 9): plain IEEE ops are
  -- bit-identical across engines, round() is not (see transforms.ewma)
  SELECT user_id, event_id, ts, value, rn,
         floor(value * 1e9 + 0.5) / 1e9 AS ewma
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.ts, b.value, b.rn,
         floor(({EWMA_ALPHA} * b.value + (1.0 - {EWMA_ALPHA}) * r.ewma) * 1e9 + 0.5) / 1e9
  FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value, ewma FROM r
"""


# ---------------------------------------------------------------------------
# #106 DAU / WAU / stickiness: per-day active users, trailing-7-day
# active users, and their ratio — the product-analytics staple. The
# trailing-window DISTINCT is NOT a window aggregate (count distinct
# over a range frame isn't supported, and would be quadratic anyway):
# each (day, user) pair instead FANS OUT to the 7 window-days it
# supports (explode of a 7-element sequence — bounded, exact), then one
# distinct-count per window day.


def dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    w = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
    ).select(F.date_add(F.col("d"), F.col("i")).alias("d"), "user_id")
    wau = w.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return (
        days.join(dau, "d")
        .join(wau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


DAU_WAU_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM du),
dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d),
w AS (SELECT d + CAST(i AS INT) AS wd, user_id
     FROM du, unnest(generate_series(0, 6)) AS t(i)),
wau AS (SELECT wd AS d, COUNT(DISTINCT user_id) AS wau FROM w GROUP BY wd)
SELECT days.d AS day, dau.dau AS dau, wau.wau AS wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM days JOIN dau ON days.d = dau.d JOIN wau ON days.d = wau.d
ORDER BY day
"""


# ---------------------------------------------------------------------------
# #107 equi-depth value histogram: decile buckets of equal population
# (the complement of #95's equal-WIDTH bins) via the distributed
# global_ntile — per-bucket count + value range is the quantile sketch
# consumers actually read.

EQUIDEPTH_BUCKETS = 10


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transforms import global_ntile

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucketed = global_ntile(
        ev.select("value", "event_id"),
        EQUIDEPTH_BUCKETS,
        ["value", "event_id"],
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("bucket")
    )


EQUIDEPTH_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT value,
         ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY value, event_id) AS bucket
  FROM events WHERE value IS NOT NULL
)
SELECT bucket, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
FROM b GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# #109 per-user value trend: closed-form OLS slope/intercept of value
# over event time, per user — per-entity trend fitting from grouped
# decimal-routed moments (no iterative fit, no Python).
#
# TWO passes on purpose: x is centered on the user's first event
# BEFORE the moment aggregate. The algebraic one-pass shift needs the
# raw moment Σx² ≈ (1.7e9)²·n > 2^53, and while the decimal sum is
# exact, its CAST to double is correctly-rounded in Spark but not in
# DuckDB (observed 1-ulp divergence at 2e20 — enough to flip a rounded
# intercept). Centered moments stay below 2^53, where the cast is
# exact in every engine.


def user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    xr = F.unix_timestamp("ts")
    base = ev.groupBy("user_id").agg(F.min(xr).alias("_x0"))
    j = ev.join(base, "user_id").withColumn(
        "_x", (xr - F.col("_x0")).cast("double")
    )
    x = F.col("_x")
    m = j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sy"),
        F.sum((x * F.col("value")).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        denom > 0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    )  # single-point / zero-variance users have no slope (NULL)
    intercept = F.when(denom > 0, (F.col("sy") - slope * F.col("sx")) / n)
    # floor(x*1e6+0.5)/1e6 instead of round(x, 6): engine-portable on
    # boundary values (see transforms.ewma)
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return m.select(
        "user_id",
        F.col("n").alias("n_events"),
        q6(slope * 3600.0).alias("slope_per_hour"),
        q6(intercept).alias("intercept"),
    ).orderBy("user_id")


USER_TREND_SQL = """
WITH e AS (
  -- floor(epoch()): Spark's unix_timestamp is WHOLE seconds; DuckDB's
  -- epoch() keeps microseconds — without the floor the moments differ
  SELECT user_id, floor(epoch(ts)) AS xr, value
  FROM events WHERE value IS NOT NULL
),
b AS (SELECT user_id, MIN(xr) AS x0 FROM e GROUP BY user_id),
c AS (
  SELECT e.user_id, e.xr - b.x0 AS x, e.value
  FROM e JOIN b ON e.user_id = b.user_id
),
m AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * value AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM c GROUP BY user_id
),
f AS (
  SELECT user_id, n, sx, sy,
         n * sxx - sx * sx AS denom,
         n * sxy - sx * sy AS num
  FROM m
)
SELECT user_id, n AS n_events,
       CASE WHEN denom > 0
            THEN floor(num / denom * 3600.0 * 1e6 + 0.5) / 1e6 END AS slope_per_hour,
       CASE WHEN denom > 0
            THEN floor((sy - (num / denom) * sx) / n * 1e6 + 0.5) / 1e6 END AS intercept
FROM f
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# #110 ranking-function family: rank / dense_rank / percent_rank /
# cume_dist over one keyed window — the remaining Flink Table-API
# OVER-aggregates in a single shared-sort pass (row_number/lag/lead/
# ntile are exercised elsewhere: #9, #80b, #89).


def event_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    out = (
        ev.select("event_type", "event_id", "value")
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("prank", F.round(F.percent_rank().over(w), 6))
        .withColumn("cdist", F.round(F.cume_dist().over(w), 6))
    )
    return out.filter(F.col("rnk") <= 5).orderBy("event_type", "rnk", "event_id")


EVENT_RANK_FAMILY_SQL = """
WITH w AS (
  SELECT event_type, event_id, value,
         rank() OVER win AS rnk,
         dense_rank() OVER win AS drnk,
         round(percent_rank() OVER win, 6) AS prank,
         round(cume_dist() OVER win, 6) AS cdist
  FROM events WHERE value IS NOT NULL
  WINDOW win AS (PARTITION BY event_type ORDER BY value DESC, event_id)
)
SELECT event_type, event_id, value, rnk, drnk, prank, cdist
FROM w WHERE rnk <= 5
ORDER BY event_type, rnk, event_id
"""


# ---------------------------------------------------------------------------
# #111 exact global percentiles: p50/p90/p99 of the value column by
# distributed rank (global_rank — no single-partition window), the
# EXACT complement of the GK-sketch quantiles in #50's profile. The
# percentile is discrete (value at rank ceil(p·n) over the
# (value, event_id) total order) so both engines select the identical
# row — no interpolation arithmetic to diverge.

PCT_POINTS = (0.5, 0.9, 0.99)


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transforms import _global_rank_with_total

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ranked, n = _global_rank_with_total(
        ev.select("value", "event_id"), ["value", "event_id"], "_r", None
    )
    import math

    # a JOIN against the literal target frame, not a when-chain: two
    # percentile points can land on the SAME rank at small n
    # (ceil(0.9*n) == ceil(0.99*n) for n <= ~100) and each must still
    # emit its own row, as the oracle's VALUES cross join does
    # (review r4 finding)
    targets = spark.createDataFrame(
        [(float(p), max(1, math.ceil(p * n))) for p in PCT_POINTS],
        "percentile double, _r long",
    )
    return (
        ranked.join(F.broadcast(targets), "_r")
        .select("percentile", "value")
        .orderBy("percentile")
    )


VALUE_PERCENTILES_SQL = f"""
WITH r AS (
  SELECT value,
         row_number() OVER (ORDER BY value, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events WHERE value IS NOT NULL
)
SELECT CAST(p AS DOUBLE) AS percentile, value
FROM r, (VALUES {", ".join(f"({p})" for p in PCT_POINTS)}) AS t(p)
WHERE rn = GREATEST(1, CAST(ceil(p * n) AS BIGINT))
ORDER BY percentile
"""


# ---------------------------------------------------------------------------
# #115 event-transition mining: per-user consecutive event-type bigrams
# → global transition counts + row-normalized probabilities (the
# first-order Markov view of the event stream; what session-flow
# diagrams and next-event predictors consume). One user-keyed window
# (lag) + one tiny aggregate — the same single-sort shape as #100.


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("from_type"), F.col("event_type").alias("to_type"))
    )
    w_from = Window.partitionBy("from_type")
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "p",
            F.round(F.col("n") / F.sum("n").over(w_from), 6),
        )
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
cnt AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM cnt
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# #116 per-user activity outliers: users whose event count is beyond
# ±2σ of the population — z from closed-form moments (n, Σx, Σx²,
# decimal-routed like #108/#109) so the flag is partition-order-exact;
# two tiny aggregates, no window over the full population.

OUTLIER_Z = 2.0


def user_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    x = F.col("n_events").cast("double")
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    z = (F.col("n_events") - F.col("_mean")) / F.col("_sd")
    return (
        per_user.crossJoin(
            F.broadcast(
                m.select(mean.alias("_mean"), F.sqrt(var).alias("_sd"))
            )
        )
        .filter(
            (F.col("_sd") > 0)
            & (F.abs(F.col("n_events") - F.col("_mean")) > OUTLIER_Z * F.col("_sd"))
        )
        .select(
            "user_id",
            "n_events",
            F.floor(z * 1e6 + F.lit(0.5)).cast("double").alias("_zq"),
        )
        .withColumn("z_score", F.col("_zq") / 1e6)
        .drop("_zq")
        .orderBy("user_id")
    )


USER_OUTLIERS_SQL = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(n_events AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(n_events * n_events AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM per_user
),
s AS (
  SELECT sx / n AS mean, sqrt((sxx - sx * sx / n) / n) AS sd FROM m
)
SELECT user_id, n_events,
       floor((n_events - mean) / sd * 1e6 + 0.5) / 1e6 AS z_score
FROM per_user, s
WHERE sd > 0 AND abs(n_events - mean) > {OUTLIER_Z} * sd
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# #117 robust outliers via median/MAD — the median-based twin of #116's
# mean/stddev z-score (robust to the heavy tail that inflates a mean).
# The scale problem is per-TYPE medians with only ~5 types: a keyed
# window would funnel each type's billions of rows through one task, so
# both selection passes run on operators/transforms.keyed_rank_with_totals
# (range-partitioned per-key rank; driver traffic bounded by P+K).
# Discrete percentile convention (value at rank ceil(p·n) over a total
# order) — no interpolation arithmetic to diverge between engines.

MAD_K = 3.0  # flag |x - median| > MAD_K * 1.4826 * MAD
MAD_CONSISTENCY = 1.4826  # normal-consistency constant


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transforms import keyed_select_rank

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select("event_type", "event_id", "value")

    # discrete median = rank ceil(n/2); keyed_select_rank windows ONLY
    # the partitions holding each key's target rank (≤K of them), never
    # the full relation — see the operator docstring
    median_rank = lambda n: (n + 1) // 2  # noqa: E731  ceil(n/2)

    pinned1, med_row = keyed_select_rank(
        base, ["event_type"], ["value", "event_id"], median_rank
    )
    med = med_row.select("event_type", F.col("value").alias("median"))
    # dev chains off the PASS-1 CHECKPOINT (not a fresh events scan)
    dev = pinned1.join(F.broadcast(med), "event_type").select(  # broadcast-policy-exempt: K rows
        "event_type",
        "event_id",
        "value",
        F.abs(F.col("value") - F.col("median")).alias("_dev"),
        "median",
    )
    # pass 2 pins the FULL dev rows, so its checkpoint doubles as the
    # flagging input — nothing upstream is recomputed for the final agg
    pinned2, mad_row = keyed_select_rank(
        dev, ["event_type"], ["_dev", "event_id"], median_rank
    )
    mad = mad_row.select("event_type", F.col("_dev").alias("mad"))
    flagged = pinned2.join(F.broadcast(mad), "event_type").withColumn(  # broadcast-policy-exempt: K rows
        "_is_out",
        F.col("_dev") > F.lit(MAD_K * MAD_CONSISTENCY) * F.col("mad"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(F.col("_is_out").cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


MAD_OUTLIERS_SQL = f"""
WITH base AS (
  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
r1 AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (
  SELECT event_type, value AS median FROM r1
  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
dev AS (
  SELECT b.event_type, b.event_id, b.value,
         abs(b.value - m.median) AS dv, m.median
  FROM base b JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, dv,
         row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, dv AS mad FROM r2
  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
)
SELECT d.event_type,
       COUNT(*) AS n,
       MAX(d.median) AS median,
       MAX(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.dv > {MAD_K * MAD_CONSISTENCY} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# #118 peak concurrency (sweep line): max number of simultaneously-open
# user sessions per day — the capacity-planning staple. The naive
# global prefix sum is a single-task sort; this plan (a) compresses
# boundary events to per-(day, ts) start/end COUNTS before any window
# (distinct-timestamp cardinality, not event cardinality), and (b)
# sweeps per DAY (keyed window over the compressed frame). Sessions
# are inclusive [start, end]: at the peak timestamp all starts count
# before any end, so peak(ts) = cum_net(ts) + n_end(ts) — the +1s of a
# tick apply before its -1s, deterministically, with no per-row order.

CONCURRENCY_GAP_MIN = 30


def max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = CONCURRENCY_GAP_MIN * 60
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("_prev", F.lag("ts").over(w_u))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("_prev") > gap_s)
            ).cast("long"),
        )
        .withColumn("_sid", F.sum("_new").over(w_u))
        .groupBy("user_id", "_sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    # explode sessions across the days they span, clipped inclusive
    days = sess.select(
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("day"),
    ).select(
        "day",
        F.greatest(F.col("s_start"), F.col("day").cast("timestamp")).alias("c_start"),
        F.least(
            F.col("s_end"),
            F.expr("timestampadd(MICROSECOND, -1, CAST(date_add(day, 1) AS TIMESTAMP))"),
        ).alias("c_end"),
    )
    # Both boundary rows are emitted in ONE pass via explode(array(..)):
    # the former unionByName(select(start), select(end)) made Catalyst
    # compute the whole sessionization subtree (scan -> window shuffle
    # -> session agg -> day explode) TWICE — one copy per union branch
    # (no cross-branch CSE). Row set is identical: each clipped
    # session-day contributes exactly one (_s=1, c_start) and one
    # (_s=0, c_end) row in both formulations.
    bounds = (
        days.select(
            "day",
            F.explode(
                F.array(
                    F.struct(F.col("c_start").alias("t"), F.lit(1).alias("_s")),
                    F.struct(F.col("c_end").alias("t"), F.lit(0).alias("_s")),
                )
            ).alias("_b"),
        )
        .select("day", F.col("_b.t").alias("t"), F.col("_b._s").alias("_s"))
        .groupBy("day", "t")
        .agg(
            F.sum("_s").alias("n_start"),
            F.sum(1 - F.col("_s")).alias("n_end"),
        )
    )
    w_d = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bounds.withColumn(
            "_cum_net", F.sum(F.col("n_start") - F.col("n_end")).over(w_d)
        )
        .withColumn("_peak", F.col("_cum_net") + F.col("n_end"))
        .groupBy("day")
        .agg(F.max("_peak").alias("max_concurrency"))
        .orderBy("day")
    )


MAX_CONCURRENCY_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                   > {CONCURRENCY_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
    FROM marked
  )
  GROUP BY user_id, sid
),
clipped AS (
  SELECT CAST(d.day AS DATE) AS day,
         greatest(s_start, CAST(CAST(d.day AS DATE) AS TIMESTAMP)) AS c_start,
         least(s_end, CAST(CAST(d.day AS DATE) AS TIMESTAMP)
                      + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND) AS c_end
  FROM sess,
       LATERAL unnest(generate_series(CAST(s_start AS DATE),
                                      CAST(s_end AS DATE),
                                      INTERVAL 1 DAY)) AS d(day)
),
bounds AS (
  SELECT day, t,
         CAST(SUM(s) AS BIGINT) AS n_start,
         CAST(SUM(1 - s) AS BIGINT) AS n_end
  FROM (
    SELECT day, c_start AS t, 1 AS s FROM clipped
    UNION ALL
    SELECT day, c_end AS t, 0 AS s FROM clipped
  )
  GROUP BY day, t
),
swept AS (
  SELECT day,
         SUM(n_start - n_end) OVER (PARTITION BY day ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n_end AS peak
  FROM bounds
)
SELECT day, CAST(MAX(peak) AS BIGINT) AS max_concurrency
FROM swept GROUP BY day ORDER BY day
"""


# ---------------------------------------------------------------------------
# #119 hour-of-day seasonality profile: per (event_type, hour) counts
# zero-filled over the full 24-hour grid, each bucket's share of its
# type and its z-score against the type's hourly mean. Variance is
# computed from CENTERED integer deviations (d = 24·cnt − total, exact
# BIGINT) so no >2^53 raw moment ever passes through a double
# (num.py / oracle-portability rule: DuckDB's hugeint→double cast is
# not correctly rounded above 2^53).


def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    counts = (
        ev.groupBy("event_type", F.hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(  # broadcast-policy-exempt: 24-row literal frame
                ev.sparkSession.range(24).select(F.col("id").cast("int").alias("hour"))
            )
        )
    )
    filled = (
        grid.join(counts, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )
    from pyspark.sql import Window

    w_t = Window.partitionBy("event_type")  # 24 rows per type — bounded
    d = 24 * F.col("cnt") - F.col("_total")
    return (
        filled.withColumn("_total", F.sum("cnt").over(w_t))
        .withColumn("_d", d)
        .withColumn("_sum_d2", F.sum(F.col("_d") * F.col("_d")).over(w_t))
        .select(
            "event_type",
            "hour",
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 9).alias("share"),
            F.when(
                F.col("_sum_d2") > 0,
                F.round(
                    F.col("_d") / F.sqrt(F.col("_sum_d2").cast("double") / 24), 9
                ),
            ).otherwise(F.lit(0.0)).alias("z"),
        )
        .orderBy("event_type", "hour")
    )


HOURLY_SEASONALITY_SQL = """
WITH counts AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, h.hour
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(0, 23)) AS hour) h
),
filled AS (
  SELECT g.event_type, CAST(g.hour AS INTEGER) AS hour,
         CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.hour = c.hour
),
stats AS (
  SELECT event_type, hour, cnt,
         CAST(SUM(cnt) OVER w AS BIGINT) AS total,
         24 * cnt - CAST(SUM(cnt) OVER w AS BIGINT) AS d
  FROM filled
  WINDOW w AS (PARTITION BY event_type)
),
d2 AS (
  SELECT event_type, hour, cnt, total, d,
         CAST(SUM(d * d) OVER (PARTITION BY event_type) AS BIGINT) AS sum_d2
  FROM stats
)
SELECT event_type, hour, cnt,
       round(CAST(cnt AS DOUBLE) / total, 9) AS share,
       CASE WHEN sum_d2 > 0
            THEN round(d / sqrt(CAST(sum_d2 AS DOUBLE) / 24), 9)
            ELSE 0.0 END AS z
FROM d2
ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# #120 event-type co-occurrence mining: which event types appear in the
# SAME user's history, scored by lift and Jaccard — the association
# view over users (#115's transition mining is its sequential cousin).
# Pure ratios, no log: deterministic in both engines with no libm
# dependency. Pair fan-out is C(|types|, 2) per user — bounded by the
# type vocabulary, not the event count.


def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("_u")
    )
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    a = ut.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = singles.select(
        F.col("event_type").alias("type_a"), F.col("_n").alias("n_a")
    )
    nb = singles.select(
        F.col("event_type").alias("type_b"), F.col("_n").alias("n_b")
    )
    return (
        # singles/total are type-vocabulary- and single-row-sized
        pairs.join(F.broadcast(na), "type_a")  # broadcast-policy-exempt
        .join(F.broadcast(nb), "type_b")  # broadcast-policy-exempt
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("_u") * F.col("n_both") / (F.col("n_a") * F.col("n_b")), 9
            ).alias("lift"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


EVENT_COOCCURRENCE_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
singles AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       sa.n AS n_a, sb.n AS n_b,
       round(CAST(u.n_users AS DOUBLE) * n_both / (sa.n * sb.n), 9) AS lift,
       round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 9) AS jaccard
FROM pairs
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
CROSS JOIN u
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# #121 activity bitmap + streaks: each user's active days packed into a
# 64-bit bitmask (bit i = active on epoch-day-offset i from the corpus
# start) — the Roaring-bitmap-style retention layout — plus the longest
# consecutive-day streak via gaps-and-islands (idx − dense_rank is
# constant within a run). Bit ops and window ranks only; no iteration.

STREAK_EPOCH = "2024-01-01"


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit(STREAK_EPOCH).cast("date")).alias(
                "idx"
            ),
        )
        .filter((F.col("idx") >= 0) & (F.col("idx") < 64))
        .distinct()
    )
    w_u = Window.partitionBy("user_id").orderBy("idx")
    islands = (
        days.withColumn("_grp", F.col("idx") - F.row_number().over(w_u))
        .groupBy("user_id", "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy("user_id")
        .agg(F.max("_len").alias("longest_streak"))
    )
    masks = days.groupBy("user_id").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), idx)")).alias("day_mask"),
        F.count(F.lit(1)).alias("days_active"),
    )
    return (
        masks.join(islands, "user_id")
        .select("user_id", "day_mask", "days_active", "longest_streak")
        .orderBy("user_id")
    )


ACTIVITY_STREAKS_SQL = f"""
WITH days AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '{STREAK_EPOCH}', CAST(ts AS DATE)) AS idx
  FROM events
  WHERE datediff('day', DATE '{STREAK_EPOCH}', CAST(ts AS DATE)) BETWEEN 0 AND 63
),
islands AS (
  SELECT user_id, MAX(len) AS longest_streak
  FROM (
    SELECT user_id, COUNT(*) AS len
    FROM (
      SELECT user_id, idx,
             idx - row_number() OVER (PARTITION BY user_id ORDER BY idx) AS grp
      FROM days
    )
    GROUP BY user_id, grp
  )
  GROUP BY user_id
),
masks AS (
  SELECT user_id,
         CAST(SUM(CAST(1 AS BIGINT) << idx) AS BIGINT) AS day_mask,
         COUNT(*) AS days_active
  FROM days GROUP BY user_id
)
SELECT m.user_id, m.day_mask, m.days_active, i.longest_streak
FROM masks m JOIN islands i ON m.user_id = i.user_id
ORDER BY m.user_id
"""


# ---------------------------------------------------------------------------
# #133 CUMULATE window TVF (Flink's fourth window kind, alongside the
# TUMBLE/HOP/SESSION family above): per-day growing windows at 1-hour
# steps over the event stream — "running total that resets daily".
# The operator aggregates once per slice then rolls up over the
# bounded slice tier (see operators/windows.cumulate_window for the
# scale argument); this is NOT the size/step explode the HOP query
# accepts at ratio 5 — at ratio 24 the explode would shuffle 12x the
# facts.

CUMULATE_MAX_SEC = 86400
CUMULATE_STEP_SEC = 3600


def cumulate_window_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return windows.cumulate_window(
        ev,
        "ts",
        CUMULATE_MAX_SEC,
        CUMULATE_STEP_SEC,
        keys=["event_type"],
        value_col="value",
    ).orderBy("window_start", "window_end", "event_type")


CUMULATE_WINDOW_SQL = f"""
WITH sl AS (
  SELECT CAST(floor(floor(epoch(ts)) / {CUMULATE_MAX_SEC}) * {CUMULATE_MAX_SEC} AS BIGINT) AS f0,
         CAST(floor((floor(epoch(ts)) - floor(floor(epoch(ts)) / {CUMULATE_MAX_SEC}) * {CUMULATE_MAX_SEC}) / {CUMULATE_STEP_SEC}) AS BIGINT) AS si,
         event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1, 2, 3
),
grid AS (
  SELECT f0, event_type, unnest(range(0, {CUMULATE_MAX_SEC // CUMULATE_STEP_SEC})) AS si
  FROM (SELECT DISTINCT f0, event_type FROM sl)
),
filled AS (
  SELECT g.f0, g.event_type, g.si,
         COALESCE(sl.n, 0) AS n,
         COALESCE(sl.s, CAST(0 AS DECIMAL(18,6))) AS s
  FROM grid g LEFT JOIN sl
    ON g.f0 = sl.f0 AND g.si = sl.si AND g.event_type = sl.event_type
),
cum AS (
  SELECT f0, event_type, si,
         SUM(n) OVER w AS cum_n,
         SUM(s) OVER w AS cum_s
  FROM filled
  WINDOW w AS (PARTITION BY f0, event_type ORDER BY si
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT make_timestamp(f0 * 1000000) AS window_start,
       make_timestamp((f0 + (si + 1) * {CUMULATE_STEP_SEC}) * 1000000) AS window_end,
       event_type,
       CAST(cum_n AS BIGINT) AS n_events,
       CAST(cum_s AS DOUBLE) AS sum_value
FROM cum WHERE cum_n > 0
ORDER BY window_start, window_end, event_type
"""


# ---------------------------------------------------------------------------
# #134 chi-square independence test: is event_type independent of the
# user-property bucket? The contingency table is |types| x |buckets|
# (bounded dims), built in ONE keyed aggregate over the facts; the
# marginals, expected counts and the statistic are windows/aggregates
# over that <=20-row cell tier — the fact table is touched exactly
# once. Completes the inferential family (#91 two-proportion z-test is
# 2x2; this is the general r x c test with effect size).

CHI2_BUCKET_WIDTH = 25


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.floor(
                F.get_json_object(F.col("props"), "$.k").cast("int")
                / CHI2_BUCKET_WIDTH
            ).alias("bucket"),
        )
        .filter(F.col("bucket").isNotNull())
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # all three windows run over the bounded cell tier, never the facts
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("bucket")
    e = (
        F.sum("o").over(w_row).cast("double")
        * F.sum("o").over(w_col).cast("double")
        / F.sum("o").over(w_all).cast("double")
    )
    terms = cells.select(
        "event_type",
        "bucket",
        "o",
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 9).alias("term"),
        F.sum("o").over(w_all).alias("n"),
    )
    agg = terms.agg(
        F.first("n").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("bucket").alias("c"),
        F.sum(F.col("term").cast(DEC)).cast("double").alias("chi2_raw"),
    )
    return agg.select(
        "n",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round("chi2_raw", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


CHI2_INDEPENDENCE_SQL = f"""
WITH cells AS (
  SELECT event_type,
         CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER)
                    / {CHI2_BUCKET_WIDTH}) AS BIGINT) AS bucket,
         COUNT(*) AS o
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
  GROUP BY 1, 2
),
terms AS (
  SELECT o,
         round((o - e) * (o - e) / e, 9) AS term, n
  FROM (
    SELECT o,
           CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE)
             * CAST(SUM(o) OVER (PARTITION BY bucket) AS DOUBLE)
             / CAST(SUM(o) OVER () AS DOUBLE) AS e,
           SUM(o) OVER () AS n
    FROM cells
  )
),
agg AS (
  SELECT CAST(MIN(n) AS BIGINT) AS n,
         (SELECT COUNT(DISTINCT event_type) FROM cells) AS r,
         (SELECT COUNT(DISTINCT bucket) FROM cells) AS c,
         CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2_raw
  FROM terms
)
SELECT n,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       round(chi2_raw, 6) AS chi2,
       round(sqrt(chi2_raw / (n * least(r - 1, c - 1))), 6) AS cramers_v
FROM agg
"""


# ---------------------------------------------------------------------------
# #142 OHLC bars: hourly open/high/low/close of the event value per
# event_type — the candlestick rollup every metrics store exposes.
# ONE keyed aggregate (map-side combined): open/close are min_by /
# max_by over a zero-padded (epoch_us, event_id) string key, so the
# "first/last" tie-break is total-ordered and engine-identical (no
# window, no second shuffle).


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; the session tz is pinned to UTC, so
    # the cast is an identity relabel and unix_micros == DuckDB epoch_us
    skey = F.concat(
        F.lpad(
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"
        ),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "event_type",
            "value",
            skey.alias("_k"),
        )
        .groupBy("bar_hour", "event_type")
        .agg(
            F.min_by("value", "_k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "_k").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("bar_hour", "event_type")
    )


OHLC_BARS_SQL = """
SELECT date_trunc('hour', ts) AS bar_hour,
       event_type,
       arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
                      || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# #143 time-weighted average (TWAP): per user per day, each value
# weighted by the seconds until the user's next event that day — the
# correct "average level" for irregularly sampled series (a plain AVG
# over-weights bursts). One keyed sort supplies the lead; durations
# are exact integer seconds; the weighted sum routes value*duration
# through decimal so the division sees partition-order-exact inputs.
# Users with a single event in a day carry no duration and drop out.


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    timed = base.withColumn(
        "dur",
        (
            F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp(F.col("ts"))
        ).cast("long"),
    ).filter(F.col("dur").isNotNull())
    return (
        timed.groupBy("user_id", "day")
        .agg(
            F.sum((F.col("value") * F.col("dur")).cast("decimal(38,6)"))
            .cast("double")
            .alias("_wsum"),
            F.sum("dur").alias("total_sec"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .filter(F.col("total_sec") > 0)
        .select(
            "user_id",
            "day",
            F.round(F.col("_wsum") / F.col("total_sec"), 9).alias("twap"),
            "total_sec",
            "n_intervals",
        )
        .orderBy("user_id", "day")
    )


TIME_WEIGHTED_AVG_SQL = """
WITH timed AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                         ORDER BY ts, event_id)))
              - floor(epoch(ts)) AS BIGINT) AS dur
  FROM events
)
SELECT user_id, day,
       round(CAST(SUM(CAST(value * dur AS DECIMAL(38,6))) AS DOUBLE)
             / SUM(dur), 9) AS twap,
       CAST(SUM(dur) AS BIGINT) AS total_sec,
       COUNT(*) AS n_intervals
FROM timed
WHERE dur IS NOT NULL
GROUP BY user_id, day
HAVING SUM(dur) > 0
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------------
# #151 Mann-Kendall trend test per user: the nonparametric "is this
# series monotonically drifting" screen (S = Σ_{i<j} sign(x_j − x_i),
# τ_a = 2S / n(n−1)) — robust to outliers where the OLS trend (#109)
# is not. The oracle replays the textbook O(n²) pairwise sweep; the
# Spark path streams each user's series once through a Fenwick tree
# (operators/transforms.mann_kendall_s, O(n log n) per key — a power
# user's million-event series costs a sort, not a billion pairs).
# τ is quantized floor(x·10⁹+0.5)/10⁹ — pure IEEE ops, engine-identical
# (round() half-up vs scaled-binary disagrees; num.py discipline).

MANN_KENDALL_MIN_N = 5


def mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    s = transforms.mann_kendall_s(ev, ["user_id"], ["ts", "event_id"], "value")
    return (
        s.where(F.col("n") >= MANN_KENDALL_MIN_N)
        .select(
            "user_id",
            "n",
            "s_stat",
            (
                F.floor(
                    (2.0 * F.col("s_stat"))
                    / (F.col("n") * (F.col("n") - 1))
                    * 1e9
                    + F.lit(0.5)
                )
                / 1e9
            ).alias("tau"),
        )
        .orderBy("user_id")
    )


MANN_KENDALL_SQL = f"""
WITH e AS (
  SELECT user_id, ts, event_id, value FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT a.user_id,
         CAST(SUM(CASE WHEN b.value > a.value THEN 1
                       WHEN b.value < a.value THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM e a JOIN e b
    ON a.user_id = b.user_id
   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
  GROUP BY a.user_id
),
n AS (SELECT user_id, COUNT(*) AS n FROM e GROUP BY 1)
SELECT n.user_id, n.n, COALESCE(s.s_stat, 0) AS s_stat,
       floor((2.0 * COALESCE(s.s_stat, 0)) / (n.n * (n.n - 1)) * 1e9 + 0.5)
         / 1e9 AS tau
FROM n LEFT JOIN s ON n.user_id = s.user_id
WHERE n.n >= {MANN_KENDALL_MIN_N}
ORDER BY n.user_id
"""


# ---------------------------------------------------------------------------
# #152 inter-event gap profile: seconds between consecutive events per
# user (a per-USER lag window — millions of small keys, the regime
# where a keyed window is exactly right), then distribution stats per
# event TYPE of the latter event. The type key is FEW-HUGE (≈5 values
# over the whole stream), so the median selection goes through
# transforms.keyed_select_rank (range-partitioned per-key order
# statistic, ≤ P+K driver scalars) instead of a 5-task
# Window.partitionBy(type) rank. Gap seconds are whole-second ints in
# both engines (unix_timestamp ↔ floor(epoch()) — DuckDB keeps micros).

def interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("_prev")).alias(
                "gap_sec"
            ),
        )
    )
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (
            F.floor(
                (F.sum(F.col("gap_sec").cast(DEC)).cast("double") / F.count(F.lit(1)))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_gap_sec"),
    )
    _, med = transforms.keyed_select_rank(
        gaps, ["event_type"], ["gap_sec"], lambda n: (n + 1) // 2
    )
    return (
        stats.join(
            med.select("event_type", F.col("gap_sec").alias("p50_gap_sec")),
            "event_type",
        )
        .select("event_type", "n_gaps", "mean_gap_sec", "p50_gap_sec")
        .orderBy("event_type")
    )


INTEREVENT_GAPS_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_sec
  FROM events
),
g2 AS (SELECT event_type, gap_sec FROM g WHERE gap_sec IS NOT NULL),
stats AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         floor(CAST(SUM(CAST(gap_sec AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_gap_sec
  FROM g2 GROUP BY 1
),
med AS (
  SELECT event_type, gap_sec AS p50_gap_sec FROM (
    SELECT event_type, gap_sec,
           row_number() OVER (PARTITION BY event_type ORDER BY gap_sec) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM g2
  ) WHERE rn = (n + 1) // 2
)
SELECT s.event_type, s.n_gaps, s.mean_gap_sec, m.p50_gap_sec
FROM stats s JOIN med m ON s.event_type = m.event_type
ORDER BY s.event_type
"""


# ---------------------------------------------------------------------------
# #153 ROC-AUC of "event value predicts purchase": the Mann-Whitney
# rank-sum AUC with average-rank tie handling — the model-evaluation
# primitive a scoring pipeline runs at every release. Integer-exact to
# the last step: per distinct score the tier holds (n, n_pos); the
# EXCLUSIVE rank prefix comes from the distributed global prefix sum
# (transforms.keyed_prefix_sum, NO key — no unpartitioned window over
# the score domain); 2·Σ(ranks of positives) = Σ n_pos·(2·cum_excl +
# n + 1) sums in decimal(38,0); doubles appear only in the final
# closed form AUC = (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻), then floor-trick 9.

def roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("_pos"),
        )
    )
    tier = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_pos").alias("_np")
    )
    cum = transforms.keyed_prefix_sum(tier, [], ["value"], "_n", out_col="_cw")
    contrib = cum.select(
        F.col("_np").cast("decimal(38,0)").alias("np"),
        F.col("_n").cast("decimal(38,0)").alias("n"),
        (F.col("_cw").cast("decimal(38,0)") - F.col("_n")).alias("cum_excl"),
    ).agg(
        F.sum(
            F.col("np") * (2 * F.col("cum_excl") + F.col("n") + 1)
        ).alias("_r2"),
        F.sum("np").alias("_npos"),
        F.sum(F.col("n") - F.col("np")).alias("_nneg"),
    )
    return contrib.select(
        F.col("_npos").cast("long").alias("n_pos"),
        F.col("_nneg").cast("long").alias("n_neg"),
        (
            F.floor(
                (
                    (F.col("_r2") - F.col("_npos") * (F.col("_npos") + 1))
                    .cast("double")
                    / (2 * F.col("_npos") * F.col("_nneg")).cast("double")
                )
                * 1e9
                + F.lit(0.5)
            )
            / 1e9
        ).alias("auc"),
    )


ROC_AUC_SQL = """
WITH e AS (
  SELECT value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value IS NOT NULL
),
tier AS (
  SELECT value, COUNT(*) AS n, SUM(pos) AS np FROM e GROUP BY 1
),
cum AS (
  SELECT np, n,
         SUM(n) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cum_excl
  FROM tier
),
agg AS (
  SELECT SUM(np * (2 * cum_excl + n + 1)) AS r2,
         SUM(np) AS npos, SUM(n - np) AS nneg
  FROM cum
)
SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
       floor(CAST(r2 - npos * (npos + 1) AS DOUBLE)
             / CAST(2 * npos * nneg AS DOUBLE) * 1e9 + 0.5) / 1e9 AS auc
FROM agg
"""


# ---------------------------------------------------------------------------
# #160 Holt double-exponential smoothing per user: level + trend — the
# forecasting upgrade of EWMA #104 (EWMA lags a trending series; the
# trend term closes the lag, and level+trend is the one-step-ahead
# forecast every capacity dashboard draws). Same recursion discipline
# as EWMA: linear mapInPandas fold, both state variables quantized
# floor(x·1e9+0.5)/1e9 per step so the DuckDB recursive CTE replays it
# bit-for-bit (operators/transforms.holt_linear).

HOLT_ALPHA = 0.5
HOLT_BETA = 0.3


def holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return transforms.holt_linear(
        ev, ["user_id"], ["ts", "event_id"], "value",
        alpha=HOLT_ALPHA, beta=HOLT_BETA,
    ).select("user_id", "ts", "event_id", "value", "level", "trend")


# base AS MATERIALIZED — same inlined-CTE-in-recursion trap as
# USER_VALUE_EWMA_SQL above.
HOLT_SMOOTHING_SQL = f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, event_id, ts, value, rn,
         floor(value * 1e9 + 0.5) / 1e9 AS level,
         CAST(0.0 AS DOUBLE) AS trend
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.ts, b.value, b.rn,
         floor(({HOLT_ALPHA} * b.value
                + (1.0 - {HOLT_ALPHA}) * (r.level + r.trend)) * 1e9 + 0.5) / 1e9,
         floor(({HOLT_BETA} * (floor(({HOLT_ALPHA} * b.value
                + (1.0 - {HOLT_ALPHA}) * (r.level + r.trend)) * 1e9 + 0.5) / 1e9
                - r.level)
                + (1.0 - {HOLT_BETA}) * r.trend) * 1e9 + 0.5) / 1e9
  FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, ts, event_id, value, level, trend FROM r
"""


# ---------------------------------------------------------------------------
# #161 funnel latency: seconds from a user's FIRST view to the first
# purchase at-or-after it — the "how long does conversion take"
# companion of the funnel rate queries (#92 counts conversions, this
# measures their delay). Two tiny per-user aggregates (min-ts view,
# then conditional min over purchases ≥ that ts — one keyed join, no
# window), then ONE summary row: count, mean (decimal-routed), median
# via the distributed order statistic (keyed_select_rank with NO key —
# range-partitioned selection, ≤ P driver scalars, no single-task
# sort).

def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_vts"))
    )
    lat = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .where(F.col("ts") >= F.col("_vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_pts"), F.first("_vts").alias("_vts2"))
        .select(
            "user_id",
            (F.unix_timestamp("_pts") - F.unix_timestamp("_vts2")).alias(
                "latency_sec"
            ),
        )
    )
    stats = lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        (
            F.floor(
                (F.sum(F.col("latency_sec").cast(DEC)).cast("double")
                 / F.count(F.lit(1))) * 1e6 + F.lit(0.5)
            ) / 1e6
        ).alias("mean_sec"),
    )
    _, med = transforms.keyed_select_rank(
        lat, [], ["latency_sec", "user_id"], lambda n: (n + 1) // 2
    )
    return stats.crossJoin(
        F.broadcast(med.select(F.col("latency_sec").alias("p50_sec")))
    )  # single-row frames; policy-exempt


FUNNEL_LATENCY_SQL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS vts FROM events
  WHERE event_type = 'view' GROUP BY 1
),
lat AS (
  SELECT e.user_id,
         CAST(floor(epoch(MIN(e.ts))) - floor(epoch(MIN(fv.vts))) AS BIGINT)
           AS latency_sec
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fv.vts
  GROUP BY e.user_id
),
med AS (
  SELECT latency_sec AS p50_sec FROM (
    SELECT latency_sec,
           row_number() OVER (ORDER BY latency_sec, user_id) AS rn,
           COUNT(*) OVER () AS n
    FROM lat
  ) WHERE rn = (n + 1) // 2
)
SELECT COUNT(*) AS n_converted,
       floor(CAST(SUM(CAST(latency_sec AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_sec,
       (SELECT p50_sec FROM med) AS p50_sec
FROM lat
"""


# ---------------------------------------------------------------------------
# #162 sequential trigram mining: the most frequent length-3 event-type
# sequences per user stream — one step past the transition matrix
# (#115 counts bigrams; trigrams expose detours like
# view→error→purchase that bigrams conflate). Per-USER lead window
# (millions of small keys — the right regime), one global count, top-K
# via TakeOrdered (K-row heap merge, no global sort).

EVENT_TRIGRAMS_TOP_K = 20


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("_t2", F.lead("event_type", 1).over(w))
        .withColumn("_t3", F.lead("event_type", 2).over(w))
        .where(F.col("_t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "_t2", "_t3").alias("trigram")
        )
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(EVENT_TRIGRAMS_TOP_K)
    )


EVENT_TRIGRAMS_SQL = f"""
WITH s AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM events
)
SELECT t1 || '>' || t2 || '>' || t3 AS trigram, COUNT(*) AS n
FROM s WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, trigram
LIMIT {EVENT_TRIGRAMS_TOP_K}
"""


# ---------------------------------------------------------------------------
# #171 winsorized mean per event type: values clamped to the exact
# [p5, p95] order statistics before averaging — the robust location
# estimate between the raw mean (outlier-hostage) and the median
# (throws information away); pairs with MAD outliers (#117). The type
# key is FEW-HUGE, so ranks come from ONE keyed_rank_with_totals pass
# (range-partitioned per-key rank, ≤ P+K driver scalars); the p5/p95
# rows join back as a K-row broadcast and the clamped mean runs over
# the SAME ranked checkpoint — one range exchange total.

def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    # ORDER-STATISTIC SELECTION, not a full rank: only the p5/p95 rows
    # are needed, so keyed_select_rank windows just the ≤ 2K partitions
    # holding a target rank (the mad_outliers precedent) instead of
    # row_numbering the whole relation — same pinned checkpoint feeds
    # the clamped mean. Ranks ceil(0.05n)/ceil(0.95n) match the earlier
    # keyed_rank formulation exactly.
    pinned, sel = transforms.keyed_select_rank(
        ev,
        ["event_type"],
        ["value", "event_id"],
        lambda n: (math.ceil(n * 0.05), math.ceil(n * 0.95)),
    )
    bounds = sel.groupBy("event_type").agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    # every key has both bounds, so the inner join keeps every row and
    # the final aggregate's own count(1) is the per-key n
    clamped = (
        pinned.join(F.broadcast(bounds), "event_type")  # broadcast-policy-exempt: K rows
        .select(
            "event_type",
            F.greatest(
                F.col("_lo"), F.least(F.col("_hi"), F.col("value"))
            ).alias("_cv"),
        )
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum(F.col("_cv").cast(DEC)).cast("double")
                    / F.count(F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


WINSORIZED_MEAN_SQL = """
WITH e AS (
  SELECT event_type, value, event_id FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
bounds AS (
  SELECT event_type,
         MIN(value) AS lo, MAX(value) AS hi
  FROM ranked
  WHERE r = CAST(ceil(n * 0.05) AS BIGINT) OR r = CAST(ceil(n * 0.95) AS BIGINT)
  GROUP BY 1
)
SELECT r.event_type, r.n,
       floor(CAST(SUM(CAST(greatest(b.lo, least(b.hi, r.value))
                           AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) * 1e6 + 0.5) / 1e6 AS winsorized_mean
FROM ranked r JOIN bounds b ON r.event_type = b.event_type
GROUP BY r.event_type, r.n
ORDER BY r.event_type
"""


# ---------------------------------------------------------------------------
# #172 seasonal anomaly screen: per (event_type, hour-of-day) baseline
# mean/σ, events beyond μ+3σ counted per cell — the calendar-aware
# outlier view that a flat z-score (#88b) mis-fires on (a value normal
# at noon is anomalous at 4am). Baseline tier is BOUNDED (types × 24);
# moments ride decimals below 2⁵³ so the μ/σ doubles are bit-identical
# across engines, and the 3σ comparison happens on those exact doubles.

def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type", F.hour("ts").alias("hour"), "value"
        )
    )
    base = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("_sx"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).alias("_sxx"),
    )
    mu = F.col("_sx").cast("double") / F.col("n")
    var = F.col("_sxx").cast("double") / F.col("n") - mu * mu
    tier = base.select(
        "event_type",
        "hour",
        "n",
        mu.alias("_mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("_sd"),
    )
    flagged = (
        ev.join(F.broadcast(tier), ["event_type", "hour"])  # bounded tier
        .groupBy("event_type", "hour", "n")
        .agg(
            F.first("_mu").alias("_mu2"),
            F.first("_sd").alias("_sd2"),
            F.sum(
                F.when(
                    F.col("value") > F.col("_mu") + 3 * F.col("_sd"), 1
                ).otherwise(0)
            ).alias("n_anomalies"),
        )
    )
    return flagged.select(
        "event_type",
        "hour",
        "n",
        (F.floor(F.col("_mu2") * 1e6 + F.lit(0.5)) / 1e6).alias("mean_value"),
        (F.floor(F.col("_sd2") * 1e6 + F.lit(0.5)) / 1e6).alias("sd_value"),
        "n_anomalies",
    ).orderBy("event_type", "hour")


SEASONAL_ANOMALY_SQL = """
WITH e AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hour, value
  FROM events WHERE value IS NOT NULL
),
base AS (
  SELECT event_type, hour, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(greatest(
           CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)),
           0.0)) AS sd
  FROM e GROUP BY 1, 2
)
SELECT e.event_type, e.hour, b.n,
       floor(b.mu * 1e6 + 0.5) / 1e6 AS mean_value,
       floor(b.sd * 1e6 + 0.5) / 1e6 AS sd_value,
       CAST(SUM(CASE WHEN e.value > b.mu + 3 * b.sd THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM e JOIN base b ON e.event_type = b.event_type AND e.hour = b.hour
GROUP BY e.event_type, e.hour, b.n, b.mu, b.sd
ORDER BY e.event_type, e.hour
"""


# ---------------------------------------------------------------------------
# #173 per-user event-type entropy: Shannon entropy of each user's
# event-type mix — the "is this account a bot" diversity signal (a
# scraper fires one type; a human spreads mass). H = ln(n) − Σc·ln(c)/n
# over exact integer counts; each ln is round@9 → DECIMAL so the Σc·lp
# sum is term-order-independent (the bigram-logprob discipline), and
# the closed form runs the SAME IEEE op order in both engines before
# one floor-quantize@6. Two aggregates, user-keyed — no windows.

def user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    cell = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("_c")
    )
    term = cell.select(
        "user_id",
        "_c",
        (
            F.col("_c").cast("decimal(18,0)")
            * F.round(F.log(F.col("_c").cast("double")), 9).cast(
                "decimal(18,9)"
            )
        ).alias("_clnc"),
    )
    agg = term.groupBy("user_id").agg(
        F.sum("_c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("_clnc").alias("_s"),
    )
    h = F.round(F.log(F.col("n_events").cast("double")), 9) - F.col(
        "_s"
    ).cast("double") / F.col("n_events")
    return agg.select(
        "user_id",
        "n_events",
        "n_types",
        (F.floor(h * 1e6 + F.lit(0.5)) / 1e6).alias("entropy"),
    ).orderBy("user_id")


USER_ENTROPY_SQL = """
WITH cell AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
agg AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         COUNT(*) AS n_types,
         CAST(SUM(CAST(c AS DECIMAL(18,0))
                  * CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)))
              AS DOUBLE) AS s
  FROM cell GROUP BY 1
)
SELECT user_id, n_events, n_types,
       floor((round(ln(CAST(n_events AS DOUBLE)), 9) - s / n_events) * 1e6
             + 0.5) / 1e6 AS entropy
FROM agg
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# #174 new-vs-returning daily actives: classify each day's active
# users by whether it's their FIRST active day — the growth-accounting
# split every DAU chart needs (DAU #106 counts heads; this says which
# are acquisitions). One distinct, one user-keyed min-aggregate, one
# user-keyed join back — all AQE-sized, zero windows, zero floats.

def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    first_day = daily.groupBy("user_id").agg(F.min("day").alias("_fd"))
    return (
        daily.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("_fd") == F.col("day"), 1).otherwise(0)
            ).alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        )
        .orderBy("day")
    )


NEW_VS_RETURNING_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
fd AS (
  SELECT user_id, MIN(day) AS first_day FROM daily GROUP BY 1
)
SELECT day, COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       COUNT(*) - CAST(SUM(CASE WHEN first_day = day THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_returning
FROM daily JOIN fd USING (user_id)
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# #177 session entry→exit paths: top-20 (first event_type, last
# event_type) pairs across gap-sessionized user sessions — the "where
# do sessions start and end" navigation summary (session_conversion
# #100 looks only at entries). Sessionization is the #12 helper (one
# user-keyed shuffle); entry/exit are min/max over (ts, event_id,
# type) STRUCTS — lexicographic, event_id-unique, so ties can't pick
# different types per engine; the pair tier is event-type²-bounded so
# the final top-K is a TakeOrdered heap, never a global sort.

SESSION_PATHS_TOP_K = 20


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sessions = windows.session_window_batch(
        ev,
        "ts",
        SESSION_GAP,
        keys=["user_id"],
        aggs=[
            F.min(F.struct("ts", "event_id", "event_type")).alias("_first"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
        ],
        tiebreak=["event_id"],
    )
    return (
        sessions.select(
            F.col("_first.event_type").alias("entry_type"),
            F.col("_last.event_type").alias("exit_type"),
        )
        .groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "entry_type", "exit_type")
        .limit(SESSION_PATHS_TOP_K)
    )


SESSION_PATHS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), ranked AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, session_id) AS cnt
  FROM sessioned
), paths AS (
  SELECT user_id, session_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
         MAX(CASE WHEN rn = cnt THEN event_type END) AS exit_type
  FROM ranked GROUP BY 1, 2
)
SELECT entry_type, exit_type, COUNT(*) AS n_sessions
FROM paths
GROUP BY 1, 2
ORDER BY n_sessions DESC, entry_type, exit_type
LIMIT {SESSION_PATHS_TOP_K}
"""


# ---------------------------------------------------------------------------
# #183 burst-rate screen: each user's max events inside any sliding
# 60-second window — the rate-limit / bot-burst view that per-day
# outliers (#116) are too coarse for. A RANGE frame over whole-second
# event times per user (millions of small keys — the right window
# regime; frame peers make the count tie-proof), then one user-keyed
# max. Whole seconds via unix_timestamp ↔ floor(epoch()) (the
# portability rule).

BURST_WINDOW_SEC = 60


def user_burst_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("_sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-(BURST_WINDOW_SEC - 1), 0)
    )
    burst = ev.withColumn("_burst", F.count(F.lit(1)).over(w))
    return (
        burst.groupBy("user_id")
        .agg(
            F.max("_burst").alias("max_burst"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


USER_BURST_RATE_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
b AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN {BURST_WINDOW_SEC - 1} PRECEDING
                        AND CURRENT ROW) AS burst
  FROM e
)
SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst,
       COUNT(*) AS n_events
FROM b
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #186 behavioral archetype census: users grouped by the SET of event
# types they've ever fired (sorted, comma-joined) — the coarse
# behavioral segmentation behind "browsers vs buyers vs lurkers"
# dashboards. One user-keyed collect_set aggregate (bounded arrays —
# ≤ |event types| elements) + one bounded archetype rollup.

def behavior_archetypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "archetype"
        ),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        per_user.groupBy("archetype")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("_n").alias("n_events"),
        )
        .orderBy("archetype")
    )


BEHAVIOR_ARCHETYPES_SQL = """
WITH per_user AS (
  SELECT user_id,
         array_to_string(list_sort(list(DISTINCT event_type)), ',')
           AS archetype,
         COUNT(*) AS n
  FROM events GROUP BY user_id
)
SELECT archetype, COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS n_events
FROM per_user
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #194 retry-squash dedup stats: collapse repeats of the same
# (user, event_type) inside a 5-minute bucket to one logical event —
# the client-retry / double-fire hygiene pass every event pipeline
# runs before sessionization — and report suppression per type. Two
# hash aggregates (bucket math is pure map); whole-second bucketing by
# INTEGER division (unix_timestamp ↔ floor(epoch()) rule).

RETRY_BUCKET_SEC = 300


def event_retry_squash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(f"CAST(unix_timestamp(ts) div {RETRY_BUCKET_SEC} AS BIGINT)").alias(
            "_bucket"
        ),
    )
    kept = ev.groupBy("user_id", "event_type", "_bucket").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .select(
            "event_type",
            "n_events",
            "n_kept",
            (F.col("n_events") - F.col("n_kept")).alias("n_suppressed"),
            (
                F.floor(
                    (F.col("n_events") - F.col("n_kept")).cast("double")
                    / F.col("n_events")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("suppression_rate"),
        )
        .orderBy("event_type")
    )


EVENT_RETRY_SQUASH_SQL = f"""
WITH kept AS (
  SELECT event_type, COUNT(*) AS n
  FROM (
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // {RETRY_BUCKET_SEC} AS bucket
    FROM events
  )
  GROUP BY user_id, event_type, bucket
)
SELECT event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       COUNT(*) AS n_kept,
       CAST(SUM(n) AS BIGINT) - COUNT(*) AS n_suppressed,
       floor(CAST(CAST(SUM(n) AS BIGINT) - COUNT(*) AS DOUBLE)
             / CAST(SUM(n) AS BIGINT) * 1e6 + 0.5) / 1e6
         AS suppression_rate
FROM kept
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #199 mutual information (event_type × hour-of-day): how much knowing
# the hour tells you about the event mix, in nats — the effect-SIZE
# companion to the chi² independence test (#134, which only says
# "dependent"). Bounded contingency cells; each term is c·ln(c·N /
# (n_x·n_y)) with exact sub-2⁵³ integer products inside the ln and the
# ln round@9 → DECIMAL so the cell sum is order-independent.

def type_hour_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour")
    )
    cells = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("_c")
    )
    rx = cells.groupBy("event_type").agg(F.sum("_c").alias("_nx"))
    ry = cells.groupBy("hour").agg(F.sum("_c").alias("_ny"))
    tot = cells.agg(F.sum("_c").alias("_nn"))
    terms = (
        cells.join(F.broadcast(rx), "event_type")  # bounded marginals
        .join(F.broadcast(ry), "hour")
        .crossJoin(F.broadcast(tot))  # single-row scalar
        .select(
            (
                F.col("_c").cast("decimal(18,0)")
                * F.round(
                    F.log(
                        (F.col("_c") * F.col("_nn")).cast("double")
                        / (F.col("_nx") * F.col("_ny")).cast("double")
                    ),
                    9,
                ).cast("decimal(18,9)")
            ).alias("_t"),
            F.col("_nn"),
        )
    )
    return terms.groupBy("_nn").agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            F.floor(
                F.sum("_t").cast("double") / F.col("_nn") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("mi_nats"),
    ).select(
        F.col("_nn").alias("n_events"), "n_cells", "mi_nats"
    )


TYPE_HOUR_MI_SQL = """
WITH cells AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
rx AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS nx FROM cells GROUP BY 1),
ry AS (SELECT hour, CAST(SUM(c) AS BIGINT) AS ny FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells)
SELECT nn AS n_events, COUNT(*) AS n_cells,
       floor(CAST(SUM(CAST(c AS DECIMAL(18,0))
                      * CAST(round(ln(CAST(c * nn AS DOUBLE)
                                     / CAST(nx * ny AS DOUBLE)), 9)
                             AS DECIMAL(18,9))) AS DOUBLE)
             / nn * 1e6 + 0.5) / 1e6 AS mi_nats
FROM cells JOIN rx USING (event_type) JOIN ry USING (hour), tot
GROUP BY nn
"""


# ---------------------------------------------------------------------------
# #201 weekend effect size (Cohen's d): standardized difference of
# event values weekend vs weekday — the effect-SIZE report an A/B-style
# significance test (#91) doesn't give. ONE conditional aggregate over
# one scan: exact DECIMAL moments per group, sample variances, pooled
# sd, d — every double op in the SAME order both engines, quantized@6
# at the end only.

def weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    is_we = F.dayofweek(F.col("ts")).isin(1, 7)
    m = ev.agg(
        F.sum(F.when(is_we, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~is_we, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is_we, F.col("value").cast(DEC))).alias("_s1"),
        F.sum(F.when(~is_we, F.col("value").cast(DEC))).alias("_s2"),
        F.sum(
            F.when(is_we, (F.col("value") * F.col("value")).cast(DEC))
        ).alias("_q1"),
        F.sum(
            F.when(~is_we, (F.col("value") * F.col("value")).cast(DEC))
        ).alias("_q2"),
    )
    m1 = F.col("_s1").cast("double") / F.col("n1")
    m2 = F.col("_s2").cast("double") / F.col("n2")
    v1 = (F.col("_q1").cast("double") - F.col("_s1").cast("double") * m1) / (
        F.col("n1") - 1
    )
    v2 = (F.col("_q2").cast("double") - F.col("_s2").cast("double") * m2) / (
        F.col("n2") - 1
    )
    pooled = F.sqrt(
        ((F.col("n1") - 1) * v1 + (F.col("n2") - 1) * v2)
        / (F.col("n1") + F.col("n2") - 2)
    )
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    return m.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        q6(m1).alias("mean_weekend"),
        q6(m2).alias("mean_weekday"),
        q6((m1 - m2) / pooled).alias("cohens_d"),
    )


WEEKEND_EFFECT_SQL = """
WITH m AS (
  SELECT
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
         AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
         AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS s1,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
             THEN NULL ELSE CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
      AS s2,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
             THEN CAST(value * value AS DECIMAL(18,6)) END) AS DOUBLE)
      AS q1,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
             THEN NULL ELSE CAST(value * value AS DECIMAL(18,6)) END)
         AS DOUBLE) AS q2
  FROM events WHERE value IS NOT NULL
)
SELECT n_weekend, n_weekday,
       floor(m1 * 1e6 + 0.5) / 1e6 AS mean_weekend,
       floor(m2 * 1e6 + 0.5) / 1e6 AS mean_weekday,
       floor((m1 - m2) / sqrt(((n_weekend - 1) * v1 + (n_weekday - 1) * v2)
                              / (n_weekend + n_weekday - 2))
             * 1e6 + 0.5) / 1e6 AS cohens_d
FROM (
  SELECT n1 AS n_weekend, n2 AS n_weekday,
         s1 / n1 AS m1, s2 / n2 AS m2,
         (q1 - s1 * (s1 / n1)) / (n1 - 1) AS v1,
         (q2 - s2 * (s2 / n2)) / (n2 - 1) AS v2
  FROM m
)
"""


# ---------------------------------------------------------------------------
# #205 hour-of-day seasonality strength (η²): share of event-value
# variance explained by the hour-of-day — the ANOVA effect size that
# says whether the hourly profile (#119) MATTERS. One aggregate to a
# 24-row tier; SSB/SST from exact DECIMAL moments, per-hour terms
# quantize@6 → DECIMAL so the 24-term sum is order-independent.

def hourly_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cells = ev.groupBy(F.hour("ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast(DEC)).alias("_s"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).alias("_q"),
    )
    term = (
        F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_n")
    )
    agg = cells.agg(
        F.sum("_n").alias("n"),
        F.sum("_s").alias("_ss"),
        F.sum("_q").alias("_qq"),
        F.sum(
            F.floor(term * 1e6 + F.lit(0.5)).cast("long")
        ).alias("_b6"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    grand = F.col("_ss").cast("double") * F.col("_ss").cast("double") / F.col(
        "n"
    )
    sst = F.col("_qq").cast("double") - grand
    ssb = F.col("_b6").cast("double") / 1e6 - grand
    return agg.select(
        F.col("n").alias("n_events"),
        "n_hours",
        (F.floor(ssb / sst * 1e6 + F.lit(0.5)) / 1e6).alias("eta_squared"),
    )


HOURLY_VARIANCE_EXPLAINED_SQL = """
WITH cells AS (
  SELECT CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s,
         SUM(CAST(value * value AS DECIMAL(18,6))) AS q
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS DOUBLE) AS ss,
         CAST(SUM(q) AS DOUBLE) AS qq,
         CAST(SUM(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n * 1e6
                             + 0.5) AS BIGINT)) AS BIGINT) AS b6,
         COUNT(*) AS n_hours
  FROM cells
)
SELECT n AS n_events, n_hours,
       floor((CAST(b6 AS DOUBLE) / 1e6 - ss * ss / n)
             / (qq - ss * ss / n) * 1e6 + 0.5) / 1e6 AS eta_squared
FROM agg
"""


# ---------------------------------------------------------------------------
# #206 arrival dispersion (Fano factor) per event type: variance/mean
# of per-minute arrival counts over OBSERVED minutes — ≈1 is Poisson
# (organic traffic), ≫1 is bursty (bots, batch replays); the
# per-TYPE arrival-process view the per-user burst screen (#183)
# doesn't give. Two hash aggregates; all moments on exact integer
# counts, one IEEE op order for the ratio.

def arrival_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) div 60 AS BIGINT)").alias("_min"),
    )
    counts = ev.groupBy("event_type", "_min").agg(
        F.count(F.lit(1)).alias("_c")
    )
    m = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.sum("_c").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).alias("_q"),
    )
    mean = F.col("_s").cast("double") / F.col("n_minutes")
    var = F.col("_q").cast("double") / F.col("n_minutes") - mean * mean
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    return m.select(
        "event_type",
        "n_minutes",
        F.col("_s").alias("n_events"),
        q6(mean).alias("mean_per_min"),
        q6(var / mean).alias("fano_factor"),
    ).orderBy("event_type")


ARRIVAL_DISPERSION_SQL = """
WITH counts AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, COUNT(*) AS n_minutes,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM counts GROUP BY 1
)
SELECT event_type, n_minutes, s AS n_events,
       floor(CAST(s AS DOUBLE) / n_minutes * 1e6 + 0.5) / 1e6
         AS mean_per_min,
       floor((CAST(q AS DOUBLE) / n_minutes
              - (CAST(s AS DOUBLE) / n_minutes)
                * (CAST(s AS DOUBLE) / n_minutes))
             / (CAST(s AS DOUBLE) / n_minutes) * 1e6 + 0.5) / 1e6
         AS fano_factor
FROM m
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #207 JSON field coverage audit: per event type, how often props
# parses and props.k is present/in-range — the semi-structured
# data-quality check (dq_report #90 audits typed columns; this audits
# the JSON payload the reference's stage-1 parser consumed). Map-only
# JSON extraction + one bounded aggregate; all counts exact integers.

def props_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("_k"),
        F.col("props").isNotNull().alias("_hasp"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("_hasp"), 1).otherwise(0)).alias("n_props"),
            F.sum(F.when(F.col("_k").isNotNull(), 1).otherwise(0)).alias(
                "n_k_parsed"
            ),
            F.sum(
                F.when(
                    F.col("_k").isNotNull()
                    & (F.col("_k") >= 0)
                    & (F.col("_k") < 100),
                    1,
                ).otherwise(0)
            ).alias("n_k_in_range"),
            F.min("_k").alias("k_min"),
            F.max("_k").alias("k_max"),
        )
        .orderBy("event_type")
    )


PROPS_COVERAGE_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
         props IS NOT NULL AS hasp
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN hasp THEN 1 ELSE 0 END) AS BIGINT) AS n_props,
       CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_k_parsed,
       CAST(SUM(CASE WHEN k IS NOT NULL AND k >= 0 AND k < 100
                THEN 1 ELSE 0 END) AS BIGINT) AS n_k_in_range,
       CAST(MIN(k) AS INTEGER) AS k_min,
       CAST(MAX(k) AS INTEGER) AS k_max
FROM e
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# #228 burstiness index per event type (Goh & Barabási, EPL 2008):
# B = (σ−μ)/(σ+μ) over per-user inter-event gaps — the scale-free
# companion to #206's Fano factor (B→−1 periodic, 0 Poisson, →1
# heavy-tailed bursts). Gaps come from the SAME per-user lag walk as
# #152 (partitioned by (user, type) — many keys, never a per-type
# funnel); gap seconds are exact longs, both moments ride decimal, so
# σ and μ are engine-identical before the single closed form.


def burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("_prev")).alias(
                "gap_sec"
            ),
        )
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_sec").cast("decimal(38,0)")).alias("_s1"),
        F.sum(
            (F.col("gap_sec") * F.col("gap_sec")).cast("decimal(38,0)")
        ).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("_s1").cast("double") / n
    var = F.col("_s2").cast("double") / n - mu * mu
    sigma = F.sqrt(var)
    # Degenerate type (every gap exactly 0, e.g. duplicate timestamps):
    # (σ−μ)/(σ+μ) is 0/0 — Spark's floor(NaN)→0 vs DuckDB's NaN would
    # diverge. Guard on the EXACT integer moment (gaps ≥ 0, so s1 = 0
    # iff all gaps are 0 iff σ+μ = 0) identically in both engines;
    # define the degenerate burstiness as 0.0 (length_fit's rule).
    b = F.when(F.col("_s1") == 0, F.lit(0.0)).otherwise(
        (sigma - mu) / (sigma + mu)
    )
    return m.select(
        "event_type",
        "n_gaps",
        (F.floor(mu * 1e6 + F.lit(0.5)) / 1e6).alias("mean_gap_sec"),
        (F.floor(sigma * 1e6 + F.lit(0.5)) / 1e6).alias("std_gap_sec"),
        (F.floor(b * 1e6 + F.lit(0.5)) / 1e6).alias("burstiness"),
    ).orderBy("event_type")


BURSTINESS_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id)))
           AS BIGINT) AS gap_sec
  FROM events
),
g2 AS (SELECT event_type, gap_sec FROM g WHERE gap_sec IS NOT NULL),
m AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         SUM(gap_sec) AS s1, SUM(gap_sec * gap_sec) AS s2
  FROM g2 GROUP BY 1
)
SELECT event_type, n_gaps,
       floor(CAST(s1 AS DOUBLE) / n_gaps * 1e6 + 0.5) / 1e6 AS mean_gap_sec,
       floor(sqrt(CAST(s2 AS DOUBLE) / n_gaps
                  - (CAST(s1 AS DOUBLE) / n_gaps)
                    * (CAST(s1 AS DOUBLE) / n_gaps)) * 1e6 + 0.5) / 1e6
         AS std_gap_sec,
       floor(CASE WHEN s1 = 0 THEN 0.0 ELSE
             (sqrt(CAST(s2 AS DOUBLE) / n_gaps
                   - (CAST(s1 AS DOUBLE) / n_gaps)
                     * (CAST(s1 AS DOUBLE) / n_gaps))
              - CAST(s1 AS DOUBLE) / n_gaps)
             / (sqrt(CAST(s2 AS DOUBLE) / n_gaps
                     - (CAST(s1 AS DOUBLE) / n_gaps)
                       * (CAST(s1 AS DOUBLE) / n_gaps))
                + CAST(s1 AS DOUBLE) / n_gaps) END * 1e6 + 0.5) / 1e6
         AS burstiness
FROM m
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# #229 weekly trend/seasonal decomposition of the daily event count:
# classic moving-average decomposition (trend = centered 7-day mean,
# seasonal = per-weekday mean of the detrended series, residual = the
# rest) — the additive STL-lite every ops dashboard runs. The daily
# tier is calendar-bounded (≤ years×365 rows at ANY corpus scale), so
# the unpartitioned ordered window over it is a bounded frame, same
# proof as q_spearman_daily. Weekday comes from epoch-day arithmetic
# ((days since 1970-01-01 + 4) mod 7, 0=Sunday) — engine-identical by
# construction, no locale-dependent dayofweek.


def weekly_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dw = Window.orderBy("d").rowsBetween(-3, 3)  # calendar-bounded tier
    trended = daily.select(
        "d",
        "cnt",
        F.avg(F.col("cnt")).over(dw).alias("trend"),
        (
            (
                F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
                + F.lit(4)
            )
            % 7
        ).alias("weekday"),
    ).withColumn("detrended", F.col("cnt").cast("double") - F.col("trend"))
    seasonal = trended.groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.avg("detrended").alias("_seas"),
    )
    resid = trended.join(seasonal.select("weekday", "_seas"), "weekday").select(
        "weekday",
        F.abs(F.col("detrended") - F.col("_seas")).alias("_ar"),
    )
    mar = resid.groupBy("weekday").agg(F.avg("_ar").alias("_mar"))
    return (
        seasonal.join(mar, "weekday")
        .select(
            "weekday",
            "n_days",
            (F.floor(F.col("_seas") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "seasonal_offset"
            ),
            (F.floor(F.col("_mar") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "mean_abs_residual"
            ),
        )
        .orderBy("weekday")
    )


WEEKLY_DECOMPOSITION_SQL = """
WITH daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt FROM events GROUP BY 1
),
trended AS MATERIALIZED (
  SELECT d, cnt,
         AVG(cnt) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend,
         CAST((date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS BIGINT)
           AS weekday,
         CAST(cnt AS DOUBLE)
           - AVG(cnt) OVER (ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS detrended
  FROM daily
),
seasonal AS (
  SELECT weekday, COUNT(*) AS n_days, AVG(detrended) AS seas
  FROM trended GROUP BY 1
),
mar AS (
  SELECT t.weekday, AVG(abs(t.detrended - s.seas)) AS mar
  FROM trended t JOIN seasonal s ON t.weekday = s.weekday
  GROUP BY 1
)
SELECT s.weekday, s.n_days,
       floor(s.seas * 1e6 + 0.5) / 1e6 AS seasonal_offset,
       floor(m.mar * 1e6 + 0.5) / 1e6 AS mean_abs_residual
FROM seasonal s JOIN mar m ON s.weekday = m.weekday
ORDER BY s.weekday
"""
