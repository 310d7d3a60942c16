"""Event-table catalog entries: windowed aggregation, JSON fields,
sessionization, windowed top-k, as-of and range joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import _r4


def q_events_window(spark, sf_dir):
    """Streaming-style tumbling 1h window aggregation (batch equivalent of
    the structured-streaming path)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            _r4(F.sum("value")).alias("total"),
        )
    )


SQL_EVENTS_WINDOW = """SELECT time_bucket(INTERVAL '1 hour', ts) AS win, event_type,
count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2"""


def q_events_topk_window(spark, sf_dir):
    """Windowed top-k by group: per tumbling 1h window, the top-3 event
    types by total value — the trending-terms / leaderboard shape.  The
    rank window is PARTITIONED BY the time bucket (bounded groups: each
    task ranks one hour's handful of event types), never a global sort;
    at 10^12 events the same plan holds because cardinality after the
    first aggregation is n_windows × n_types, not n_events."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("win"),
        "event_type",
    ).agg(_r4(F.sum("value")).alias("total"))
    rk = F.row_number().over(
        Window.partitionBy("win").orderBy(F.col("total").desc(), "event_type")
    )
    return (
        agg.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("win", "event_type", "total", "rk")
    )


SQL_EVENTS_TOPK_WINDOW = """WITH agg AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS win, event_type,
         round(sum(value), 4) AS total
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT win, event_type, total,
         row_number() OVER (PARTITION BY win
                            ORDER BY total DESC, event_type) AS rk
  FROM agg
)
SELECT win, event_type, total, rk FROM ranked WHERE rk <= 3"""


def q_events_json(spark, sf_dir):
    """Scalar-function surface: JSON extraction + arithmetic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_sum"),
        F.count("*").cast("long").alias("n"),
    )


SQL_EVENTS_JSON = """SELECT event_type,
CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
count(*) AS n FROM events GROUP BY event_type"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min) of the events table — the batch
    twin of the stateful streaming operator (streaming/sessionize.py)."""
    from search_engine_spark.streaming.sessionize import batch_sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = batch_sessionize(ev, gap_minutes=30)
    return s.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        _r4("total").alias("total"),
    )


SQL_SESSIONIZE = """WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END
           AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sid AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS total
FROM sid GROUP BY user_id, session_id"""


# ---------------------------------------------------------------------------
# As-of join: most recent prior event, via the union+window merge shape
# ---------------------------------------------------------------------------


def q_asof_join(spark, sf_dir):
    """As-of join (the time-series point-in-time lookup Spark lacks as a
    built-in): for every 'purchase' event, the most recent other event by
    the same user at or before the purchase timestamp.

    Implemented as the UNION + WINDOW merge: tag both streams, union
    them, sort within each user_id partition by (ts, side) — right rows
    before left at equal ts, giving inclusive >= semantics — and carry
    the last right-row payload forward with last(..., ignorenulls).
    This is ONE shuffle keyed by user_id (both streams co-partitioned)
    and a linear merge pass per partition — the plan a native ASOF JOIN
    operator would produce — versus the naive inequality-join + argmax,
    which explodes to O(|left| x |right per key|) pairs before pruning.
    The DuckDB oracle uses its built-in ASOF LEFT JOIN; determinism
    requires no duplicate (user_id, ts) pairs, which holds for the
    event tables (asserted in tests).  Gap is returned in exact integer
    microseconds so no float enters the compare.
    """
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    right = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_left"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
        F.lit(None).cast("long").alias("l_event_id"),
    )
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_left"),
        F.lit(None).cast("long").alias("r_event_id"),
        F.lit(None).cast("string").alias("r_type"),
        F.col("event_id").alias("l_event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_left", F.coalesce("r_event_id", "l_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.last(
        F.when(
            F.col("is_left") == 0,
            F.struct("r_event_id", "r_type", F.col("ts").alias("r_ts")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        right.unionByName(left)
        .withColumn("prev", prev)
        .where(F.col("is_left") == 1)
        .select(
            F.col("l_event_id").alias("event_id"),
            "user_id",
            # no-prior-event rows use -1/'' sentinels instead of NULL so
            # the driver's value-hash compare never has to agree on NULL
            # encoding across engines
            F.coalesce(F.col("prev.r_event_id"), F.lit(-1)).alias(
                "prev_event_id"
            ),
            F.coalesce(F.col("prev.r_type"), F.lit("")).alias("prev_type"),
            F.coalesce(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev.r_ts").cast("timestamp")),
                F.lit(-1),
            ).alias("gap_us"),
        )
    )


SQL_ASOF_JOIN = """WITH p AS (
  SELECT * FROM events WHERE event_type = 'purchase'
), o AS (
  SELECT * FROM events WHERE event_type <> 'purchase'
)
SELECT p.event_id, p.user_id,
       coalesce(o.event_id, -1) AS prev_event_id,
       coalesce(o.event_type, '') AS prev_type,
       coalesce(epoch_us(p.ts) - epoch_us(o.ts), -1) AS gap_us
FROM p ASOF LEFT JOIN o
  ON p.user_id = o.user_id AND p.ts >= o.ts
ORDER BY p.event_id"""


# ---------------------------------------------------------------------------
# Range (interval) join: events into irregular time windows
# ---------------------------------------------------------------------------

_RJ_N = 50           # synthetic irregular intervals
_RJ_BUCKET_US = 3_600_000_000  # 1h coarse buckets for the equi-join key


def _rj_intervals(spark):
    """_RJ_N deterministic, irregular, non-aligned intervals: start =
    2024-01-01 + 7h*i + (i*i mod 11) min, length = 90 + (13*i mod 45)
    min.  Irregular on purpose — date_trunc bucketing cannot express
    membership, so a genuine range join is required."""
    return spark.range(_RJ_N).select(
        F.col("id").alias("interval_id"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0,"
            " 7 * id, (id * id) % 11, 0)"
        ).alias("s"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00' + make_dt_interval(0,"
            " 7 * id, (id * id) % 11 + 90 + (13 * id) % 45, 0)"
        ).alias("e"),
    )


def q_range_join(spark, sf_dir):
    """Range join (interval containment) — the second classic operator
    Spark lacks natively: count + sum events falling inside each of
    _RJ_N irregular time intervals.

    Scale shape: the raw predicate s <= ts < e is a nested-loop join.
    Bucket expansion fixes it — each interval explodes into the 1-hour
    buckets it overlaps (bounded: <=135 min span -> <=3 rows), events
    map to exactly one bucket, and the join becomes an EQUI-join on the
    bucket key refined by the exact range predicate.  At 10^12 events x
    millions of intervals this is the standard shuffle-hash range join
    (the small interval side additionally broadcasts here).  The bucket
    granularity only affects pruning inside Spark, never the result, so
    the DuckDB oracle is the plain inequality join (its optimizer runs
    an IEJoin).
    """
    def _us(c):
        # events ts is TIMESTAMP_NTZ; the bucket mapping only needs to be
        # internally consistent, so the NTZ->LTZ cast is fine here
        return F.unix_micros(F.col(c).cast("timestamp"))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts",
        "value",
        F.floor(_us("ts") / _RJ_BUCKET_US).alias("b"),
    )
    iv = _rj_intervals(spark).withColumn(
        "b",
        F.explode(
            F.sequence(
                F.floor(_us("s") / _RJ_BUCKET_US),
                F.floor(_us("e") / _RJ_BUCKET_US),
            )
        ),
    )
    return (
        ev.join(
            F.broadcast(iv),
            (ev["b"] == iv["b"])
            & (ev["ts"] >= iv["s"])
            & (ev["ts"] < iv["e"]),
        )
        .groupBy("interval_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_RANGE_JOIN = f"""WITH iv AS (
  SELECT i AS interval_id,
         TIMESTAMP '2024-01-01' + INTERVAL (7 * i) HOUR
           + INTERVAL ((i * i) % 11) MINUTE AS s,
         TIMESTAMP '2024-01-01' + INTERVAL (7 * i) HOUR
           + INTERVAL ((i * i) % 11 + 90 + (13 * i) % 45) MINUTE AS e
  FROM range({_RJ_N}) t(i)
)
SELECT iv.interval_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(ev.value), 4) AS sum_value
FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
GROUP BY iv.interval_id
ORDER BY iv.interval_id"""
