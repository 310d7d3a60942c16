"""Event-table catalog entries: windowed aggregation, JSON fields,
sessionization, windowed top-k, as-of and range joins, latency quantiles,
click models (CTR, COEC, IPS, empirical-Bayes shrinkage, jackknife error),
funnels, transitions, spikes, burstiness, click entropy, traffic Gini,
weekday seasonality, survival curves, sequential tests and Adamic-Adar
item links.
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


_QUANTILES = (0.5, 0.95, 0.99)


def q_latency_quantiles(spark, sf_dir):
    """Exact interpolated quantiles (p50/p95/p99) of event value per event
    type — the per-partition metrics-table surface the north rule asks
    for, computed with the engines' EXACT percentile (linear
    interpolation, identical definition in Spark and DuckDB), not a
    sketch: the sketch twins (hll_distinct, cms_heavy_hitters) cover the
    approximate path.

    Scale shape: exact percentile needs the group's values together —
    one hash shuffle on event_type; groups are event types (bounded
    cardinality), values stream through the aggregator.  For unbounded
    group counts the approx_percentile sketch is the drop-in.
    """
    ps = ", ".join(str(p) for p in _QUANTILES)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({ps}))").alias("qs")
    )
    return q.select(
        "event_type",
        _r4(F.col("qs")[0]).alias("p50"),
        _r4(F.col("qs")[1]).alias("p95"),
        _r4(F.col("qs")[2]).alias("p99"),
    )


SQL_LATENCY_QUANTILES = """SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type"""


# ---------------------------------------------------------------------------
# item co-occurrence similarity (collaborative filtering over event logs)
# ---------------------------------------------------------------------------

_COOC_CAP = 64   # per-user item-history cap (most-viewed first)


# ---------------------------------------------------------------------------
# smoothed click-through-rate model (ranking signal from the event log)
# ---------------------------------------------------------------------------

_CTR_A = 2.0    # Beta prior pseudo-clicks
_CTR_B = 10.0   # Beta prior pseudo-views


def q_ctr_model(spark, sf_dir):
    """Click model: per item (the `k` prop), impressions ('view' events),
    clicks ('click' events), and the Beta-smoothed CTR
    (clicks + α) / (views + α + β) — the posterior-mean shrinkage that
    keeps low-traffic items from dominating a ranking signal on noise.
    All items, ordered by smoothed CTR.

    Scale shape: two filtered scans aggregate map-side to one row per
    (item, type) before the join; the output is |items| rows.  At
    10^12 events the per-item partial counts are the only shuffle —
    this is the textbook pre-aggregate-then-join shape.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("views"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("clicks"))
    )
    return (
        views.join(clicks, "item", "left")
        .select(
            "item",
            "views",
            F.coalesce(F.col("clicks"), F.lit(0)).cast("long").alias("clicks"),
            _r4(
                (F.coalesce(F.col("clicks"), F.lit(0)) + F.lit(_CTR_A))
                / (F.col("views") + F.lit(_CTR_A) + F.lit(_CTR_B))
            ).alias("ctr"),
        )
        .orderBy(F.col("ctr").desc(), F.col("item").asc())
    )


SQL_CTR_MODEL = f"""WITH ev AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
),
views AS (SELECT item, count(*) AS views FROM ev
          WHERE event_type = 'view' GROUP BY item),
clicks AS (SELECT item, count(*) AS clicks FROM ev
           WHERE event_type = 'click' GROUP BY item)
SELECT v.item, CAST(v.views AS BIGINT) AS views,
       CAST(coalesce(c.clicks, 0) AS BIGINT) AS clicks,
       round((coalesce(c.clicks, 0) + {_CTR_A})
             / (v.views + {_CTR_A} + {_CTR_B}), 4) AS ctr
FROM views v LEFT JOIN clicks c ON v.item = c.item
ORDER BY ctr DESC, v.item ASC"""


# ---------------------------------------------------------------------------
# ordered conversion funnel over the event log
# ---------------------------------------------------------------------------

_FUNNEL = ["view", "click", "purchase"]


def q_event_funnel(spark, sf_dir):
    """Strict ordered funnel (the product-analytics primitive): per user,
    step i counts only if its FIRST occurrence happens strictly after
    step i-1's first occurrence.  Reports per-step user counts and the
    conversion rate from the previous step.

    Scale shape: one filtered scan aggregates to min-ts per (user, step)
    map-side (3 rows per user max); the step ordering is a per-user
    width-3 pivot — no self-join, no window over raw events.  At 10^12
    events the only shuffle is the per-user 3-row aggregate.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type").isin(_FUNNEL)
    )
    firsts = (
        ev.groupBy("user_id")
        .pivot("event_type", _FUNNEL)
        .agg(F.min("ts"))
    )
    s1 = F.col("view").isNotNull()
    s2 = s1 & F.col("click").isNotNull() & (F.col("click") > F.col("view"))
    s3 = s2 & F.col("purchase").isNotNull() & (
        F.col("purchase") > F.col("click")
    )
    agg = firsts.agg(
        F.sum(s1.cast("long")).alias("n1"),
        F.sum(s2.cast("long")).alias("n2"),
        F.sum(s3.cast("long")).alias("n3"),
    )
    steps = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"), F.lit("view").alias("name"),
                    F.col("n1").alias("users"),
                    F.col("n1").cast("double").alias("_prev"),
                    F.col("n1").cast("double").alias("_cur0"),
                ),
                F.struct(
                    F.lit(2).alias("step"), F.lit("click").alias("name"),
                    F.col("n2").alias("users"),
                    F.col("n1").cast("double").alias("_prev"),
                    F.col("n2").cast("double").alias("_cur0"),
                ),
                F.struct(
                    F.lit(3).alias("step"), F.lit("purchase").alias("name"),
                    F.col("n3").alias("users"),
                    F.col("n2").cast("double").alias("_prev"),
                    F.col("n3").cast("double").alias("_cur0"),
                ),
            )
        ).alias("s")
    )
    return steps.select(
        F.col("s.step").alias("step"),
        F.col("s.name").alias("name"),
        F.col("s.users").cast("long").alias("users"),
        _r4(
            F.col("s._cur0") / F.greatest(F.col("s._prev"), F.lit(1.0))
        ).alias("conv"),
    ).orderBy("step")


SQL_EVENT_FUNNEL = """WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS v,
         min(CASE WHEN event_type = 'click' THEN ts END) AS c,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
),
agg AS (
  SELECT sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                  THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                   AND p IS NOT NULL AND p > c THEN 1 ELSE 0 END) AS n3
  FROM firsts
)
SELECT 1 AS step, 'view' AS name, CAST(n1 AS BIGINT) AS users,
       round(n1 / greatest(n1 * 1.0, 1.0), 4) AS conv FROM agg
UNION ALL
SELECT 2, 'click', CAST(n2 AS BIGINT),
       round(n2 / greatest(n1 * 1.0, 1.0), 4) FROM agg
UNION ALL
SELECT 3, 'purchase', CAST(n3 AS BIGINT),
       round(n3 / greatest(n2 * 1.0, 1.0), 4) FROM agg
ORDER BY step"""


# ---------------------------------------------------------------------------
# traffic-spike detection over the event stream (z-score vs trailing window)
# ---------------------------------------------------------------------------

def q_spike_detect(spark, sf_dir):
    """Burst detection: per event type, flag the hours whose count most
    exceeds the trailing 24h mean, scored as a z-score against the
    trailing standard deviation (the monitoring primitive behind
    trending-query and abuse alarms).  The stddev floor of 0.5 keeps z
    bounded on near-constant series (counts are integers, so sd < 0.5
    means the history is essentially flat).  Top-20 by z with full
    deterministic tie-break.

    Scale shape: raw events aggregate map-side to |types| x |hours| rows
    FIRST; the trailing-stats windows and the top-20 run over that
    bounded pre-aggregate only (the final cut is TakeOrderedAndProject,
    not a global sort).  At 10^12 events the one shuffle is the
    hour-bucket aggregate.
    """
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("win"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("win").rowsBetween(-24, -1)
    scored = (
        agg.withColumn("mu", F.avg("n").over(w))
        .withColumn("sd", F.stddev_samp("n").over(w))
        .withColumn("n_hist", F.count("n").over(w))
        .filter(F.col("n_hist") >= 12)
        .withColumn(
            "z",
            _r4(
                (F.col("n") - F.col("mu"))
                / F.greatest(F.col("sd"), F.lit(0.5))
            ),
        )
    )
    return (
        scored.select("event_type", "win", "n", "z")
        .orderBy(F.col("z").desc(), "event_type", "win")
        .limit(20)
    )


SQL_SPIKE_DETECT = """WITH agg AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS win, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, win, n,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sd,
         count(n) OVER w AS n_hist
  FROM agg
  WINDOW w AS (PARTITION BY event_type ORDER BY win
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, win, n,
       round((n - mu) / greatest(sd, 0.5), 4) AS z
FROM scored WHERE n_hist >= 12
ORDER BY z DESC, event_type, win
LIMIT 20"""


# ---------------------------------------------------------------------------
# COEC position-normalized click model
# ---------------------------------------------------------------------------

# The synthetic event log carries no SERP rank, so the presentation
# position is DERIVED deterministically from the event id (pmod 10 + 1 —
# ten result slots).  Both the Spark plan and the DuckDB oracle compute
# the same derivation, so the model's arithmetic is fully exercised even
# though the position itself is synthetic.
_COEC_SLOTS = 10


def q_coec_model(spark, sf_dir):
    """COEC click model (clicks over expected clicks — the standard
    position-bias correction for ranking feedback): a global
    position-CTR prior ctr[p] = clicks_at_p / views_at_p, then per item
    expected = sum of ctr[p] over the item's view impressions and
    coec = clicks / expected.  COEC > 1 means the item out-performs an
    average item shown at the same positions — the de-biased relevance
    signal CTR alone can't give.  All items with positive expectation,
    ordered by COEC.

    Scale shape: the prior is a ≤10-row aggregate (one map-side pass
    over the filtered log) joined back by BROADCAST; the per-item
    expectation and click counts are map-side-combinable aggregates
    keyed on item — the only real shuffle.  At 10^12 events nothing
    here exceeds per-item cardinality.
    """
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
            (F.pmod(F.col("event_id"), F.lit(_COEC_SLOTS)) + 1)
            .cast("long").alias("pos"),
        )
        .filter(F.col("item").isNotNull())
    )
    prior = (
        ev.groupBy("pos")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .alias("c"),
        )
        .filter(F.col("v") > 0)
        .select("pos", (F.col("c") / F.col("v")).alias("pctr"))
    )
    expected = (
        ev.filter(F.col("event_type") == "view")
        .join(F.broadcast(prior), "pos")
        .groupBy("item")
        .agg(F.sum("pctr").alias("expected"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("clicks"))
    )
    return (
        expected.join(clicks, "item", "left")
        .filter(F.col("expected") > 0)
        .select(
            "item",
            F.coalesce(F.col("clicks"), F.lit(0)).cast("long").alias("clicks"),
            _r4("expected").alias("expected"),
            _r4(
                F.coalesce(F.col("clicks"), F.lit(0)) / F.col("expected")
            ).alias("coec"),
        )
        .orderBy(F.col("coec").desc(), F.col("item").asc())
    )


SQL_COEC_MODEL = f"""WITH ev AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         CAST(event_id % {_COEC_SLOTS} + 1 AS BIGINT) AS pos
  FROM events WHERE event_type IN ('view', 'click')
),
ev2 AS (SELECT * FROM ev WHERE item IS NOT NULL),
prior AS (
  SELECT pos,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           / CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS pctr
  FROM ev2 GROUP BY pos
  HAVING sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
),
expected AS (
  SELECT e.item, sum(p.pctr) AS expected
  FROM ev2 e JOIN prior p ON e.pos = p.pos
  WHERE e.event_type = 'view' GROUP BY e.item
),
clicks AS (SELECT item, count(*) AS clicks FROM ev2
           WHERE event_type = 'click' GROUP BY item)
SELECT x.item, CAST(coalesce(c.clicks, 0) AS BIGINT) AS clicks,
       round(x.expected, 4) AS expected,
       round(coalesce(c.clicks, 0) / x.expected, 4) AS coec
FROM expected x LEFT JOIN clicks c ON x.item = c.item
WHERE x.expected > 0
ORDER BY coec DESC, x.item ASC"""


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the user–item view graph
# ---------------------------------------------------------------------------


def q_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction (Adamic & Adar 2003): for item pairs
    sharing viewers, AA(i,j) = Σ_u 1/ln(deg(u)) over common users u —
    a shared low-degree user is strong evidence the items are related,
    a shared power-user is weak evidence.  Top-20 predicted links by AA
    score, pair-id tiebreak; `common` = number of shared users.

    Scale shape: identical hot-key bound to cooccur_items — each user's
    history is capped at _COOC_CAP items (row_number by view count
    desc, item asc) BEFORE the self-join, so a user contributes at most
    C(cap, 2) pairs; degrees are computed over the same capped universe
    (internally consistent weights) and attached to the LEFT side of
    the self-join on user_id, reusing the same hash exchange the
    self-join needs — no extra shuffle, no unbounded broadcast.
    """
    from pyspark.sql import Window

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
    )
    per = ev.groupBy("user_id", "item").agg(F.count("*").alias("v"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("v").desc(), F.col("item").asc()
    )
    capped = (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _COOC_CAP)
        .select("user_id", "item")
    )
    deg = capped.groupBy("user_id").agg(F.count("*").alias("deg"))
    weighted = (
        capped.join(deg.filter(F.col("deg") >= 2), "user_id")
        .withColumn("w", F.lit(1.0) / F.log(F.col("deg")))
    )
    return (
        weighted.alias("a")
        .join(capped.alias("b"), "user_id")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(
            F.count("*").cast("long").alias("common"),
            _r4(F.sum("w")).alias("aa"),
        )
        .orderBy(
            F.col("aa").desc(), F.col("item_a").asc(), F.col("item_b").asc()
        )
        .limit(20)
    )


SQL_ADAMIC_ADAR = f"""WITH ev AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'view'
    AND json_extract_string(props, '$.k') IS NOT NULL
),
per AS (SELECT user_id, item, count(*) AS v FROM ev GROUP BY user_id, item),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY v DESC, item ASC) AS rn
    FROM per) WHERE rn <= {_COOC_CAP}
),
deg AS (SELECT user_id, count(*) AS deg FROM capped GROUP BY user_id),
weighted AS (
  SELECT c.user_id, c.item, 1.0 / ln(d.deg) AS w
  FROM capped c JOIN deg d ON c.user_id = d.user_id AND d.deg >= 2
)
SELECT a.item AS item_a, b.item AS item_b,
       CAST(count(*) AS BIGINT) AS common, round(sum(a.w), 4) AS aa
FROM weighted a JOIN capped b
  ON a.user_id = b.user_id AND a.item < b.item
GROUP BY a.item, b.item
ORDER BY aa DESC, item_a ASC, item_b ASC LIMIT 20"""


# ---------------------------------------------------------------------------
# query-log mining: co-click similarity, static cache admission, abandonment
# ---------------------------------------------------------------------------

_COCLICK_Q = 20      # deterministic pseudo-query id: user_id % 20


# ---------------------------------------------------------------------------
# IPS counterfactual CTR estimation (Joachims, Swaminathan & Schnabel 2017)
# ---------------------------------------------------------------------------


def q_ips_ctr_estimate(spark, sf_dir):
    """Inverse-propensity-scored relevance estimation (Joachims,
    Swaminathan & Schnabel, "Unbiased learning-to-rank with biased
    feedback", WSDM 2017): clicks are weighted by 1/propensity(pos),
    with the examination propensity prop(p) = pctr(p)/pctr(1) read off
    the same position-CTR prior coec_model fits — the SNIPS-free plain
    IPS estimator.  Per item: naive clicks, naive CTR, and the IPS
    estimate Σ_clicks 1/prop — the number whose ORDERING is unbiased
    for true relevance under the examination model, where naive CTR
    systematically favours items shown high.  Top-20 by IPS score.

    Determinism: the prior is a ≤{slots}-row broadcast; each click's
    weight pctr(1)/pctr(p) is one double division of identical values;
    per-item sums round once (the coec precedent).  Scale shape: two
    map-side-combinable aggregates over the filtered log keyed on item
    — identical shuffle shape to coec_model, distributed TakeOrdered
    cut.
    """.format(slots=_COEC_SLOTS)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
            (F.pmod(F.col("event_id"), F.lit(_COEC_SLOTS)) + 1)
            .cast("long").alias("pos"),
        )
        .filter(F.col("item").isNotNull())
    )
    prior = (
        ev.groupBy("pos")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .alias("c"),
        )
        .filter((F.col("v") > 0) & (F.col("c") > 0))
        .select("pos", (F.col("c") / F.col("v")).alias("pctr"))
    )
    p1 = prior.filter(F.col("pos") == 1).select(
        F.col("pctr").alias("pctr1")
    )
    w = prior.crossJoin(F.broadcast(p1)).select(
        "pos", (F.col("pctr1") / F.col("pctr")).alias("ipw")
    )
    views = ev.filter(F.col("event_type") == "view").groupBy("item").agg(
        F.count("*").cast("long").alias("n_views")
    )
    ips = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(w), "pos")
        .groupBy("item")
        .agg(
            F.count("*").cast("long").alias("n_clicks"),
            F.sum("ipw").alias("_ips"),
        )
    )
    return (
        ips.join(views, "item")
        .select(
            "item", "n_clicks", "n_views",
            _r4(F.col("n_clicks") / F.col("n_views")).alias("naive_ctr"),
            _r4("_ips").alias("ips_score"),
        )
        .orderBy(F.col("ips_score").desc(), F.col("item").asc())
        .limit(20)
    )


SQL_IPS_CTR_ESTIMATE = f"""WITH ev AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         CAST(event_id % {_COEC_SLOTS} + 1 AS BIGINT) AS pos
  FROM events WHERE event_type IN ('view', 'click')
),
ev2 AS (SELECT * FROM ev WHERE item IS NOT NULL),
prior AS (
  SELECT pos,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           / CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS pctr
  FROM ev2 GROUP BY pos
  HAVING sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
),
w AS (
  SELECT p.pos, p1.pctr / p.pctr AS ipw
  FROM prior p CROSS JOIN (SELECT pctr FROM prior WHERE pos = 1) p1
),
views AS (SELECT item, count(*) AS n_views FROM ev2
          WHERE event_type = 'view' GROUP BY item),
ips AS (
  SELECT e.item, count(*) AS n_clicks, sum(w.ipw) AS s
  FROM ev2 e JOIN w ON e.pos = w.pos
  WHERE e.event_type = 'click' GROUP BY e.item
)
SELECT i.item, CAST(i.n_clicks AS BIGINT) AS n_clicks,
       CAST(v.n_views AS BIGINT) AS n_views,
       round(i.n_clicks / CAST(v.n_views AS DOUBLE), 4) AS naive_ctr,
       round(i.s, 4) AS ips_score
FROM ips i JOIN views v ON i.item = v.item
ORDER BY ips_score DESC, i.item ASC LIMIT 20"""


# ---------------------------------------------------------------------------
# Weekday seasonality profile (the ops-analytics load-shaping baseline)
# ---------------------------------------------------------------------------


def q_weekday_seasonality(spark, sf_dir):
    """Day-of-week seasonal profile of event volume — the decomposition
    every capacity plan and anomaly threshold starts from (ewma_forecast
    smooths the trend; this isolates the weekly cycle): per weekday,
    how many days of data, the mean daily volume, and the seasonal
    index (mean_dow / overall daily mean) — index > 1 marks the heavy
    days a static threshold would false-alarm on.

    Determinism: daily counts are integers; means and the index are
    single divisions of those integers.  Scale shape: events collapse
    map-side to |days| rows FIRST (the spike_detect pre-aggregate),
    then a 7-row rollup with the overall mean as a 1-row broadcast.
    """
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    overall = ev.agg(
        (F.sum("x") / F.count("*")).alias("_mu")
    )
    return (
        ev.withColumn("dow", (F.dayofweek("day") - 1).cast("long"))
        .groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("x").cast("long").alias("_sx"),
        )
        .crossJoin(F.broadcast(overall))
        .select(
            "dow", "n_days",
            _r4(F.col("_sx") / F.col("n_days")).alias("mean_volume"),
            _r4(
                F.col("_sx") / F.col("n_days") / F.col("_mu")
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


SQL_WEEKDAY_SEASONALITY = """WITH ev AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS x
  FROM events GROUP BY 1
),
overall AS (SELECT sum(x) * 1.0 / count(*) AS mu FROM ev)
SELECT CAST(dayofweek(day) AS BIGINT) AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       round(sum(x) * 1.0 / count(*), 4) AS mean_volume,
       round(sum(x) * 1.0 / count(*) / overall.mu, 4) AS seasonal_index
FROM ev CROSS JOIN overall
GROUP BY dayofweek(day), overall.mu ORDER BY dow"""


# ---------------------------------------------------------------------------
# Traffic concentration: Gini coefficient + top-20% share
# ---------------------------------------------------------------------------


def q_traffic_gini(spark, sf_dir):
    """Traffic inequality over items: the Gini coefficient of per-item
    click counts, G = Σ(2i − n − 1)·x_(i) / (n·Σx) over the ascending
    sort, plus the classic Pareto readout (the click share of the
    top-20% items) — the concentration numbers that decide cache sizes
    (cache_selection), head/tail tiering (tier_split), and hot-shard
    salting, all of which assume THIS skew exists.

    Determinism: clicks are integers, so the weighted Gini numerator is
    an exact integer; both outputs divide once.  Scale shape: one
    per-item count aggregate, one rank window over the |items|-row
    result, two integer reduces.
    """
    from pyspark.sql import Window

    clicks = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.get_json_object("props", "$.k").cast("long").alias("item")
        )
        .filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy(F.col("x").asc(), F.col("item").asc())
    nrow = clicks.agg(F.count("*").cast("long").alias("nn"))
    ranked = clicks.withColumn("i", F.row_number().over(w)).crossJoin(
        F.broadcast(nrow)
    )
    agg = ranked.agg(
        F.max("nn").alias("n_items"),
        F.sum("x").cast("long").alias("total"),
        F.sum((2 * F.col("i") - F.col("nn") - 1) * F.col("x"))
        .alias("_gnum"),
        F.sum(
            F.when(F.col("i") * 5 > F.col("nn") * 4, F.col("x"))
            .otherwise(0)
        ).cast("long").alias("_top"),
    )
    return agg.select(
        "n_items", "total",
        _r4(F.col("_gnum") / (F.col("n_items") * F.col("total")))
        .alias("gini"),
        _r4(F.col("_top") / F.col("total")).alias("top20_share"),
    )


SQL_TRAFFIC_GINI = """WITH clicks AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         count(*) AS x
  FROM events WHERE event_type = 'click'
    AND json_extract_string(props, '$.k') IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, item ASC) AS i,
         count(*) OVER () AS n
  FROM clicks
)
SELECT CAST(max(n) AS BIGINT) AS n_items,
       CAST(sum(x) AS BIGINT) AS total,
       round(sum((2 * i - n - 1) * x) / (max(n) * 1.0 * sum(x)), 4)
         AS gini,
       round(sum(CASE WHEN i * 5 > n * 4 THEN x ELSE 0 END)
             * 1.0 / sum(x), 4) AS top20_share
FROM ranked"""


# ---------------------------------------------------------------------------
# Empirical-Bayes CTR shrinkage (beta-binomial method of moments)
# ---------------------------------------------------------------------------

_EB_TOPK = 20


def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-item CTR toward the corpus
    prior (the beta-binomial method-of-moments construction — Robbins'
    empirical Bayes as every "don't rank by raw ratio" guide applies
    it): fit Beta(α, β) to the observed per-item CTR mean m and
    variance v via α+β = m(1−m)/v − 1, then score each item by the
    posterior mean (clicks + α)/(views + α+β) — small-sample items
    shrink to the prior, high-volume items keep their data; the fix
    for ips_ctr_estimate/coec's instability on single-digit counts.
    Top-{k} items by shrunk CTR with raw CTR alongside.

    Determinism: per-item counts are integers; m and v come from
    integer moment sums; α/β and each posterior are single
    expressions over those, rounded once.  Scale shape: one item-keyed
    count aggregate, a 1-row moment reduce broadcast back, and a
    distributed TakeOrdered cut.
    """.format(k=_EB_TOPK)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
    )
    per = ev.groupBy("item").agg(
        F.count("*").cast("long").alias("v"),        # trials: all interactions
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("c"),
    ).filter(F.col("v") > 0)
    mom = per.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col("c") / F.col("v")).alias("_s1"),
        F.sum((F.col("c") / F.col("v")) * (F.col("c") / F.col("v")))
        .alias("_s2"),
    ).select(
        (F.col("_s1") / F.col("_n")).alias("m"),
        (
            (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n"))
            / F.col("_n")
        ).alias("v2"),
    ).select(
        "m",
        (F.col("m") * (1 - F.col("m")) / F.col("v2") - 1).alias("ab"),
    ).select(
        "m", "ab",
        (F.col("m") * F.col("ab")).alias("alpha"),
        ((1 - F.col("m")) * F.col("ab")).alias("beta"),
    )
    return (
        per.crossJoin(F.broadcast(mom))
        .select(
            "item", F.col("c").alias("clicks"),
            F.col("v").alias("interactions"),
            _r4(F.col("c") / F.col("v")).alias("raw_ctr"),
            _r4(
                (F.col("c") + F.col("alpha"))
                / (F.col("v") + F.col("ab"))
            ).alias("eb_ctr"),
        )
        .orderBy(F.col("eb_ctr").desc(), F.col("item").asc())
        .limit(_EB_TOPK)
    )


SQL_EB_SHRINKAGE = f"""WITH ev AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type IN ('view', 'click')
),
per AS (
  SELECT item,
         count(*) AS v,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
  FROM ev WHERE item IS NOT NULL GROUP BY item
),
mom AS (
  SELECT sum(c * 1.0 / v) / count(*) AS m,
         (sum((c * 1.0 / v) * (c * 1.0 / v))
          - sum(c * 1.0 / v) * sum(c * 1.0 / v) / count(*))
           / count(*) AS v2
  FROM per
),
pri AS (
  SELECT m, (m * (1 - m) / v2 - 1) AS ab FROM mom
)
SELECT per.item, CAST(per.c AS BIGINT) AS clicks,
       CAST(per.v AS BIGINT) AS interactions,
       round(per.c * 1.0 / per.v, 4) AS raw_ctr,
       round((per.c + pri.m * pri.ab) / (per.v + pri.ab), 4) AS eb_ctr
FROM per CROSS JOIN pri
ORDER BY eb_ctr DESC, per.item ASC LIMIT {_EB_TOPK}"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate of user lifetime
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 1
_US_PER_DAY = 86_400_000_000


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier product-limit survival curve (Kaplan & Meier, JASA
    1958) of user lifetime in the event log — the censoring-correct
    companion to retention_cohorts (which ignores censoring) and the
    lifetime distribution rfm_churn_auc's recency heuristic tries to
    predict.  A user's lifetime is last-activity − first-activity in
    whole days; users still active in the final {d}-day window are
    right-CENSORED at their last observed activity (they exit the risk
    set without an event — exactly the bias naive "average lifetime"
    numbers get wrong).  S(t) = ∏_{{tᵢ ≤ t}} (1 − dᵢ/nᵢ) over event
    times tᵢ, with nᵢ = users whose observation time ≥ tᵢ.

    Determinism: durations are exact integer-microsecond differences
    floor-divided into days; dᵢ/nᵢ ratios and the exp/ln product are the
    only floats, rounded to 4.  If every at-risk user dies at some tᵢ
    (dᵢ = nᵢ) the survival hits exact 0 there and stays 0, guarded with
    an explicit flag instead of ln(0).

    Scale shape: one per-user min/max aggregate (n-row shuffle), one
    per-duration groupBy (≤ log-span-in-days rows), then windows over
    that bounded relation — the heavy lifting is the first aggregate;
    everything after is metadata-sized.
    """.format(d=_KM_CENSOR_DAYS)
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    hor = ev.agg(F.max("us").alias("_end"))
    cut = F.col("_end") - F.lit(_KM_CENSOR_DAYS * _US_PER_DAY)
    per = (
        ev.crossJoin(F.broadcast(hor))
        .groupBy("user_id")
        .agg(
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
            F.max("_end").alias("_end2"),
        )
        .select(
            F.floor(
                (F.col("last_us") - F.col("first_us")) / F.lit(_US_PER_DAY)
            ).cast("long").alias("duration_days"),
            (
                F.col("last_us")
                < F.col("_end2") - F.lit(_KM_CENSOR_DAYS * _US_PER_DAY)
            ).cast("int").alias("churned"),
        )
    )
    g = per.groupBy("duration_days").agg(
        F.count("*").cast("long").alias("_n_all"),
        F.sum("churned").cast("long").alias("n_events"),
    )
    w_risk = (
        Window.orderBy(F.col("duration_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = g.withColumn("n_risk", F.sum("_n_all").over(w_risk))
    evt = g.filter(F.col("n_events") > 0)
    w_surv = (
        Window.orderBy(F.col("duration_days").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("n_events") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.max(
        (F.col("n_events") == F.col("n_risk")).cast("int")
    ).over(w_surv)
    s_log = F.sum(term).over(w_surv)
    return (
        evt.withColumn(
            "survival",
            F.when(hit_zero == 1, F.lit(0.0)).otherwise(_r4(F.exp(s_log))),
        )
        .select("duration_days", "n_risk", "n_events", "survival")
        .orderBy("duration_days")
    )


SQL_KAPLAN_MEIER = f"""WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
hor AS (SELECT max(us) AS e FROM ev),
per AS (
  SELECT CAST((max(us) - min(us)) // {_US_PER_DAY} AS BIGINT)
           AS duration_days,
         CASE WHEN max(us) < e - {_KM_CENSOR_DAYS * _US_PER_DAY}
              THEN 1 ELSE 0 END AS churned
  FROM ev CROSS JOIN hor GROUP BY user_id, e
),
g AS (
  SELECT duration_days, count(*) AS n_all, sum(churned) AS n_events
  FROM per GROUP BY duration_days
),
risk AS (
  SELECT duration_days, n_events,
         sum(n_all) OVER (ORDER BY duration_days DESC
                          ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM g
),
evt AS (SELECT * FROM risk WHERE n_events > 0),
surv AS (
  SELECT duration_days, n_risk, n_events,
         max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
           OVER w AS hit_zero,
         sum(CASE WHEN n_events < n_risk
                  THEN ln(1.0 - n_events * 1.0 / n_risk)
                  ELSE 0.0 END) OVER w AS s_log
  FROM evt
  WINDOW w AS (ORDER BY duration_days ASC ROWS UNBOUNDED PRECEDING)
)
SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE round(exp(s_log), 4) END
         AS survival
FROM surv ORDER BY duration_days"""


# ---------------------------------------------------------------------------
# Click entropy (query ambiguity / personalization potential)
# ---------------------------------------------------------------------------


def q_click_entropy(spark, sf_dir):
    """Click entropy per query (Dou, Song & Wen, WWW 2007; Teevan et
    al.'s "potential for personalization"): H(q) = −Σ_item p·ln p over
    the query's click distribution — the standard query-AMBIGUITY
    score.  Low entropy = navigational (everyone clicks one result,
    personalization can't help); high entropy = informational/ambiguous
    (the re-ranking headroom personalization and diversification chase;
    the selector MMR-style diversification should run behind).  Uses
    the log's established pseudo-query convention (user_id % {q}, as
    coclick_similarity/coec_model) and raw click counts, not distinct
    items — repeat clicks are evidence of concentration.

    Determinism: integer click counts; p and the entropy sum are the
    only floats, rounded to 4.  Scale shape: one (query, item) count
    aggregate (map-side combined), per-query totals via a second tiny
    aggregate joined back — both keyed by query, the log's natural
    partitioning; output is |Q| rows.
    """.format(q=_COCLICK_Q)
    cl = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.pmod(F.col("user_id"), F.lit(_COCLICK_Q)).cast("long")
            .alias("q"),
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
    )
    qi = cl.groupBy("q", "item").agg(F.count("*").cast("long").alias("c"))
    qt = qi.groupBy("q").agg(
        F.sum("c").cast("long").alias("n_clicks"),
        F.count("*").cast("long").alias("n_items"),
    )
    p = F.col("c") / F.col("n_clicks")
    return (
        qi.join(F.broadcast(qt), "q")
        .groupBy("q")
        .agg(
            F.first("n_clicks").alias("n_clicks"),
            F.first("n_items").alias("n_items"),
            _r4(-F.sum(p * F.log(p))).alias("click_entropy"),
        )
        .select("q", "n_clicks", "n_items", "click_entropy")
        .orderBy("q")
    )


SQL_CLICK_ENTROPY = f"""WITH cl AS (
  SELECT user_id % {_COCLICK_Q} AS q,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'
    AND json_extract_string(props, '$.k') IS NOT NULL
),
qi AS (SELECT q, item, count(*) AS c FROM cl GROUP BY q, item),
qt AS (SELECT q, sum(c) AS n_clicks, count(*) AS n_items
       FROM qi GROUP BY q)
SELECT qi.q, CAST(qt.n_clicks AS BIGINT) AS n_clicks,
       CAST(qt.n_items AS BIGINT) AS n_items,
       round(-sum((qi.c * 1.0 / qt.n_clicks)
                  * ln(qi.c * 1.0 / qt.n_clicks)), 4) AS click_entropy
FROM qi JOIN qt ON qi.q = qt.q
GROUP BY qi.q, qt.n_clicks, qt.n_items ORDER BY qi.q"""


# ---------------------------------------------------------------------------
# Goh-Barabasi burstiness of inter-event times
# ---------------------------------------------------------------------------


def q_interevent_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness coefficient (EPL 2008) of each event
    type's inter-arrival times: B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the
    bot-vs-human traffic signature that complements fano_factor's
    count dispersion with TIMING dispersion: B → −1 is clockwork
    (scripted/bot), B ≈ 0 Poisson, B → 1 human-bursty.  Per event
    type: gap count, mean and std of the gap in seconds, and B.
    (Distinct from q_term_burstiness, which is Church-Gale DOCUMENT
    burstiness of words.)

    Determinism: gaps are exact integer-microsecond lag differences;
    Σgap stays integer (≤ span·n < 2⁶³); only the second moment is a
    double sum, and every reported number is scale-bounded before the
    4-decimal round (gap seconds ~10³, B ∈ (−1,1)) so float summation
    order is harmless at that precision.  Scale shape: one lag window
    partitioned by event_type (the log's natural key), one map-side
    moment aggregate; output is |event types| rows."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("us").over(w))
        .filter(F.col("prev").isNotNull())
        .select("event_type", (F.col("us") - F.col("prev")).alias("gap"))
    )
    m = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("_s1"),
        F.sum(F.col("gap").cast("double") * F.col("gap").cast("double"))
        .alias("_s2"),
    )
    mu = F.col("_s1") / F.col("n_gaps")
    var = F.col("_s2") / F.col("n_gaps") - mu * mu
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    return m.select(
        "event_type", "n_gaps",
        _r4(mu / 1e6).alias("mean_gap_s"),
        _r4(sig / 1e6).alias("std_gap_s"),
        _r4((sig - mu) / (sig + mu)).alias("burstiness"),
    ).orderBy("event_type")


SQL_INTEREVENT_BURSTINESS = """WITH ev AS (
  SELECT event_type, epoch_us(ts) AS us, event_id FROM events
),
gaps AS (
  SELECT event_type,
         us - lag(us) OVER (PARTITION BY event_type
                            ORDER BY us, event_id) AS gap
  FROM ev
),
m AS (
  SELECT event_type, count(*) AS n_gaps, sum(gap) AS s1,
         sum(CAST(gap AS DOUBLE) * CAST(gap AS DOUBLE)) AS s2
  FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
)
SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
       round(s1 * 1.0 / n_gaps / 1e6, 4) AS mean_gap_s,
       round(sqrt(greatest(s2 / n_gaps
                           - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps),
                           0.0)) / 1e6, 4) AS std_gap_s,
       round((sqrt(greatest(s2 / n_gaps
                            - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps),
                            0.0)) - s1 * 1.0 / n_gaps)
             / (sqrt(greatest(s2 / n_gaps
                              - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps),
                              0.0)) + s1 * 1.0 / n_gaps), 4) AS burstiness
FROM m ORDER BY event_type"""


# ---------------------------------------------------------------------------
# Wald SPRT sequential A/B stopping
# ---------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.15, 0.25
_SPRT_ALPHA = _SPRT_BETA = 0.05


def q_sprt_stopping(spark, sf_dir):
    """Wald's sequential probability ratio test (Wald 1945) on the event
    stream as a Bernoulli click process — the SEQUENTIAL counterpart to
    the fixed-horizon battery (mde_power sizes the experiment up front,
    srm_chisq guards the split, this entry answers "when could we have
    STOPPED?"): H₀ p={p0} vs H₁ p={p1}, α=β={a}.  The cumulative
    log-likelihood ratio walks ln(p₁/p₀) on a click and
    ln((1−p₁)/(1−p₀)) otherwise; the test stops at the first crossing
    of ±ln((1−β)/α).  One row: stream size, empirical click rate, the
    stopping index and time fraction, the decision, and the boundary —
    SPRT needs ~½ the samples of the fixed-horizon test at the same
    error rates, which is why ramp frameworks run it.

    Determinism: the walk adds one of two ln constants in exact
    (ts, event_id) order — both engines sum the identical sequence in
    the identical order, so the cumsum is bit-equal.  Scale shape: the
    walk is a PREFIX SUM over the stream; expressed here as one ordered
    cumulative window (single-pass), with the two-level distributed
    prefix-sum pattern q_pack_sequences already implements being the
    verbatim scale-out for it; the stopping row is a 1-row reduce over
    the crossing flags — no join, no pair work.
    """.format(p0=_SPRT_P0, p1=_SPRT_P1, a=_SPRT_ALPHA)
    import math as _math

    from pyspark.sql import Window

    lr1 = _math.log(_SPRT_P1 / _SPRT_P0)
    lr0 = _math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    bound = _math.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        (F.col("event_type") == "click").cast("int").alias("x"),
    )
    w = Window.orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = ev.select(
        "x",
        F.row_number().over(Window.orderBy("us", "event_id")).alias("i"),
        F.sum(
            F.when(F.col("x") == 1, F.lit(lr1)).otherwise(F.lit(lr0))
        ).over(w).alias("llr"),
    )
    agg = walk.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("x").cast("long").alias("_clicks"),
        F.min(F.when(F.col("llr") >= bound, F.col("i")))
        .alias("_up"),
        F.min(F.when(F.col("llr") <= -bound, F.col("i")))
        .alias("_dn"),
        F.max(F.col("llr")).alias("_mx"),
    )
    stop = F.when(
        F.col("_up").isNotNull() & (
            F.col("_dn").isNull() | (F.col("_up") < F.col("_dn"))
        ), F.col("_up")
    ).otherwise(F.col("_dn"))
    decision = F.when(stop.isNull(), F.lit("inconclusive")).when(
        stop == F.col("_up"), F.lit("accept_p1")
    ).otherwise(F.lit("accept_p0"))
    return agg.select(
        "n_total",
        _r4(F.col("_clicks") / F.col("n_total")).alias("click_rate"),
        stop.cast("long").alias("stop_n"),
        _r4(stop / F.col("n_total")).alias("stop_frac"),
        decision.alias("decision"),
        _r4(F.lit(bound)).alias("boundary"),
    )


SQL_SPRT_STOPPING = f"""WITH ev AS (
  SELECT epoch_us(ts) AS us, event_id,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x
  FROM events
),
walk AS (
  SELECT x,
         row_number() OVER (ORDER BY us, event_id) AS i,
         sum(CASE WHEN x = 1 THEN ln({_SPRT_P1} / {_SPRT_P0})
                  ELSE ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})) END)
           OVER (ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS llr
  FROM ev
),
agg AS (
  SELECT count(*) AS n_total, sum(x) AS clicks,
         min(CASE WHEN llr >= ln((1 - {_SPRT_BETA}) / {_SPRT_ALPHA})
                  THEN i END) AS up,
         min(CASE WHEN llr <= -ln((1 - {_SPRT_BETA}) / {_SPRT_ALPHA})
                  THEN i END) AS dn
  FROM walk
),
pick AS (
  SELECT *, CASE WHEN up IS NOT NULL AND (dn IS NULL OR up < dn)
                 THEN up ELSE dn END AS stop_n
  FROM agg
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       round(clicks * 1.0 / n_total, 4) AS click_rate,
       CAST(stop_n AS BIGINT) AS stop_n,
       round(stop_n * 1.0 / n_total, 4) AS stop_frac,
       CASE WHEN stop_n IS NULL THEN 'inconclusive'
            WHEN stop_n = up THEN 'accept_p1'
            ELSE 'accept_p0' END AS decision,
       round(ln((1 - {_SPRT_BETA}) / {_SPRT_ALPHA}), 4) AS boundary
FROM pick"""


# ---------------------------------------------------------------------------
# Per-user event-type transition matrix (behavior Markov model)
# ---------------------------------------------------------------------------


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: for each
    (from_type → to_type) pair, the count of consecutive same-user
    event pairs and the row-normalized transition probability — the
    model behind next-action prediction, funnel-leak diagnosis
    (complementing event_funnel's fixed ORDERED path with the full
    matrix), and synthetic-log validation.  Rows ordered
    (from_type, to_type).

    Determinism: successor pairs come from a lag window ordered by
    exact (ts, event_id) within user; counts integer; the row
    probability is the single rounded division.  Scale shape: one
    user-partitioned lead window (the log's natural partitioning — no
    global order anywhere), one |types|² aggregate, row totals via a
    broadcast-sized second aggregate."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), "to_type"
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("_row_n")
    )
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type", "to_type", "n",
            _r4(F.col("n") / F.col("_row_n")).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


SQL_EVENT_TRANSITIONS = """WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS to_type
  FROM ev
),
cnt AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
tot AS (SELECT from_type, sum(n) AS row_n FROM cnt GROUP BY from_type)
SELECT cnt.from_type, cnt.to_type, CAST(cnt.n AS BIGINT) AS n,
       round(cnt.n * 1.0 / tot.row_n, 4) AS prob
FROM cnt JOIN tot ON cnt.from_type = tot.from_type
ORDER BY cnt.from_type, cnt.to_type"""


# ---------------------------------------------------------------------------
# User-level jackknife variance of the CTR ratio metric
# ---------------------------------------------------------------------------


def q_jackknife_ctr(spark, sf_dir):
    """Leave-one-USER-out jackknife standard error of the corpus CTR —
    the industry-standard fix for the ratio-metric variance problem in
    A/B analysis (Deng et al., WSDM 2017: users, not events, are the
    i.i.d. units; the naive binomial SE over events understates
    variance because one heavy user's events correlate): θ = X/Y over
    all events, θ₍ᵢ₎ = (X−xᵢ)/(Y−yᵢ) per left-out user,
    SE² = (n−1)/n · Σ(θ₍ᵢ₎−θ̄)².  One row: user count, totals, CTR,
    jackknife SE, the 95% CI, and the naive binomial SE for contrast —
    their RATIO is the design effect a correct experiment readout must
    apply (cf. cuped_adjustment and delta_method_ratio, the other two
    legs of the variance-correction toolkit).

    Determinism: per-user counts are integer; the θ₍ᵢ₎ arithmetic is
    fixed-form float per user and every reported value is O(1)-bounded
    before the 4-decimal round.  Scale shape: one user-keyed count
    aggregate, totals as a 1-row broadcast, one n-user reduce — the
    jackknife needs NO resampling loop, the leave-one-out identity
    makes it a single pass."""
    per = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("y"),
            F.sum((F.col("event_type") == "click").cast("int"))
            .cast("long").alias("x"),
        )
    )
    tot = per.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("x").cast("long").alias("_x"),
        F.sum("y").cast("long").alias("_y"),
    )
    j = per.crossJoin(F.broadcast(tot))
    theta_i = (F.col("_x") - F.col("x")) / (F.col("_y") - F.col("y"))
    m = j.agg(
        F.first("_n").alias("n_users"),
        F.first("_x").alias("clicks"),
        F.first("_y").alias("events"),
        F.avg(theta_i).alias("_tbar"),
        F.sum(theta_i * theta_i).alias("_tsq"),
    )
    n = F.col("n_users")
    var = (n - 1) / n * (F.col("_tsq") - n * F.col("_tbar") * F.col("_tbar"))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    ctr = F.col("clicks") / F.col("events")
    naive = F.sqrt(ctr * (1 - ctr) / F.col("events"))
    return m.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("clicks").cast("long").alias("clicks"),
        F.col("events").cast("long").alias("events"),
        _r4(ctr).alias("ctr"),
        _r4(se).alias("jackknife_se"),
        _r4(ctr - 1.96 * se).alias("ci_lo"),
        _r4(ctr + 1.96 * se).alias("ci_hi"),
        _r4(naive).alias("naive_se"),
        _r4(se / naive).alias("design_effect"),
    )


SQL_JACKKNIFE_CTR = """WITH per AS (
  SELECT user_id, count(*) AS y,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
tot AS (SELECT count(*) AS n, sum(x) AS tx, sum(y) AS ty FROM per),
j AS (
  SELECT per.x, per.y, tot.n, tot.tx, tot.ty,
         (tot.tx - per.x) * 1.0 / (tot.ty - per.y) AS theta_i
  FROM per CROSS JOIN tot
),
m AS (
  SELECT max(n) AS n_users, max(tx) AS clicks, max(ty) AS events,
         avg(theta_i) AS tbar, sum(theta_i * theta_i) AS tsq
  FROM j
)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(clicks AS BIGINT) AS clicks,
       CAST(events AS BIGINT) AS events,
       round(clicks * 1.0 / events, 4) AS ctr,
       round(sqrt(greatest((n_users - 1.0) / n_users
                           * (tsq - n_users * tbar * tbar), 0.0)), 4)
         AS jackknife_se,
       round(clicks * 1.0 / events
             - 1.96 * sqrt(greatest((n_users - 1.0) / n_users
                                    * (tsq - n_users * tbar * tbar),
                                    0.0)), 4) AS ci_lo,
       round(clicks * 1.0 / events
             + 1.96 * sqrt(greatest((n_users - 1.0) / n_users
                                    * (tsq - n_users * tbar * tbar),
                                    0.0)), 4) AS ci_hi,
       round(sqrt((clicks * 1.0 / events) * (1 - clicks * 1.0 / events)
                  / events), 4) AS naive_se,
       round(sqrt(greatest((n_users - 1.0) / n_users
                           * (tsq - n_users * tbar * tbar), 0.0))
             / sqrt((clicks * 1.0 / events)
                    * (1 - clicks * 1.0 / events) / events), 4)
         AS design_effect
FROM m"""
