"""Event-stream operators (batch form, over the ``events`` table).

The reference has no streaming/window surface (SURVEY §2.10); these are
the extension operators: sessionization, tumbling windows, JSON
extraction, pivot. The same logic runs under Structured Streaming in
``graphdb_wikidata_spark.streaming`` (readStream + watermark); the batch
forms here are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..rounding import round_half_up
from ..tables import epoch_us, table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


@register(
    "events_sessionize",
    f"""
    WITH g AS (
        SELECT user_id,
               CASE WHEN epoch_us(ts) - epoch_us(
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
        FROM events)
    SELECT user_id,
           count(*)                     AS n_events,
           CAST(1 + sum(new_s) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks when the gap to
    the previous event of the same user is >= 30 min. One shuffle on
    user_id; microsecond arithmetic so both engines see identical gaps."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_us(F.col("ts")) - epoch_us(F.lag("ts").over(w))
    return (
        e.withColumn("new_s", F.when(gap >= SESSION_GAP_US, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.lit(1) + F.sum("new_s")).cast("long").alias("n_sessions"),
        )
    )


@register(
    "events_session_window",
    f"""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                    >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
        FROM events),
    s AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: ``F.session_window`` in batch mode — the
    same operator Structured Streaming uses with a watermark. The oracle
    reconstructs identical sessions via gaps-and-islands."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@register(
    "events_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 2)  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (batch form of ``window(ts, '1 hour')``)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_topk_per_window",
    """
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               user_id,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT hour_start, user_id, sum_value, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY hour_start
                                     ORDER BY sum_value DESC, user_id) AS rk
        FROM hourly) x
    WHERE rk <= 3
    """,
)
def events_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k contributors per tumbling window: pre-aggregate (hour,
    user) with map-side partial agg — the rank window then sees #users
    rows per window, not #events — and row_number with a deterministic
    (value desc, user asc) tie-break keeps the answer engine-stable.
    At scale the expensive step stays the partial aggregation; the
    per-window rank partitions are bounded by user cardinality."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "user_id",
        )
        .agg(F.round(F.sum("value"), 2).alias("sum_value"))
    )
    w = Window.partitionBy("hour_start").orderBy(F.desc("sum_value"), F.asc("user_id"))
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("hour_start", "user_id", "sum_value", "rk")
    )


@register(
    "events_rollup_multires",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')  AS day_start,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           count(*)             AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (hour -> day -> total)
    in ONE pass via grouping sets: partial aggregation makes the
    coarser resolutions nearly free vs three separate scans — the batch
    analogue of continuous aggregates over a time-partitioned table."""
    e = table(spark, sf_dir, "events")
    return (
        e.rollup(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm:ss").alias("day_start"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column -> typed value,
    aggregated. JVM-side get_json_object, no Python."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("long").alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_pivot",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — explicit
    values keep the plan a single pass (no extra distinct-values job)."""
    e = table(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )
    return out


@register(
    "events_sliding",
    """
    WITH s AS (SELECT e.*,
                      time_bucket(INTERVAL '15 minutes', ts)
                        - k.k * INTERVAL '15 minutes' AS win_start
               FROM events e, generate_series(0, 3) k(k))
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM s GROUP BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes in batch mode — Spark's
    window() expands each event into its 4 covering windows before the
    (window, type) partial agg; the oracle reproduces the expansion
    with a generate_series cross join."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w").start, "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


STEP_GAP_US = 48 * 3600 * 1_000_000  # each funnel step must follow within 48h


@register(
    "events_funnel_steps",
    f"""
    WITH v AS (SELECT user_id, min(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
            AND epoch_us(e.ts) - epoch_us(v.t_view) <= {STEP_GAP_US}
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND epoch_us(e.ts) - epoch_us(c.t_click) <= {STEP_GAP_US}
          GROUP BY e.user_id)
    SELECT u.user_id,
           CASE WHEN t_purchase IS NOT NULL THEN 3
                WHEN t_click    IS NOT NULL THEN 2
                WHEN t_view     IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage,
           t_view, t_click, t_purchase
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel analysis: first view -> first click within 48h
    -> first purchase within 48h of that click; emits each user's stage
    reached and step timestamps.

    Each step is a min-aggregate (map-side combinable) joined back on
    user_id; after the first exchange every stage reuses the same
    hash-partitioning, and the per-step frames collapse to one row per
    user before joining, so state stays bounded regardless of per-user
    event counts (unlike collect_list-based funnels, which OOM on
    heavy-hitter users at 100 TB)."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (epoch_us(F.col("ts")) - epoch_us(F.col("t_view")) <= STEP_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (epoch_us(F.col("ts")) - epoch_us(F.col("t_click")) <= STEP_GAP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        e.select("user_id")
        .distinct()
        .join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", stage.alias("funnel_stage"), "t_view", "t_click", "t_purchase")
    )


@register(
    "events_cohort_retention",
    """
    WITH first AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM events GROUP BY user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           datediff('day', cohort_day, date_trunc('day', e.ts))::BIGINT AS offset_days,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, activity
    counted per (cohort, day-offset) cell — the table behind every
    retention curve.

    Shape at scale: first-activity is one partial-agg groupBy on
    user_id; the join back is keyed on the same column, so with AQE
    the exchange is reused; the final cell rollup aggregates
    (cohort, offset) — tiny output. No window over the whole event
    log, no per-user state.
    """
    e = table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("long")
            .alias("offset_days"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("active_users"))
    )


@register(
    "events_value_histogram",
    """
    SELECT event_type,
           CAST(floor(value / 50) AS BIGINT) AS bucket,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type, floor(value / 50)
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (the data-profiling
    shape behind drift monitors and feature stores): one partial-agg
    groupBy on (type, bucket) — bucket assignment is map-side
    arithmetic, so the histogram costs a single #buckets-sized
    shuffle regardless of event volume."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.floor(F.col("value") / 50).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------

#: K-minimum-values sketch size. Standard error ~ 1/sqrt(K-2) (~13% at
#: K=64); production uses K=1024+. Small here so the estimator branch
#: (not the exact-fallback branch) is exercised at sf0.01's 150
#: distinct users per type.
KMV_K = 64
#: 15 md5 hex digits = 60 bits — fits a BIGINT exactly, and the
#: fraction hv = h / 2^60 converts to the same IEEE double in both
#: engines.
_KMV_DENOM = float(1 << 60)


@register(
    "events_approx_distinct_kmv",
    f"""
    WITH h AS (SELECT DISTINCT event_type,
                      (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                       / {_KMV_DENOM!r}) AS hv
               FROM events),
    rk AS (SELECT event_type, hv,
                  row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r,
                  count(*) OVER (PARTITION BY event_type) AS nd
           FROM h)
    SELECT event_type,
           CASE WHEN any_value(nd) < {KMV_K}
                THEN any_value(nd)::DOUBLE
                ELSE round({KMV_K - 1}.0 / max(CASE WHEN r = {KMV_K} THEN hv END), 1)
           END AS est_distinct
    FROM rk GROUP BY event_type
    """,
)
def events_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT DISTINCT via a K-minimum-values sketch:
    hash every user to a uniform fraction, keep each group's K
    smallest distinct hashes, estimate distinct = (K-1) / (K-th
    smallest hash). Deterministic (md5) — bit-identical across
    engines and runs, unlike RNG-seeded sketches, and KMV sketches
    of shards merge by "union then keep K smallest", so the
    estimator distributes.

    Scale note: this formulation materializes distinct (type, hv)
    pairs and ranks them — one shuffle on the group key, state
    bounded by #distinct. A production run replaces the rank window
    with a partial-aggregating top-K accumulator (per-partition keep
    K smallest, merge-sort on combine) so executor state is K rows
    per group per partition; the estimate is identical because the
    K smallest of a union is the K smallest of per-shard K-smallest.
    Extension operator (reference has no aggregate sketches)."""
    e = table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
                "long"
            )
            / F.lit(_KMV_DENOM)
        ).alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    rk = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("nd"),
    )
    kth = F.max(F.when(F.col("r") == KMV_K, F.col("hv")))
    return rk.groupBy("event_type").agg(
        F.when(F.first("nd") < KMV_K, F.first("nd").cast("double"))
        .otherwise(F.round(F.lit(float(KMV_K - 1)) / kth, 1))
        .alias("est_distinct")
    )


@register(
    "events_exact_quantiles",
    """
    SELECT event_type,
           count(*)                              AS n,
           round(quantile_cont(value, 0.5), 4)   AS p50,
           round(quantile_cont(value, 0.95), 4)  AS p95,
           round(quantile_cont(value, 0.99), 4)  AS p99
    FROM events GROUP BY event_type
    """,
)
def events_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group p50/p95/p99 via Spark's `percentile` (sort-based,
    linear interpolation — the same type-7 definition as DuckDB's
    quantile_cont, so the results hash-match at 4dp).

    Scale note: exact percentile buffers each group's values — fine
    for #event-type-sized groups; at 100 TB with huge groups you'd
    swap in `percentile_approx` (GK sketch, bounded state, mergeable)
    and accept the epsilon — same query shape, one config decision.
    The KMV entry (`events_approx_distinct_kmv`) shows the
    deterministic-sketch alternative when cross-engine
    reproducibility matters."""
    e = table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.95, 0.99))")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), pct.alias("__p")
    ).select(
        "event_type",
        "n",
        F.round(F.col("__p")[0], 4).alias("p50"),
        F.round(F.col("__p")[1], 4).alias("p95"),
        F.round(F.col("__p")[2], 4).alias("p99"),
    )


@register(
    "events_ab_test",
    """
    WITH assigned AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events),
    v AS (SELECT variant, count(*) AS n, sum(conv) AS k
          FROM assigned GROUP BY variant),
    w AS (SELECT
            max(CASE WHEN variant = 0 THEN n END) AS n0,
            max(CASE WHEN variant = 1 THEN n END) AS n1,
            max(CASE WHEN variant = 0 THEN k END) AS k0,
            max(CASE WHEN variant = 1 THEN k END) AS k1
          FROM v)
    SELECT n0, n1,
           round(k0 / n0::DOUBLE, 6) AS p0,
           round(k1 / n1::DOUBLE, 6) AS p1,
           round((k1 / n1::DOUBLE - k0 / n0::DOUBLE)
                 / sqrt(((k0 + k1) / (n0 + n1)::DOUBLE)
                        * (1 - (k0 + k1) / (n0 + n1)::DOUBLE)
                        * (1.0 / n0 + 1.0 / n1)), 4) AS z_score
    FROM w
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between experiment arms (variant =
    user_id parity — the deterministic hash-bucketing real assignment
    uses): conversion = purchase events. One partial-agg pass to
    (variant, n, k), then closed-form pooled-variance z on a 2-row
    relation — experimentation analytics at any scale is this one
    aggregate. Extension operator (no stats surface in the
    reference)."""
    e = table(spark, sf_dir, "events")
    assigned = e.select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    v = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("k"))).alias("k0"),
        F.max(F.when(F.col("variant") == 1, F.col("k"))).alias("k1"),
    )
    p0 = F.col("k0") / F.col("n0").cast("double")
    p1 = F.col("k1") / F.col("n1").cast("double")
    pp = (F.col("k0") + F.col("k1")) / (F.col("n0") + F.col("n1")).cast("double")
    se = F.sqrt(pp * (1 - pp) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1")))
    return w.select(
        "n0",
        "n1",
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        F.round((p1 - p0) / se, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Time-series analytics (round-5 wave 2 extensions)
# ---------------------------------------------------------------------------

EWMA_DECAY = 0.8  # weight w_k = decay^k for the k-th most recent event
EWMA_TAPS = 8  # bounded history: only the 8 most recent events matter


def _ewma_terms(lag_fn, present_fn):
    """Shared numerator/denominator construction for the bounded EWMA:
    num = sum_k decay^k * value[t-k], den = sum_k decay^k over the taps
    that exist. An explicit, fixed-order expression tree — no aggregate,
    so no summation-order drift between engines."""
    num = []
    den = []
    for k in range(EWMA_TAPS):
        w = EWMA_DECAY**k
        num.append(f"{w!r} * coalesce({lag_fn(k)}, 0.0)")
        den.append(f"CASE WHEN {present_fn(k)} THEN {w!r} ELSE 0.0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_terms(
    lambda k: f"lag(value, {k}) OVER w" if k else "value",
    lambda k: (f"lag(value, {k}) OVER w IS NOT NULL" if k else "TRUE"),
)


@register(
    "events_ewma_bounded",
    f"""
    SELECT event_id, user_id,
           round(({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded exponentially-weighted moving average per user: the 8
    most recent events with decay 0.8^k, normalized over the taps
    present (exact at sequence starts). Bounded history means bounded
    state — the same kernel runs under Structured Streaming with an
    8-row buffer per key. One shuffle on user_id; the 8 lags are one
    window-sort, all JVM expression code (no aggregate, so the weighted
    sum has a fixed evaluation order on both engines)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(EWMA_TAPS):
        wt = EWMA_DECAY**k
        lagged = F.col("value") if k == 0 else F.lag("value", k).over(w)
        num = num + F.lit(wt) * F.coalesce(lagged, F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return e.select("event_id", "user_id", F.round(num / den, 6).alias("ewma"))


@register(
    "events_anomaly_mad",
    """
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               round(quantile_cont(abs(e.value - m.med), 0.5)
                     OVER (PARTITION BY e.event_type), 6) AS mad
        FROM events e JOIN med m USING (event_type))
    SELECT event_type, any_value(med) AS med, any_value(mad) AS mad,
           CAST(sum(CASE WHEN abs(value - med) > 3 * mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           count(*) AS n_total
    FROM dev GROUP BY event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median/MAD per event_type, flag values
    beyond 3 MADs. Exact interpolated percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont``), both rounded to 6dp BEFORE the
    threshold comparison so a final-ULP difference between engines
    cannot flip a boundary event. Two partial-agg passes over events
    plus a broadcast of the #event_type-row median table — no
    data-sized shuffle beyond the two groupBys."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


@register(
    "events_linreg_trend",
    """
    WITH x AS (
        SELECT event_type, value AS y,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) / 3.6e9 AS x
        FROM events)
    SELECT event_type,
           round(covar_pop(x, y) / var_pop(x), 6)               AS slope,
           round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 4) AS intercept,
           round(covar_pop(x, y) * covar_pop(x, y)
                 / (var_pop(x) * var_pop(y)), 6)                AS r2,
           count(*)                                             AS n
    FROM x GROUP BY event_type
    HAVING count(*) >= 2 AND var_pop(x) > 0 AND var_pop(y) > 0
    """,
)
def events_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of value on time (hours since 2024-01-01) per
    event_type: slope = covar_pop/var_pop, both built-in aggregates on
    both engines. Centering happens inside covar/var (they subtract
    means internally), and x is pre-scaled to O(100)-magnitude hours, so
    no catastrophic cancellation on epoch-scale sums. One partial-agg
    groupBy — trend estimation at 100 TB is a single shuffle of
    #event_type rows of moments."""
    e = table(spark, sf_dir, "events")
    x = (epoch_us(F.col("ts")) - F.lit(1704067200000000)) / F.lit(3.6e9)
    d = e.select("event_type", x.alias("x"), F.col("value").alias("y"))
    cov = F.covar_pop("x", "y")
    slope = F.try_divide(cov, F.var_pop("x"))
    # degenerate groups (single event, or zero variance in x or y)
    # divide by zero / make r2 undefined, with engine-specific
    # error-vs-NULL-vs-NaN results (under ANSI mode the division even
    # aborts the job) — try_divide keeps the aggregate total, then the
    # filter drops the same groups the oracle's HAVING drops
    # (ADVICE r05). r2 is the moment form cov^2/(varx*vary) == corr^2
    # on both sides so the guarded expressions match exactly.
    return (
        d.groupBy("event_type")
        .agg(
            F.round(slope, 6).alias("slope"),
            F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
            F.round(
                F.try_divide(cov * cov, F.var_pop("x") * F.var_pop("y")), 6
            ).alias("r2"),
            F.count(F.lit(1)).alias("n"),
            F.var_pop("x").alias("_varx"),
            F.var_pop("y").alias("_vary"),
        )
        .where((F.col("n") >= 2) & (F.col("_varx") > 0) & (F.col("_vary") > 0))
        .drop("_varx", "_vary")
    )


@register(
    "events_heavy_hitter_share",
    """
    WITH per_user AS (
        SELECT event_type, user_id, round(sum(value), 6) AS v
        FROM events GROUP BY event_type, user_id),
    ranked AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v DESC, user_id ASC) AS rnk,
               count(*)  OVER (PARTITION BY event_type) AS n_users,
               sum(v)    OVER (PARTITION BY event_type) AS total_v
        FROM per_user)
    SELECT event_type,
           CAST(max(n_users) AS BIGINT)                         AS n_users,
           round(max(total_v), 2)                               AS total_value,
           round(sum(CASE WHEN rnk * 100 <= n_users THEN v ELSE 0 END)
                 / max(total_v), 6)                             AS top1pct_share,
           round(sum(CASE WHEN rnk * 10 <= n_users THEN v ELSE 0 END)
                 / max(total_v), 6)                             AS top10pct_share
    FROM ranked GROUP BY event_type
    """,
)
def events_heavy_hitter_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration analysis: the share of total value held by the top
    1% / 10% of users per event type (the Pareto question every usage
    dashboard asks). One partial-agg groupBy to per-user totals, then
    rank/share windows over the already-collapsed #users-row relation —
    the raw event table is touched once. Rank ties broken by user_id;
    shares are ratios of identically-grouped sums, rounded at the end."""
    e = table(spark, sf_dir, "events")
    # per-user sums are rounded BEFORE ranking: two users with
    # near-equal totals must rank identically on both engines (exact
    # ties then break by user_id), or percentile membership could flip
    per_user = e.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    w_rank = Window.partitionBy("event_type").orderBy(F.desc("v"), F.asc("user_id"))
    w_all = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type",
        "v",
        F.row_number().over(w_rank).alias("rnk"),
        F.count(F.lit(1)).over(w_all).alias("n_users"),
        F.sum("v").over(w_all).alias("total_v"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n_users").alias("n_users"),
        F.round(F.max("total_v"), 2).alias("total_value"),
        F.round(
            F.sum(F.when(F.col("rnk") * 100 <= F.col("n_users"), F.col("v")).otherwise(0.0))
            / F.max("total_v"),
            6,
        ).alias("top1pct_share"),
        F.round(
            F.sum(F.when(F.col("rnk") * 10 <= F.col("n_users"), F.col("v")).otherwise(0.0))
            / F.max("total_v"),
            6,
        ).alias("top10pct_share"),
    )


CUSUM_DRIFT = 75.0  # per-step drift subtraction (mean + 0.5 sigma here)
CUSUM_ALARM = 200.0  # alarm threshold on the cumulative statistic


@register(
    "events_cusum_alerts",
    f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    cusum AS (
        SELECT user_id, rn,
               greatest(0.0, value - {CUSUM_DRIFT}) AS s FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, greatest(0.0, c.s + o.value - {CUSUM_DRIFT})
        FROM cusum c JOIN ordered o
          ON o.user_id = c.user_id AND o.rn = c.rn + 1)
    SELECT user_id, count(*) AS n_events,
           round(max(s), 6) AS max_cusum,
           CAST(sum(CASE WHEN s > {CUSUM_ALARM} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms
    FROM cusum GROUP BY user_id
    """,
)
def events_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user: the one-sided cumulative
    sum S_t = max(0, S_(t-1) + value - drift), alarming while S_t
    exceeds the threshold. The recurrence is inherently sequential per
    key, so this is a custom Python-kernel operator — but NOT
    ``groupBy().applyInPandas``: with many small keys (45k users of ~70
    events on the 30x twin) the per-group pandas/Arrow overhead
    dominated (~2.7ms x 45k groups = 122s). Instead: ONE shuffle
    (repartition by user) + sortWithinPartitions(user, ts, event_id) +
    a single ``mapInPandas`` pass that runs the recurrence over each
    user SEGMENT of the sorted partition, carrying the (possibly
    batch-split) last user between Arrow batches — the partition-level
    streaming-aggregation pattern. Per-key state is one float; the
    oracle runs the SAME recurrence as a recursive CTE, both sides
    evaluating ``(s + value) - drift`` left-associated, so the float
    trajectories are bit-identical. (The vectorized prefix-sum identity
    ``S_i = P_i - min(0, min_{j<=i} P_j)`` is mathematically exact but
    re-associates the sums once clamping occurs, so it cannot match
    the oracle bit-for-bit.) The streaming twin is an
    applyInPandasWithState with the single-float state (cf.
    [[stream_ewma_bounded]])."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")

    def cusum_partition(batches):
        step = np.frompyfunc(  # built here: frompyfunc is unpicklable
            lambda s, v: max(0.0, (s + v) - CUSUM_DRIFT), 2, 1
        )

        def trajectory(vals: "np.ndarray") -> "np.ndarray":
            return step.accumulate(
                np.concatenate(([0.0], vals)), dtype=np.object_
            )[1:].astype(np.float64)

        def run_segments(pdf: pd.DataFrame) -> pd.DataFrame:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy(dtype=np.float64)
            # contiguous user segments of the sorted partition
            starts = np.flatnonzero(np.r_[True, uids[1:] != uids[:-1]])
            ends = np.r_[starts[1:], len(uids)]
            out_u, out_n, out_mx, out_al = [], [], [], []
            for a, b in zip(starts, ends):
                s = trajectory(vals[a:b])
                out_u.append(int(uids[a]))
                out_n.append(int(b - a))
                out_mx.append(round_half_up(float(s.max(initial=0.0)), 6))
                out_al.append(int((s > CUSUM_ALARM).sum()))
            return pd.DataFrame(
                {
                    "user_id": out_u,
                    "n_events": out_n,
                    "max_cusum": out_mx,
                    "n_alarms": out_al,
                }
            )

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            last_uid = pdf["user_id"].iloc[-1]
            head = pdf[pdf["user_id"] != last_uid]
            carry = pdf[pdf["user_id"] == last_uid]
            if len(head):
                yield run_segments(head)
        if carry is not None and len(carry):
            yield run_segments(carry)

    sorted_e = e.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )
    return sorted_e.mapInPandas(
        cusum_partition,
        schema="user_id bigint, n_events bigint, max_cusum double, n_alarms bigint",
    )


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events),
    pairs AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
    SELECT from_type, to_type, n,
           round(n / (sum(n) OVER (PARTITION BY from_type) * 1.0), 6) AS p
    FROM pairs
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | current type). One window pass to form
    (from, to) pairs (shuffle on user_id), one partial-agg groupBy to
    counts, and the row-normalization window runs over the
    #types^2-row relation — the corpus is touched once. All-integer
    counts; the probability is an exact ratio rounded at the end."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / (F.sum("n").over(w_from).cast("double")), 6).alias("p"),
    )


@register(
    "events_retention_cohorts",
    """
    WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    f AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
    a AS (SELECT u.user_id, f.cohort,
                 datediff('day', f.cohort, u.wk) // 7 AS week_offset
          FROM uw u JOIN f USING (user_id)),
    per AS (SELECT cohort, week_offset, count(DISTINCT user_id) AS n_active
            FROM a GROUP BY cohort, week_offset),
    s AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort)
    SELECT strftime(per.cohort, '%Y-%m-%d') AS cohort_week,
           per.week_offset,
           per.n_active,
           s.cohort_size,
           round(per.n_active / s.cohort_size::DOUBLE, 6) AS retention
    FROM per JOIN s USING (cohort)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the ISO week of
    their first event; each (cohort, week-offset) cell reports how many
    cohort members were active that week and the retention share — the
    standard growth-analytics triangle.

    Scale shape: the event table collapses to DISTINCT (user, week)
    in one pass (partial-agg), first-week per user is one more groupBy
    of that already-collapsed relation, and everything after runs over
    #cohorts x #offsets rows. The user->cohort join shuffles the
    user-week relation once on user_id; at 100 TB both groupBys are
    map-side-combinable and nothing wider than (user_id, week) ever
    moves. No reference parity (SPARQL store has no event analytics) —
    beyond-parity pipeline operator."""
    e = table(spark, sf_dir, "events")
    uw = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = uw.join(first, "user_id").select(
        "user_id",
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("long").alias("week_offset"),
    )
    per = act.groupBy("cohort", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    size = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        per.join(size, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
    )


@register(
    "events_path_trigrams",
    """
    WITH s AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, count(*) AS n_paths
    FROM s WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral 3-gram mining: every consecutive event-type triple
    along each user's timeline, counted corpus-wide — the sequence-
    pattern extension of `events_markov_transitions` (2-grams / row
    transition probabilities). The result is the top-paths table a
    product-analytics "user flows" view reads.

    One window (partition user_id, order ts with event_id as the
    deterministic tie-break) producing two leads, then a partial-agg
    groupBy over at most |event_types|^3 keys. The window shuffle is
    the only data-sized movement and it reuses the per-user
    partitioning every sessionize/funnel operator already needs; at
    100 TB the trigram key space stays tiny so the final agg is
    map-side-combined down to nothing."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


@register(
    "events_time_to_convert",
    """
    WITH v AS (SELECT user_id, min(ts) AS t0
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tconv
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= v.t0
          GROUP BY e.user_id)
    SELECT p.user_id,
           (p.tconv - epoch_us(v.t0)) // 1000000 AS secs_to_convert
    FROM p JOIN v ON p.user_id = v.user_id
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user, whole seconds from their FIRST
    view to their first purchase at-or-after it — the latency
    companion to `events_funnel_steps` (which counts conversions;
    this one distributes them). Non-converting users drop out.

    Two partial-agg min-groupBys and one user-keyed join: the first-
    view relation is user-sized and joins back onto the purchase
    events on user_id (broadcast while it fits, AQE's call), so the
    event table is scanned twice but shuffled once, map-side-combined
    to per-user minima both times. All arithmetic is integer
    microseconds (epoch_us on both engines) with a final integer
    floor-div — no float timestamps anywhere, so no rounding
    divergence at 1e15 magnitudes."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min(epoch_us(F.col("ts"))).alias("tconv"), F.min(epoch_us(F.col("t0"))).alias("t0us"))
    )
    return p.select(
        "user_id",
        F.expr("(tconv - t0us) div 1000000").alias("secs_to_convert"),
    )


@register(
    "events_attribution_last_touch",
    """
    WITH ordered AS (
        SELECT event_id, user_id, event_type, ts,
               last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type
        FROM events)
    SELECT coalesce(touch_type, 'organic') AS touch_type,
           count(*) AS n_conversions,
           count(DISTINCT user_id) AS n_users
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRIOR touch event (click/view/signup); a
    purchase with no prior touch is 'organic'. The canonical sessionless
    attribution model every product-analytics stack ships.

    One window pass per user (the same partitionBy('user_id') shuffle
    every other per-user kernel here rides) with last(ignorenulls) over
    ROWS UNBOUNDED PRECEDING..1 PRECEDING — the carried touch is
    computed in-stream, never by a self-join of purchases against the
    touch history (which would re-shuffle events once per side and
    explode on high-activity users). Ties are impossible: the ordering
    key is (ts, event_id) and event_id is unique. The final aggregate
    is touch-type-sized (4 rows)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view", "signup"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch_type", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("organic")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_dau_wau_rolling",
    """
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    grid AS (SELECT user_id, d + x * INTERVAL 1 DAY AS wend
             FROM ud CROSS JOIN generate_series(0, 6) t(x)),
    wau AS (SELECT wend, count(DISTINCT user_id) AS wau_7d
            FROM grid JOIN days ON wend = days.d
            GROUP BY wend),
    dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau, wau_7d,
           round(dau * 1.0 / wau_7d, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.wend
    """,
)
def events_dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per calendar day, the distinct active users
    that day (DAU), in the trailing 7 days (WAU), and the DAU/WAU
    stickiness ratio. Rolling COUNT DISTINCT has no window-function
    form (distinct state can't slide), so the scale-correct plan is the
    day-grid scatter: events first collapse to distinct (user, day) —
    the ONLY pass over the raw table — then each user-day scatters to
    the ≤7 window-end days it supports (a bounded map-side explode of
    the already-deduped relation, 7x of a tiny frame, NOT 7x of the
    corpus), and a count-distinct groupBy lands per day. DAU is exact
    count(*) over the same deduped relation (one user-day row each).
    Window ends are restricted to days that exist in the data, so both
    engines emit the same day set."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    ud = ud.localCheckpoint()  # feeds grid, days and dau; scan once
    days = ud.select("d").distinct()
    grid = ud.select(
        "user_id",
        F.explode(F.expr("sequence(0, 6)")).alias("x"),
        "d",
    ).select("user_id", F.expr("d + make_interval(0, 0, 0, x)").alias("wend"))
    wau = (
        grid.join(days, grid.wend == days.d)
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, dau.d == wau.wend).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau_7d",
        F.round(F.col("dau") * F.lit(1.0) / F.col("wau_7d"), 6).alias("stickiness"),
    )


@register(
    "events_gini_concentration",
    """
    WITH pu AS (SELECT event_type, user_id, count(*) AS cnt
                FROM events GROUP BY 1, 2),
    rk AS (SELECT event_type, cnt,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt, user_id) AS i
           FROM pu)
    SELECT event_type,
           count(*)::BIGINT AS n_users,
           sum(cnt)::BIGINT AS n_events,
           round((2.0 * sum(i * cnt)::BIGINT) / (count(*) * sum(cnt)::BIGINT)
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM rk GROUP BY event_type
    """,
)
def events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity for each event type — the
    standard inequality readout ("do 1% of users generate 99% of
    clicks?") that decides per-user caps and skew salting upstream.
    Uses the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over counts
    sorted ascending.

    Events collapse to the per-(type, user) count relation in one
    partial-agg pass; the ranking window runs over THAT (users per
    type, not events), partitioned by type. The rank tie-break
    (cnt, user_id) is deterministic, and permuting equal counts leaves
    Σ(i·xᵢ) unchanged, so the score is engine-order-proof; every
    aggregate stays integer until the single final division."""
    ev = table(spark, sf_dir, "events")
    pu = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    rk = pu.select("event_type", "cnt", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    s = F.sum("cnt")
    si = F.sum(F.col("i") * F.col("cnt"))
    return rk.groupBy("event_type").agg(
        n.alias("n_users"),
        s.alias("n_events"),
        F.round(
            (F.lit(2.0) * si) / (n * s) - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
    )


@register(
    "events_survival_hazard",
    """
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
               max(ts) AS tmax
        FROM events GROUP BY user_id
        HAVING min(CASE WHEN event_type = 'signup' THEN ts END) IS NOT NULL),
    conv AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN u ON e.user_id = u.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= u.t0
        GROUP BY e.user_id),
    durs AS (
        SELECT u.user_id,
               CASE WHEN t1 IS NOT NULL
                    THEN (epoch_us(t1) - epoch_us(t0)) // 3600000000
                    ELSE (epoch_us(tmax) - epoch_us(t0)) // 3600000000
               END AS dur_h,
               CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM u LEFT JOIN conv ON u.user_id = conv.user_id),
    hist AS (
        SELECT dur_h, count(*) AS n_all, sum(is_event)::BIGINT AS d
        FROM durs GROUP BY dur_h),
    risk AS (
        SELECT dur_h, d,
               sum(n_all) OVER (ORDER BY dur_h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   ::BIGINT AS n_at_risk
        FROM hist),
    steps AS (
        SELECT dur_h, d, n_at_risk,
               round(CAST(d AS DOUBLE) / n_at_risk, 6)::DECIMAL(18,6)
                   AS hazard
        FROM risk WHERE d > 0)
    SELECT dur_h AS t_hours, d AS n_events, n_at_risk,
           CAST(hazard AS DOUBLE) AS hazard,
           CAST(sum(hazard) OVER (ORDER BY dur_h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum_hazard
    FROM steps ORDER BY t_hours
    """,
)
def events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator for signup -> purchase
    conversion, with right-censoring at the user's last observed event.
    Survival analysis is the principled answer to "how long until
    users convert" when many never have — naive averages over
    converters only are biased; the risk-set construction here is not.
    (The Kaplan-Meier survival curve is exp(-H(t)) to first order; the
    cumulative hazard is reported because it is a SUM, which both
    engines compute exactly — see below — where KM's running PRODUCT
    is not available as an exact aggregate in either.)

    Scale shape: one user_id shuffle builds (t0, tmax) per user, a
    second attaches the first qualifying purchase, then everything
    collapses to the duration HISTOGRAM — all window work (the reverse
    cumulative risk set, the cumulative hazard) runs over
    distinct-duration rows, not users, on a single partition of
    histogram size (bounded by the observation span in hours, ~60k
    rows at 7 years, regardless of user count).

    Determinism: d and n_at_risk are integers (reverse-cumulative
    window sums of counts); each hazard step d/n is one double
    division rounded half-up to 6dp on both engines; the CUMULATIVE
    hazard sums those steps as exact DECIMAL(18,6) — so the running
    sum is association-order-proof and the two engines agree bit-for-
    bit, where a double running sum would hash-flip on window
    aggregation order."""
    ev = table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0"),
            F.max("ts").alias("tmax"),
        )
        .filter(F.col("t0").isNotNull())
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u.select("user_id", "t0"), "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    durs = (
        u.join(conv, "user_id", "left")
        .select(
            F.when(
                F.col("t1").isNotNull(),
                (epoch_us(F.col("t1")) - epoch_us(F.col("t0"))),
            )
            .otherwise(epoch_us(F.col("tmax")) - epoch_us(F.col("t0")))
            .alias("dur_us"),
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("is_event"),
        )
        .select(
            F.expr("dur_us DIV 3600000000").alias("dur_h"), "is_event"
        )
    )
    hist = durs.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("is_event").alias("d")
    )
    w_risk = Window.orderBy("dur_h").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    steps = (
        hist.withColumn("n_at_risk", F.sum("n_all").over(w_risk))
        .filter(F.col("d") > 0)
        .withColumn(
            "hazard",
            F.round(F.col("d").cast("double") / F.col("n_at_risk"), 6).cast(
                "decimal(18,6)"
            ),
        )
    )
    w_cum = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return steps.select(
        F.col("dur_h").alias("t_hours"),
        F.col("d").alias("n_events"),
        "n_at_risk",
        F.col("hazard").cast("double").alias("hazard"),
        F.sum("hazard").over(w_cum).cast("double").alias("cum_hazard"),
    ).orderBy("t_hours")


@register(
    "events_winsorized_mean",
    """
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           round(p05, 4) AS p05,
           round(p95, 4) AS p95,
           count(*) AS n_events,
           round(CAST(sum(round(least(greatest(e.value, p05), p95), 6)
                           ::DECIMAL(18,6)) AS DOUBLE)
                 / count(*), 4) AS winsorized_mean
    FROM events e JOIN pct ON e.event_type = pct.event_type
    GROUP BY e.event_type, p05, p95
    ORDER BY e.event_type
    """,
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean: clamp values into the
    [p05, p95] band, then average — the standard robust location
    estimate for long-tailed pipeline metrics (a handful of huge
    payloads shouldn't move a monitoring mean; dropping them outright
    (trimming) discards real signal; winsorizing caps them).

    Scale shape: exact per-group percentiles are one sort-based
    aggregate over events (the documented exact/approx trade of
    events_exact_quantiles applies — swap percentile_approx in at
    open-world group counts); the resulting (event_type, p05, p95)
    relation is group-count-sized and broadcasts back into the fact
    for the clamp+mean pass. Two passes over events, both partial-agg.

    Determinism: Spark's sort-based `percentile` and DuckDB's
    quantile_cont share the linear-interpolation definition, so both
    engines clamp against identical doubles; each clamped value is
    rounded half-up to 6dp and summed as exact DECIMAL(18,6) (the
    association-order-proof trick), divided once by the integer count,
    rounded once."""
    ev = table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = F.round(
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")), 6
    ).cast("decimal(18,6)")
    return (
        ev.join(F.broadcast(pct), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(clipped).cast("double") / F.count(F.lit(1)), 4
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "n_events",
            "winsorized_mean",
        )
        .orderBy("event_type")
    )


@register(
    "events_percent_change_wow",
    """
    WITH wk AS (
        SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d')
                   AS week_start,
               count(*) AS n_events
        FROM events GROUP BY 1, 2)
    SELECT event_type, week_start, n_events,
           round((n_events - lag(n_events) OVER w) * 100.0
                 / lag(n_events) OVER w, 4) AS pct_change
    FROM wk
    WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    ORDER BY event_type, week_start
    """,
)
def events_percent_change_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week percent change of event volume per type — the
    growth-rate readout every periodic pipeline-health report derives
    from its rollups (the first week of each type is NULL on both
    engines, not 0: there is no prior week to compare).

    One partial-agg groupBy collapses events to (type, week) counts;
    the lag window then runs over that rollup relation (weeks x types
    rows, trivially bounded), never over raw events. Both engines
    truncate weeks to the same Monday boundary; the change ratio is a
    single double division of exact counts, rounded once."""
    ev = table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week_start"
        ),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n_events").over(w)
    return wk.select(
        "event_type",
        "week_start",
        "n_events",
        F.round((F.col("n_events") - prev) * 100.0 / prev, 4).alias("pct_change"),
    ).orderBy("event_type", "week_start")


@register(
    "events_power_users_percentile",
    """
    WITH per_user AS (
        SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
    thr AS (SELECT quantile_cont(n_events, 0.95) AS p95 FROM per_user)
    SELECT user_id, n_events, round(p95, 4) AS p95_threshold
    FROM per_user, thr
    WHERE n_events > p95
    ORDER BY n_events DESC, user_id
    """,
)
def events_power_users_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user extraction: accounts above the 95th percentile of
    event volume — the heavy-account slice ops teams pull for skew
    planning (these ARE the keys that make a user_id shuffle skewed;
    feeding this into join salting closes the loop) and abuse review.

    Events collapse to the per-user count relation in one partial-agg
    pass; the p95 threshold is a 1-row aggregate over THAT relation
    joined back by broadcast (the scalar-subquery shape of tpch_q11/
    q15 — never a driver collect); interpolated percentiles over
    integer counts are the established cross-engine parity
    (agg_percentiles)."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    thr = per_user.agg(F.expr("percentile(n_events, 0.95)").alias("p95"))
    return (
        per_user.join(F.broadcast(thr))
        .filter(F.col("n_events") > F.col("p95"))
        .select("user_id", "n_events", F.round("p95", 4).alias("p95_threshold"))
        .orderBy(F.desc("n_events"), "user_id")
    )


CM_DEPTH = 4
CM_WIDTH = 64
CM_TOPK = 10


@register(
    "events_count_min_heavy_hitters",
    f"""
    WITH hashed AS (
        SELECT e.user_id, j.j,
               ('0x' || substr(md5(j.j || '_' || e.user_id), 1, 8))::BIGINT
                   % {CM_WIDTH} AS bucket
        FROM events e, generate_series(0, {CM_DEPTH - 1}) j(j)),
    counters AS (
        SELECT j, bucket, count(*)::BIGINT AS c
        FROM hashed GROUP BY j, bucket),
    est AS (
        SELECT h.user_id, min(c.c) AS cm_estimate
        FROM (SELECT DISTINCT user_id, j, bucket FROM hashed) h
        JOIN counters c ON c.j = h.j AND c.bucket = h.bucket
        GROUP BY h.user_id),
    truth AS (
        SELECT user_id, count(*) AS true_count FROM events GROUP BY user_id)
    SELECT t.user_id, t.true_count, e.cm_estimate
    FROM truth t JOIN est e ON e.user_id = t.user_id
    ORDER BY t.true_count DESC, t.user_id LIMIT {CM_TOPK}
    """,
)
def events_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with the exact counts alongside: build a
    4 x 64 counter sketch of per-user event volume in one pass, then
    read each user's estimate (min over the 4 hash rows) next to the
    true count. The CM sketch is THE mergeable bounded-memory
    frequency summary for streams too hot to count exactly — this
    entry both demonstrates the distributed build (the sketch is a
    256-row relation, mergeable by cell-wise + across shards/batches)
    and quantifies its overestimation against ground truth on the
    top-10 heavy hitters (CM never underestimates; the KMV entry is
    its distinct-count sibling).

    Scale shape: the build is one groupBy over (row, bucket) — 256
    cells regardless of user count; the readout joins each DISTINCT
    user's 4 cells against those 256 rows (broadcastable always); the
    exact side is the ordinary per-user count whose top-10 is
    TakeOrderedAndProject. Everything is integer; the md5 row-hashes
    are the engine-portable idiom.

    Each event lands in exactly one bucket per hash row, so the
    (row, bucket) cell counts ARE the per-row counters — the 4-row
    union needs no normalization."""
    ev = table(spark, sf_dir, "events")
    j = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j")
    hashed = ev.select("user_id", j).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("j"), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % CM_WIDTH,
    )
    counters = hashed.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    est = (
        hashed.select("user_id", "j", "bucket")
        .distinct()
        .join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cm_estimate"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    return (
        truth.join(est, "user_id")
        .select("user_id", "true_count", "cm_estimate")
        .orderBy(F.desc("true_count"), "user_id")
        .limit(CM_TOPK)
    )


HOLT_ALPHA = 0.5
HOLT_BETA = 0.3


@register(
    "events_holt_linear_trend",
    f"""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2),
    numbered AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
    holt AS (
        SELECT event_type, day, n, rn,
               n::DOUBLE AS level, 0.0::DOUBLE AS trend
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT event_type, day, n, rn,
               {HOLT_ALPHA} * n + {1 - HOLT_ALPHA} * (plevel + tin) AS level,
               {HOLT_BETA} * (({HOLT_ALPHA} * n + {1 - HOLT_ALPHA} * (plevel + tin))
                              - plevel) + {1 - HOLT_BETA} * tin AS trend
        FROM (
            SELECT o.event_type, o.day, o.n, o.rn, h.level AS plevel,
                   CASE WHEN o.rn = 2 THEN o.n::DOUBLE - h.level
                        ELSE h.trend END AS tin
            FROM holt h
            JOIN numbered o
              ON o.event_type = h.event_type AND o.rn = h.rn + 1))
    SELECT event_type, day, n,
           round(level, 4) AS level,
           round(trend, 4) AS trend,
           round(level + trend, 4) AS forecast_next
    FROM holt ORDER BY event_type, day
    """,
)
def holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing of daily event
    volume per type: level and trend recursions over the day series,
    plus the one-step-ahead forecast — the classic capacity-planning
    smoother one notch up from the plain EWMA (which has no trend
    term and lags ramps).

    Oracle (registered round 7): the recursion is the CUSUM-oracle
    recursive-CTE pattern over the DAILY rollup — bounded by the
    observation span, so the CTE is cheap. Both engines carry the
    UNROUNDED (level, trend) state and evaluate the update with the
    identical float dag (alpha*y + (1-alpha)*(level+trend_in), then
    beta*(new_level-level) + (1-beta)*trend_in), so the trajectories
    are bit-identical; emission rounds HALF_UP to 4dp on both sides.
    Pytest gate: tests/test_holt_trend.py.

    Scale shape: events collapse to the (type, day, count) rollup in
    one partial-agg pass — the sequential recursion runs over THAT
    bounded relation (days x types rows) inside one grouped kernel,
    the same repartition + in-partition-sequential design as the CUSUM
    segment kernel. Initialization: level = first day's count, trend =
    second minus first (standard two-point init).

    Determinism: the recursion is a fixed left-to-right float
    trajectory over rows sorted by day (ties impossible — day is the
    group key). Emission rounds with round_like_duckdb, NOT
    round_half_up: integer counts times the finite-decimal 0.5/0.3
    coefficients make the real-arithmetic trajectory land on exact
    4dp boundaries SYSTEMATICALLY, where the shortest-repr HALF_UP and
    DuckDB's multiply-then-std::round disagree (caught at sf0.001:
    level 13.83885 exactly — see rounding.round_like_duckdb)."""
    from ..rounding import round_like_duckdb

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def fn(pdf):
        pdf = pdf.sort_values("day", kind="mergesort").reset_index(drop=True)
        level, trend = None, None
        out_level, out_trend, out_fc = [], [], []
        for i, row in pdf.iterrows():
            y = float(row["n"])
            if i == 0:
                level, trend = y, 0.0
            else:
                if i == 1:
                    # two-point trend init — keyed to the row INDEX, not
                    # a trend==0.0 float sentinel (ADVICE r06: an equal
                    # first pair would silently skip the init)
                    trend = y - level
                fc = level + trend
                new_level = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * fc
                trend = HOLT_BETA * (new_level - level) + (1 - HOLT_BETA) * trend
                level = new_level
            out_level.append(round_like_duckdb(level, 4))
            out_trend.append(round_like_duckdb(trend, 4))
            out_fc.append(round_like_duckdb(level + trend, 4))
        pdf["level"] = out_level
        pdf["trend"] = out_trend
        pdf["forecast_next"] = out_fc
        return pdf[["event_type", "day", "n", "level", "trend", "forecast_next"]]

    return (
        daily.repartition("event_type")
        .groupBy("event_type")
        .applyInPandas(
            fn,
            schema="event_type string, day string, n bigint, "
            "level double, trend double, forecast_next double",
        )
        .orderBy("event_type", "day")
    )


HLL_REGS = 256      # b = 8 bucket bits -> 2^8 registers
HLL_RHO_HEX = 12    # 48 bits examined for the leading-zero run


@register(
    "events_hll_registers",
    f"""
    WITH h AS (
        SELECT md5(user_id::VARCHAR) AS hx FROM events),
    parts AS (
        SELECT ('0x' || substr(hx, 1, 2))::BIGINT AS register,
               substr(hx, 3, {HLL_RHO_HEX}) AS tail
        FROM h),
    rho AS (
        SELECT register,
               4 * ({HLL_RHO_HEX} - len(ltrim(tail, '0')))
               + CASE substr(ltrim(tail, '0'), 1, 1)
                     WHEN '1' THEN 3
                     WHEN '2' THEN 2 WHEN '3' THEN 2
                     WHEN '4' THEN 1 WHEN '5' THEN 1
                     WHEN '6' THEN 1 WHEN '7' THEN 1
                     ELSE 0 END
               + 1 AS rho
        FROM parts)
    SELECT register, max(rho) AS max_rho, count(*) AS n_hashes
    FROM rho GROUP BY register
    """,
)
def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register relation over the event-stream user ids:
    md5 the key, route on the first 8 hash bits, and keep per register
    the maximum rho (position of the first 1-bit in the next 48 bits).
    The 256-row (register, max_rho) relation IS the HLL sketch — the
    canonical mergeable distinct-count summary (union = cell-wise MAX
    across shards/batches/days, the property KMV's k-smallest set
    shares but counter sketches lack). The estimate readout
    (alpha_256 * 256^2 / sum 2^-M_j) is driver-side arithmetic over
    256 ints; this entry registers the sketch build itself so the
    value hash pins every register.

    rho is computed with pure string ops (leading-'0' trim over the
    hex tail + a 16-way CASE on the first nonzero hex char), NOT
    floor(log2): identical down to the last bit on both engines,
    where log2's boundary ulps could differ. Scale shape: map-only
    hash/route + one 256-cell partial agg — the shuffle carries at
    most 256 rows per map partition regardless of input size.
    Sibling of events_approx_distinct_kmv (KMV) and
    events_count_min_heavy_hitters (frequency)."""
    ev = table(spark, sf_dir, "events")
    hx = F.md5(F.col("user_id").cast("string"))
    tail = F.substring(hx, 3, HLL_RHO_HEX)
    trimmed = F.expr(f"trim(LEADING '0' FROM substring(md5(CAST(user_id AS STRING)), 3, {HLL_RHO_HEX}))")
    first = F.substring(trimmed, 1, 1)
    bits = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = 4 * (HLL_RHO_HEX - F.length(trimmed)) + bits + 1
    return (
        ev.select(
            F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("register"),
            rho.alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"), F.count(F.lit(1)).alias("n_hashes"))
    )
