"""As-of (point-in-time) join — a training-pipeline staple the
reference lacks (SURVEY §2.3: "No hash-join, range/as-of/interval, or
theta-join machinery exists in the reference").

Spark has no ASOF JOIN primitive; the naive formulation (inequality
join + greatest-timestamp filter) is a range join that explodes to
|left|x|right| per key. The scale path used here is union-tag +
window: tag both sides, union, one window pass per key ordered by
(ts, side) taking the last right-side payload at-or-before each left
row. ONE shuffle on the key, no row explosion — survives 100 TB where
a broadcast-nested-loop range join dies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import epoch_us, table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts: str = "ts",
    by: Sequence[str] = ("user_id",),
    strict: bool = False,
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the payload columns of
    the latest ``right`` row of the same ``by`` key with ``right.ts <=
    left.ts`` (``<`` when ``strict``); no match -> nulls (left outer).

    ``right``'s non-key, non-ts columns are the payload and must not
    collide with ``left``'s columns (alias them first). Ties: if
    ``right`` has several rows at the same (by, ts) the winner is
    undefined — pre-deduplicate or extend the ordering.
    """
    key = set(by) | {ts}
    payload = [c for c in right.columns if c not in key]
    collide = set(payload) & set(left.columns)
    if collide:
        raise ValueError(f"as-of payload columns collide with left: {sorted(collide)}")
    # side 0 sorts before side 1 at equal ts -> inclusive backward match;
    # strict mode ends the frame one row early only for same-ts rights,
    # which a (-inf, -1) frame over (ts, side) ordering gets wrong for
    # DIFFERENT-ts rights, so strict instead orders rights after lefts
    side_right = 1 if strict else 0
    u = left.withColumn("__side", F.lit(1 - side_right)).unionByName(
        right.withColumn("__side", F.lit(side_right)), allowMissingColumns=True
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumns({c: F.last(c, ignorenulls=True).over(w) for c in payload})
    return u.filter(F.col("__side") == (1 - side_right)).drop("__side")


def range_join(
    left: DataFrame,
    right: DataFrame,
    ts: str = "ts",
    by: Sequence[str] = ("user_id",),
    lower_s: float = -3600.0,
    upper_s: float = 0.0,
) -> DataFrame:
    """Interval join: pairs (left, right) of the same ``by`` key with
    ``left.ts + lower_s <= right.ts <= left.ts + upper_s`` (seconds).

    The naive inequality join is a per-key cross product. Scale path:
    bucketize time into windows of width (upper_s - lower_s); each left
    row expands to the <=2 buckets its interval can touch, the right
    side maps to exactly one bucket, the join runs on (key, bucket) and
    an exact post-filter trims the edges. Fan-out is bounded at 2x
    regardless of data volume. Right's payload columns must not collide
    with left's.
    """
    if not upper_s > lower_s:
        raise ValueError("need upper_s > lower_s")
    key = set(by) | {ts}
    collide = {c for c in right.columns if c not in key} & set(left.columns)
    if collide:
        raise ValueError(f"range-join payload columns collide with left: {sorted(collide)}")
    w_us = int((upper_s - lower_s) * 1_000_000)
    lo_us, hi_us = int(lower_s * 1_000_000), int(upper_s * 1_000_000)
    lt, rt = epoch_us(F.col(ts)), epoch_us(F.col(f"__r_{ts}"))
    l2 = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((lt + F.lit(lo_us)) / F.lit(w_us)),
                F.floor((lt + F.lit(hi_us)) / F.lit(w_us)),
            )
        ),
    )
    r2 = right.withColumnRenamed(ts, f"__r_{ts}").withColumn(
        "__bucket", F.floor(rt / F.lit(w_us))
    )
    pairs = l2.join(r2, on=[*by, "__bucket"], how="inner").filter(
        (rt >= lt + F.lit(lo_us)) & (rt <= lt + F.lit(hi_us))
    )
    return pairs.drop("__bucket")


@register(
    "events_range_join_counts",
    """
    SELECT l.event_id AS eid,
           count(r.event_id) AS n_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
    GROUP BY l.event_id
    """,
)
def events_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks in the hour before each purchase (bounded-fanout
    bucketized range join; zero-match purchases kept via a count join
    back to the left side)."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_eid")
    )
    pairs = range_join(purchases, clicks, ts="ts", by=("user_id",), lower_s=-3600.0, upper_s=0.0)
    counts = pairs.groupBy("event_id").agg(F.count("click_eid").alias("n_clicks"))
    return (
        purchases.join(counts, "event_id", "left")
        .select(
            F.col("event_id").alias("eid"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        )
    )


@register(
    "events_asof_join",
    """
    SELECT l.event_id AS eid, l.user_id AS u,
           r.event_id AS click_eid, round(r.value, 2) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the user's latest at-or-before click
    (attribution shape). Oracle is DuckDB's native ASOF LEFT JOIN."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_eid"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(purchases, clicks, ts="ts", by=("user_id",))
    return out.select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("u"),
        "click_eid",
        F.round("click_value", 2).alias("click_value"),
    )
