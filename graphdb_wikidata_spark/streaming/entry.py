"""Driver-contract entries for the streaming operators: each runs the
real Structured Streaming pipeline to completion on the finite testdata
(Trigger.availableNow -> memory sink) so the DuckDB oracle can
hash-match the result — the streaming answer on a finite replay must
equal the batch answer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported
from .streams import (
    dedup_within_watermark,
    events_stream,
    run_available_now,
    running_user_totals,
    session_stats,
    static_enriched_counts,
    stream_interval_join,
    tumbling_counts,
)


SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "stream_tumbling_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_available_now(tumbling_counts(events_stream(spark, sf_dir)))
    return df.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "stream_static_enrich",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment + windowed agg (see
    streams.static_enriched_counts): the streaming result on the
    finite replay must equal the batch join+group answer."""
    from ..tables import table

    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    df = run_available_now(static_enriched_counts(events_stream(spark, sf_dir), dim))
    return df.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "c_mktsegment",
        "n",
        "sum_value",
    )


@register(
    "stream_sliding_avg",
    """
    WITH s AS (SELECT e.*,
                      time_bucket(INTERVAL '15 minutes', ts)
                        - k.k * INTERVAL '15 minutes' AS win_start
               FROM events e, generate_series(0, 3) k(k))
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n,
           sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
    FROM s GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour windows sliding every 15 minutes (streaming
    form of the batch events_sliding): each event expands into its 4
    covering windows before the (window, type) partial agg; state is
    bounded by the watermark horizon times the 4x window overlap."""
    from .streams import sliding_avg

    df = run_available_now(sliding_avg(events_stream(spark, sf_dir)))
    return df.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "stream_interval_join",
    """
    SELECT p.event_id AS eid, c.event_id AS click_eid
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def stream_interval_join_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join on a finite replay must equal
    the batch interval join."""
    return run_available_now(
        stream_interval_join(events_stream(spark, sf_dir)), output_mode="append"
    )


@register(
    "stream_dedup_exact",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup on event_id; ids are unique in the
    synthetic data, so the result is the full event set."""
    df = run_available_now(
        dedup_within_watermark(events_stream(spark, sf_dir)), output_mode="append"
    )
    return df.select("event_id", "user_id", "event_type")


@register(
    "stream_running_totals",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user lifetime totals; the final
    update per user equals the batch aggregate."""
    return run_available_now(
        running_user_totals(events_stream(spark, sf_dir)),
        output_mode="update",
        last_update_keys=["user_id"],
        emission_ordinal="n_events",
    )


@register(
    "stream_session_stats",
    f"""
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                    >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
        FROM events),
    s AS (
        SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_available_now(session_stats(events_stream(spark, sf_dir)))
    return df.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )


def _minhash_lsh_oracle() -> str:
    from ..operators.dedup import ORACLES as DEDUP_ORACLES

    return DEDUP_ORACLES["dedup_minhash_lsh"]


@register("stream_neardup_candidates", _minhash_lsh_oracle())
def stream_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: documents ARRIVE as a stream and
    collide against a batch-built LSH band index of the corpus
    (streams.neardup_candidates_stream). On the finite replay every doc
    streams past the full index, so the emitted pair set equals the
    batch dedup_minhash_lsh candidates — same oracle, bit-for-bit."""
    from ..operators.dedup import _shingled, minhash_bands
    from .streams import documents_stream, neardup_candidates_stream

    static_bands = minhash_bands(_shingled(spark, sf_dir))
    return run_available_now(
        neardup_candidates_stream(documents_stream(spark, sf_dir), static_bands),
        output_mode="append",
    )


def _ewma_oracle() -> str:
    from ..operators.events import ORACLES as EVENTS_ORACLES

    return EVENTS_ORACLES["events_ewma_bounded"]


@register("stream_ewma_bounded", _ewma_oracle())
def stream_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bounded EWMA as a stateful stream (streams.ewma_bounded
    _stream): fixed 8-value ring state per user, one output row per
    arriving event; finite replay equals the batch window operator, so
    it shares events_ewma_bounded's oracle verbatim."""
    from .streams import ewma_bounded_stream

    return run_available_now(
        ewma_bounded_stream(events_stream(spark, sf_dir)), output_mode="append"
    )


def _topk_hitters_oracle(k: int) -> str:
    # Sequential replay of the Space-Saving summary as a recursive CTE:
    # one recursion step per event (per type, all types advancing in
    # lockstep), state carried as the (users, counts) list pair. The
    # update arm mirrors streams._topk_fn exactly: found -> increment;
    # room -> append with count 1; full -> evict the smallest-user_id
    # holder of the minimum count, the newcomer inheriting min+1. The
    # ordered relation is MATERIALIZED so the recursion's per-step join
    # doesn't recompute the row_number window every iteration (3.8x).
    return f"""
    WITH RECURSIVE ordered AS MATERIALIZED (
        SELECT event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    totals AS (SELECT event_type, max(rn) AS n_seen
               FROM ordered GROUP BY event_type),
    ss AS (
        SELECT event_type, CAST(0 AS BIGINT) AS rn,
               []::BIGINT[] AS users, []::BIGINT[] AS counts
        FROM totals
        UNION ALL
        SELECT event_type, rn,
               CASE WHEN pos > 0 THEN users
                    WHEN len(users) < {k} THEN list_append(users, u)
                    ELSE list_transform(users, (x, i) ->
                         CASE WHEN i = vidx THEN u ELSE x END)
               END AS users,
               CASE WHEN pos > 0 THEN list_transform(counts, (c, i) ->
                         CASE WHEN i = pos THEN c + 1 ELSE c END)
                    WHEN len(users) < {k}
                         THEN list_append(counts, CAST(1 AS BIGINT))
                    ELSE list_transform(counts, (c, i) ->
                         CASE WHEN i = vidx THEN mn + 1 ELSE c END)
               END AS counts
        FROM (
            SELECT s.event_type, o.rn, s.users, s.counts,
                   o.user_id AS u,
                   list_position(s.users, o.user_id) AS pos,
                   list_min(s.counts) AS mn,
                   list_position(
                       s.users,
                       list_min(list_transform(
                           list_filter(list_zip(s.users, s.counts),
                                       z -> z[2] = list_min(s.counts)),
                           z -> z[1]))) AS vidx
            FROM ss s JOIN ordered o
              ON o.event_type = s.event_type AND o.rn = s.rn + 1) AS step),
    final AS (
        SELECT s.event_type, s.users, s.counts, t.n_seen
        FROM ss s JOIN totals t
          ON t.event_type = s.event_type AND s.rn = t.n_seen),
    flat AS (
        SELECT event_type, n_seen,
               unnest(users) AS user_id, unnest(counts) AS est_count
        FROM final)
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY est_count DESC, user_id)
                AS INT) AS rank,
           user_id, est_count, n_seen
    FROM flat
    """


from .streams import TOPK_K as _TOPK_K  # noqa: E402 - oracle/kernel constant must be shared


@register("stream_topk_hitters", _topk_hitters_oracle(_TOPK_K))
def stream_topk_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-Saving streaming top-k (streams.topk_hitters): K=10
    counters per event type, bounded state regardless of user
    cardinality. The single-file replay processes each type's rows
    once in (ts, event_id) order, so the final summary is the exact
    sequential Space-Saving state — which the oracle replays
    step-by-step as a recursive CTE (the CUSUM oracle discipline,
    lifted from a float to the bounded counter-list state)."""
    from .streams import topk_hitters

    return run_available_now(
        topk_hitters(events_stream(spark, sf_dir)),
        output_mode="update",
        last_update_keys=["event_type", "rank"],
        emission_ordinal="n_seen",
    )


def _cusum_oracle() -> str:
    from ..operators.events import ORACLES as EVENTS_ORACLES

    return EVENTS_ORACLES["events_cusum_alerts"]


@register("stream_cusum_alerts", _cusum_oracle())
def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM as a stateful stream (streams.cusum_alerts_stream):
    one float of state per key, update-mode emission; the final update
    per user after the finite replay equals the batch recurrence, so it
    shares events_cusum_alerts' recursive-CTE oracle verbatim."""
    from .streams import cusum_alerts_stream

    return run_available_now(
        cusum_alerts_stream(events_stream(spark, sf_dir)),
        output_mode="update",
        last_update_keys=["user_id"],
        emission_ordinal="n_events",
    )


def _hll_oracle() -> str:
    from ..operators.events import ORACLES as EVENTS_ORACLES

    return EVENTS_ORACLES["events_hll_registers"]


@register("stream_hll_registers", _hll_oracle())
def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL sketch (streams.hll_registers_stream): 256
    registers of (max rho, n) state folded under
    applyInPandasWithState. Cell-wise MAX is the HLL merge, so the
    final update per register equals the batch sketch exactly —
    this entry shares events_hll_registers' oracle VERBATIM, making
    the mergeability claim a hashed driver check, not prose.
    n_hashes is per-register cumulative, hence the emission ordinal."""
    from .streams import hll_registers_stream

    return run_available_now(
        hll_registers_stream(events_stream(spark, sf_dir)),
        output_mode="update",
        last_update_keys=["register"],
        emission_ordinal="n_hashes",
    )
