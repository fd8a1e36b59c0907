"""Structured Streaming operators over the ``events`` stream.

The reference has NO streaming surface (SURVEY §2.10) — these are the
north-star extensions, built on Spark's native streaming semantics:
file source -> watermarked event-time windows / stateful operators ->
any sink. Every operator takes and returns a (streaming) DataFrame, so
the same transformations compose onto Kafka or rate sources in
production; tests drive them with Trigger.availableNow into a memory
sink and cross-check against the batch equivalents.

Scale notes: windowed aggregations shuffle on (window, key) — state
store size is bounded by the watermark horizon, not the stream length;
``running_user_totals`` keys state by user_id so state scales with the
user population and partitions across executors. No driver-side
collection anywhere.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rounding import round_half_up

def events_stream(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The events table as a file-source stream (one parquet today; a
    directory of arriving files in production).

    ``path`` overrides the source location (e.g. a multi-part copy for
    multi-batch replay tests); ``max_files_per_trigger`` caps files per
    micro-batch, forcing a multi-batch availableNow replay.

    The stream schema is taken from the batch reader, so whichever way
    the testdata generation stored ``ts`` — TIMESTAMP(NANOS) (arrives
    as bigint nanos under nanosAsLong; rebuild micros like
    tables.table) or plain micros (arrives as TIMESTAMP_NTZ; use as
    is) — the stream sees the same event-time column as the batch
    twin it is cross-checked against."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = path or os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        # Spark-written dataset: events.parquet IS a directory of part
        # files — stream it directly (a glob filter on the parent would
        # match the directory name, not the files, and read nothing)
        raw = reader.load(path)
    else:
        # single-file testdata: file stream sources need a directory,
        # so point at the sf dir and glob-filter to the events file
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)"))
        )
    elif ts_type == "timestamp_ntz":
        # watermarks are TIMESTAMP-only in Spark (EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE); NTZ -> LTZ via the session timezone, which is
        # UTC here, so the instant equals the naive value — identical to
        # the nanos path above
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source stream — the incremental
    corpus-ingest shape (a crawler dropping parquet files into a
    directory)."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", "documents.parquet").load(sf_dir)


def neardup_candidates_stream(doc_stream: DataFrame, static_bands: DataFrame) -> DataFrame:
    """Streaming near-dup detection against a static corpus index: each
    arriving document's LSH band keys (computed PER ROW —
    dedup.rowwise_minhash_bands — so the stream side carries no
    aggregation state) join the batch-built band index; a collision in
    any band flags the pair. Output: distinct (doc_a=indexed doc,
    doc_b=arriving doc) with doc_a < doc_b.

    Scale shape: stream-static join per micro-batch; the static index
    is the corpus-sized side and partitions across executors (or
    broadcasts when small — AQE per batch); per-batch stream state is
    nothing, dropDuplicates state is bounded by the emitted pair set
    (watermark it in production by a stream-side arrival time)."""
    from ..operators.dedup import rowwise_minhash_bands

    sb = rowwise_minhash_bands(doc_stream).withColumnRenamed("doc_id", "doc_b")
    idx = (
        static_bands.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("band", "band_i")
        .withColumnRenamed("band_key", "band_key_i")
    )
    return (
        sb.join(
            idx,
            (sb["band"] == idx["band_i"])
            & (sb["band_key"] == idx["band_key_i"])
            & (idx["doc_a"] < sb["doc_b"]),
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """1-hour tumbling windows per event_type; late rows beyond the
    watermark are dropped, state for closed windows is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w").start.alias("win_start"), "event_type", "n", "sum_value")
    )


def static_enriched_counts(
    events: DataFrame, dim: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-static enrichment: each micro-batch joins the stream
    against a STATIC dimension (broadcast — no stream-side state for
    the join, unlike stream-stream joins), then aggregates per
    (1-hour window, customer segment). The canonical "enrich events
    with a dimension table" deployment shape; the dimension is re-read
    per batch in production (picking up slowly-changing updates)
    without restarting the query."""
    e = events.withWatermark("ts", watermark)
    joined = e.join(F.broadcast(dim), e["user_id"] == dim["c_custkey"])
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w").start.alias("win_start"), "c_mktsegment", "n", "sum_value")
    )


def sliding_avg(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """1-hour windows sliding every 15 minutes — each event lands in 4
    windows; Spark expands then aggregates (shuffle on window+type).

    Emits count + EXACT-decimal sum rather than a rounded float
    average: with ~14k groups a handful of quotients land exactly on
    the round-half boundary, where even the same IEEE double rounds
    differently across engines (Spark's BigDecimal HALF_UP vs DuckDB's
    scale-multiply — caught by the sf0.1 oracle sweep). sum/count is
    derivable; only the division result is not cross-engine-stable."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w").start.alias("win_start"), "event_type", "n", "sum_value")
    )


def session_stats(events: DataFrame, gap: str = "30 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based) — the streaming-native form
    of the batch gaps-and-islands sessionization (operators/events.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w").start.alias("session_start"),
            F.col("w").end.alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding hour. Both sides are watermarked so
    the engine can bound join state: a buffered click can be evicted
    once the purchase-side watermark passes click.ts + 1h — without the
    time bound, stream-stream join state grows forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_eid"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("eid"))
        .withWatermark("ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND c_ts >= ts - INTERVAL 1 HOUR AND c_ts <= ts"
        ),
        "inner",
    ).select("eid", "click_eid")


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once by event_id within the watermark horizon: the
    streaming analogue of exact dedup — state holds only ids newer than
    the watermark, so memory is bounded for unbounded streams."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_TOTALS_STATE = "n bigint, total double"


def _make_totals_fn(ttl_ms: int | None):
    """Build the per-group state function; with a TTL, idle keys are
    EVICTED — state size tracks the active key set, not the lifetime
    key population (the difference between bounded and unbounded state
    on a 100 TB stream whose key space grows forever)."""

    def _totals_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            # no events for TTL: drop the state, emit nothing — the
            # user's totals were already emitted on their last batch
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if ttl_ms is not None:
            # activity resets the clock (sliding idle-timeout policy)
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round_half_up(total, 2)]}
        )

    return _totals_fn


_totals_fn = _make_totals_fn(None)  # (kept: pytest pickles by module name)


def running_user_totals(events: DataFrame, ttl_minutes: int | None = None) -> DataFrame:
    """Custom stateful operator: per-user lifetime event count and
    value total, updated every micro-batch. ``ttl_minutes`` installs a
    processing-time idle timeout: a user with no events for that long
    has their state evicted (re-appearing users restart from zero), so
    state is bounded by the ACTIVE key set. Without it state is
    unbounded by the lifetime key population — fine for bench/test
    streams, wrong for a production firehose.

    Trigger note: processing-time timeouts need a continuously running
    query (the engine schedules batches to FIRE pending timeouts); a
    Trigger.availableNow run of the TTL variant does not self-terminate,
    so the batch-replay harness (run_available_now) only pairs with the
    no-TTL build."""
    ttl_ms = None if ttl_minutes is None else ttl_minutes * 60_000
    return events.groupBy("user_id").applyInPandasWithState(
        _make_totals_fn(ttl_ms),
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    last_update_keys: list[str] | None = None,
    emission_ordinal: str | None = None,
    has_timeouts: bool = False,
) -> DataFrame:
    """Execute a streaming DataFrame to completion on the available
    data (Trigger.availableNow) into a memory sink; returns the result
    as a batch DataFrame. Test/bench harness only — production sinks
    are writeStream.format('delta'/'kafka'/...).

    Update-mode stateful queries emit one row per key per micro-batch,
    so a multi-batch replay (maxFilesPerTrigger, a multi-file source)
    leaves stale per-key rows in the memory sink (ADVICE r05). Callers
    whose emissions carry a per-key strictly-increasing column (the
    cumulative ``n_events`` of the totals/CUSUM operators) pass
    ``last_update_keys`` + ``emission_ordinal``; when the replay took
    more than one data batch, only the max-ordinal row per key is kept
    — deterministic regardless of sink row order. Update-mode callers
    without an ordinal get an assertion instead of silent duplicates."""
    name = "mem_" + uuid.uuid4().hex[:12]
    # checkpoint on tmpfs when available: availableNow runs write the
    # offset/commit/state files synchronously inside the micro-batch,
    # and on a disk-backed /tmp that fsync tax dominated the bench tail
    # (BENCH_r02 stream_tumbling_counts +1.1s); state is tiny and the
    # dir is deleted right after termination, so tmpfs is safe here
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=ckpt_base)
    spark = df.sparkSession
    # stateful streaming ops key their state stores to
    # spark.sql.shuffle.partitions at FIRST run and AQE does not apply
    # to streaming: a vanilla session's 200 partitions means 200 state
    # stores per stateful op. Pin a core-sized count for the run (a
    # production job sizes this to its cluster once, at first start).
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
        # availableNow runs one trailing NO-DATA micro-batch to advance
        # the watermark. Append-mode sinks need it (that batch emits the
        # now-finalized windows/joins); complete mode re-emits the full
        # state every batch and update-mode NoTimeout operators emit
        # nothing on a data-less batch — for those the extra batch is a
        # pure fixed cost (state store load/commit + batch planning per
        # stateful partition) and is skipped. Guide §1.2: remove whole
        # passes before tuning inside them. The skip is UNSAFE for an
        # operator whose timeout branch emits rows (a TTL'd
        # applyInPandasWithState): its firings ride exactly the no-data
        # batch, so such callers must pass has_timeouts=True to keep it
        # (ADVICE r08: previously an unenforced docstring invariant).
        if output_mode != "append" and not has_timeouts:
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        data_batches = sum(
            1 for p in q.recentProgress if (p.numInputRows or 0) > 0
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_ndmb)
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    if output_mode == "update" and data_batches > 1:
        if not (last_update_keys and emission_ordinal):
            raise AssertionError(
                f"update-mode replay took {data_batches} data batches; the "
                "memory sink holds stale per-key rows and this caller gave "
                "no (last_update_keys, emission_ordinal) to collapse them"
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy(*last_update_keys).orderBy(
            F.desc(emission_ordinal)
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    # materialize the (aggregate-sized) result and DROP the memory sink:
    # the sink's temp view and its in-driver rows were never released, so
    # every harness call leaked one sink for the session lifetime —
    # across a bench run that is 100+ retained sinks whose old-gen
    # residency feeds exactly the GC pressure the round-9 pause fix
    # removed (guide §5). Streaming results here are bounded aggregates
    # (windows / top-k / per-key reports), so the local copy is small by
    # construction; production paths use real sinks, not this harness.
    schema = out.schema
    rows = out.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


_EWMA_SCHEMA = "event_id bigint, user_id bigint, ewma double"
_EWMA_STATE = "vals array<double>"


def _ewma_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Bounded-EWMA state function: the state is ONLY the last
    EWMA_TAPS values per user (the whole point of a bounded-tap EWMA —
    per-key state is a fixed-size ring, independent of stream length).
    Rows inside the micro-batch are sorted by (ts, event_id) to match
    the batch window order; the per-tap weighted sum runs in the same
    fixed order as the batch expression tree, so a finite replay is
    bit-identical to operators/events.events_ewma_bounded."""
    from ..operators.events import EWMA_DECAY, EWMA_TAPS

    vals: list[float] = list(state.get[0]) if state.exists else []
    ids: list[int] = []
    users: list[int] = []
    out: list[float] = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            vals.append(float(v))
            if len(vals) > EWMA_TAPS:
                vals.pop(0)
            num = 0.0
            den = 0.0
            for k in range(len(vals)):
                w = EWMA_DECAY**k
                num += w * vals[-1 - k]
                den += w
            ids.append(int(eid))
            users.append(int(key[0]))
            out.append(round_half_up(num / den, 6))
    state.update((vals,))
    yield pd.DataFrame({"event_id": ids, "user_id": users, "ewma": out})


def ewma_bounded_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch bounded EWMA: applyInPandasWithState
    keyed by user, emitting one smoothed row per arriving event. The
    per-row Python loop is over <= 8 taps (Arrow moves the batches);
    a JVM-side alternative would be a session-windowless 8-lag window,
    but lag() is not supported on streams — this is exactly the
    "custom stateful operator" case applyInPandasWithState exists for."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=_EWMA_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CUSUM_SCHEMA = "user_id bigint, n_events bigint, max_cusum double, n_alarms bigint"
_CUSUM_STATE = "s double, n bigint, mx double, alarms bigint"


def _cusum_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Streaming CUSUM: per-key state is ONE float (the running
    statistic) plus the report counters — the smallest possible
    stateful operator. Same left-associated recurrence as the batch
    operator and its recursive-CTE oracle, so a finite replay emits the
    identical final row per user.

    Round-9 (guide §4.2): the per-event Python statements collapse to
    one ufunc.accumulate per batch plus vectorized max/alarm readouts —
    the accumulate applies the IDENTICAL max(0, (s + v) - drift)
    step left-to-right (the exact float trajectory the old loop and
    the batch twin compute; ufunc.accumulate is strictly sequential),
    so every emitted number is bit-equal while the per-row
    interpreter overhead (branching, float boxing per statement)
    drops to one lambda call per element."""
    import numpy as np

    from ..operators.events import CUSUM_ALARM, CUSUM_DRIFT

    step = np.frompyfunc(lambda s, v: max(0.0, (s + v) - CUSUM_DRIFT), 2, 1)
    s, n, mx, alarms = state.get if state.exists else (0.0, 0, 0.0, 0)
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy(dtype=np.float64)
        traj = step.accumulate(
            np.concatenate(([s], vals)), dtype=np.object_
        )[1:].astype(np.float64)
        s = float(traj[-1])
        mx = max(mx, float(traj.max()))
        alarms += int((traj > CUSUM_ALARM).sum())
        n += len(vals)
    state.update((s, n, mx, alarms))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_events": [n],
            "max_cusum": [round_half_up(mx, 6)],
            "n_alarms": [alarms],
        }
    )


def cusum_alerts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/events.events_cusum_alerts: update
    mode emits each user's refreshed CUSUM report per micro-batch; the
    last update after a finite replay equals the batch answer."""
    return events.groupBy("user_id").applyInPandasWithState(
        _cusum_fn,
        outputStructType=_CUSUM_SCHEMA,
        stateStructType=_CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Space-Saving streaming top-k (Metwally et al.) — bounded-state heavy
# hitters per event type. Registered as stream_topk_hitters (round 7)
# with a step-by-step recursive-CTE replay oracle (streaming/entry.py);
# the Space-Saving guarantees + replay determinism are additionally
# pinned by tests/test_stream_topk.py.
# ---------------------------------------------------------------------------

TOPK_K = 10

_TOPK_SCHEMA = (
    "event_type string, rank int, user_id bigint, est_count bigint, n_seen bigint"
)
_TOPK_STATE = "users array<bigint>, counts array<bigint>, n_seen bigint"


def _topk_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Space-Saving summary for one event type: at most K counters; a
    new user evicts the minimum counter and INHERITS its count + 1 —
    the classic one-pass bound (est >= true; any user with true count
    > N/K is guaranteed present). Rows are processed in (ts, event_id)
    order so the sequential result is replay-deterministic; eviction
    ties break on the smallest user id, also deterministic."""
    if state.exists:
        users, counts, n_seen = state.get
        users, counts = list(users), list(counts)
    else:
        users, counts, n_seen = [], [], 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    # O(1) membership via a user -> slot dict (round-8 optimization:
    # the former `u in users` + users.index(u) list scans were O(K)
    # per EVENT — with K=10 that tripled the Python kernel's per-row
    # constant; the update sequence and therefore the summary is
    # bit-identical, the dict only accelerates lookup). The loop
    # itself stays sequential — Space-Saving's eviction makes row r's
    # update depend on r-1's state; this is the documented sequential
    # kernel, bounded to K counters per type.
    slot = {u: i for i, u in enumerate(users)}
    for u in batch["user_id"].to_numpy(dtype="int64").tolist():
        i = slot.get(u)
        if i is not None:
            counts[i] += 1
        elif len(users) < TOPK_K:
            slot[u] = len(users)
            users.append(u)
            counts.append(1)
        else:
            mn = min(counts)
            # deterministic eviction: among min-count entries, the
            # smallest user id goes
            victim = min(u2 for u2, c in zip(users, counts) if c == mn)
            i = slot.pop(victim)
            slot[u] = i
            users[i], counts[i] = u, mn + 1
    n_seen += len(batch)
    state.update((users, counts, n_seen))
    order = sorted(range(len(users)), key=lambda i: (-counts[i], users[i]))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(order),
            "rank": list(range(1, len(order) + 1)),
            "user_id": [users[i] for i in order],
            "est_count": [counts[i] for i in order],
            "n_seen": [n_seen] * len(order),
        }
    )


def topk_hitters(events: DataFrame) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: K counters per event
    type, total state K x |types| regardless of user cardinality — the
    structure a firehose uses where running_user_totals' per-user state
    would grow with the key population. The batch Count-Min entry
    (events_count_min_heavy_hitters) is the mergeable-sketch sibling;
    Space-Saving additionally keeps the candidate ids in-state, so the
    top-k readout needs no second pass over the data.

    Only the four columns the kernel reads cross the Python boundary
    (guide §4.1: Spark cannot see which columns the state fn touches,
    so an un-pruned stream ships every event column through Arrow)."""
    events = events.select("event_type", "user_id", "ts", "event_id")
    return events.groupBy("event_type").applyInPandasWithState(
        _topk_fn,
        outputStructType=_TOPK_SCHEMA,
        stateStructType=_TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HLL_SCHEMA = "register bigint, max_rho int, n_hashes bigint"
_HLL_STATE = "max_rho int, n_hashes bigint"


def _hll_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """One HLL register's state: (max rho seen, hash count). Union of
    sketches is cell-wise MAX, so the streaming fold IS the merge —
    the final update per register equals the batch-built sketch
    bit-for-bit regardless of batching."""
    if state.exists:
        mr, n = state.get
    else:
        mr, n = 0, 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    mr = max(int(mr), int(batch["rho"].max()))
    n = int(n) + len(batch)
    state.update((mr, n))
    yield pd.DataFrame(
        {"register": [int(key[0])], "max_rho": [mr], "n_hashes": [n]}
    )


def hll_registers_stream(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog: route each event's md5-hashed user id to
    one of 256 registers map-side (the same string-ops rho as the
    batch operators.events.hll_registers — no log2, bit-identical
    across engines), then fold (MAX rho, count) per register under
    applyInPandasWithState. State is 2 ints x 256 keys TOTAL,
    regardless of stream volume or user cardinality — the
    distinct-count companion to topk_hitters' K counters."""
    from ..operators.events import HLL_RHO_HEX

    hx = F.md5(F.col("user_id").cast("string"))
    trimmed = F.expr(
        f"trim(LEADING '0' FROM substring(md5(CAST(user_id AS STRING)), 3, {HLL_RHO_HEX}))"
    )
    first = F.substring(trimmed, 1, 1)
    bits = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    routed = events.select(
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("register"),
        (4 * (HLL_RHO_HEX - F.length(trimmed)) + bits + 1).alias("rho"),
    )
    return routed.groupBy("register").applyInPandasWithState(
        _hll_fn,
        outputStructType=_HLL_SCHEMA,
        stateStructType=_HLL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
