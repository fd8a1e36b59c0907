"""Round-6 ADVICE fixes: HALF_UP kernel rounding, degenerate-group
guards on the OLS trend, multi-batch update-mode replay dedupe."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.rounding import round_half_up

from tests.conftest import SF_SMOKE

# ---------------------------------------------------------------------------
# round_half_up matches F.round (Spark HALF_UP) and DuckDB round
# ---------------------------------------------------------------------------

TIE_CASES = [
    (2.5, 0),
    (3.5, 0),
    (-2.5, 0),
    (0.125, 2),
    (0.135, 2),
    (-0.125, 2),
    (1.0000005, 6),
    (-1.0000005, 6),
    (12.345678949, 6),
    (0.0, 6),
]


def test_round_half_up_matches_spark(spark):
    df = spark.createDataFrame([(x, nd) for x, nd in TIE_CASES], ["x", "nd"])
    rows = df.select(
        "x",
        "nd",
        *[
            F.when(F.col("nd") == nd, F.round(F.col("x"), nd)).alias(f"r{nd}")
            for nd in {nd for _, nd in TIE_CASES}
        ],
    ).collect()
    for r in rows:
        spark_val = r[f"r{r.nd}"]
        assert round_half_up(r.x, r.nd) == spark_val, (r.x, r.nd)


def test_round_half_up_matches_duckdb():
    import duckdb

    for x, nd in TIE_CASES:
        (dv,) = duckdb.sql(f"SELECT round({x!r}::DOUBLE, {nd})").fetchone()
        assert round_half_up(x, nd) == dv, (x, nd)


def test_round_half_up_differs_from_banker_on_ties():
    # the whole point: Python round() gives 0.12 here (half-to-even)
    assert round_half_up(0.125, 2) == 0.13
    assert round(0.125, 2) == 0.12


def test_round_half_up_passes_nonfinite_through():
    import math

    assert math.isnan(round_half_up(float("nan"), 6))
    assert round_half_up(float("inf"), 2) == float("inf")


# ---------------------------------------------------------------------------
# events_linreg_trend: degenerate groups excluded identically
# ---------------------------------------------------------------------------


def test_linreg_drops_degenerate_groups(spark):
    from graphdb_wikidata_spark.operators import events

    t0 = datetime(2024, 1, 1)
    rows = [
        # 'ok': 3 events, varying ts and value
        (1, t0, 1, "ok", 1.0, "{}"),
        (2, t0 + timedelta(hours=1), 1, "ok", 2.0, "{}"),
        (3, t0 + timedelta(hours=2), 1, "ok", 4.0, "{}"),
        # 'single': one event -> n < 2
        (4, t0, 2, "single", 1.0, "{}"),
        # 'const_ts': two events at the same instant -> var_pop(x) = 0
        (5, t0, 3, "const_ts", 1.0, "{}"),
        (6, t0, 3, "const_ts", 2.0, "{}"),
        # 'const_y': varying ts, constant value -> var_pop(y) = 0
        (7, t0, 4, "const_y", 5.0, "{}"),
        (8, t0 + timedelta(hours=1), 4, "const_y", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orig = events.table
    events.table = lambda s, d, name: df  # noqa: ARG005
    try:
        out = events.QUERIES["events_linreg_trend"](spark, SF_SMOKE).collect()
    finally:
        events.table = orig
    assert [r.event_type for r in out] == ["ok"]
    r = out[0]
    assert r.n == 3 and r.slope is not None and r.r2 is not None


# ---------------------------------------------------------------------------
# run_available_now: multi-batch update-mode replay collapses to the
# last update per key
# ---------------------------------------------------------------------------


def test_update_mode_multibatch_dedupes_to_last_update(spark, tmp_path):
    from graphdb_wikidata_spark.streaming.streams import (
        run_available_now,
        running_user_totals,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), i % 3, "x", float(i), "{}") for i in range(30)
    ]
    batch = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "events_src")
    # several part files + maxFilesPerTrigger=1 forces a multi-batch
    # availableNow replay — the memory sink then holds one stale row
    # per user per earlier batch
    batch.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_available_now(
        running_user_totals(stream),
        output_mode="update",
        last_update_keys=["user_id"],
        emission_ordinal="n_events",
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    exp = {
        r.user_id: (r.n, r.tv)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert out.count() == len(exp)  # exactly one row per user survived
    assert got == exp


def test_update_mode_multibatch_without_ordinal_raises(spark, tmp_path):
    from graphdb_wikidata_spark.streaming.streams import (
        run_available_now,
        running_user_totals,
    )

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), 0, "x", 1.0, "{}") for i in range(8)]
    batch = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "events_src2")
    batch.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(AssertionError, match="stale per-key rows"):
        run_available_now(running_user_totals(stream), output_mode="update")


# ---------------------------------------------------------------------------
# dedup_semantic: trained k-means centroids (VERDICT r05 #4)
# ---------------------------------------------------------------------------


def _semdedup_pairs_with(spark, assign_df):
    """In-cluster dup-pair count for a given (vec_id, v, cid) assignment."""
    from graphdb_wikidata_spark.operators.dedup import SEMDEDUP_TAU
    from graphdb_wikidata_spark.operators.similarity import dot, norm

    best = assign_df.withColumn("nv", norm(F.col("v")))
    a = best.select("cid", F.col("vec_id").alias("va"), F.col("v").alias("xa"), F.col("nv").alias("na"))
    b = best.select("cid", F.col("vec_id").alias("vb"), F.col("v").alias("xb"), F.col("nv").alias("nb"))
    return (
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .select(
            F.round(dot(F.col("xa"), F.col("xb")) / (F.col("na") * F.col("nb")), 6).alias("cs")
        )
        .filter(F.col("cs") >= SEMDEDUP_TAU)
        .count()
    )


def test_semdedup_trained_centroids_recall_not_worse(spark):
    """Swapping the r5 first-K-by-id 'centroids' for kmeans_fit output
    must not DECREASE duplicate recall against the exact all-pairs
    ground truth (it finds strictly more on this corpus)."""
    from graphdb_wikidata_spark.operators import dedup
    from graphdb_wikidata_spark.operators.similarity import (
        _as_double,
        assign_nearest,
        kmeans_fit,
    )

    e = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    naive_cent = e.orderBy("vec_id").limit(dedup.SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    naive_pairs = _semdedup_pairs_with(
        spark, assign_nearest(e, naive_cent, metric="cosine")
    )
    trained_pairs = _semdedup_pairs_with(
        spark, kmeans_fit(e).select("vec_id", "v", "cid")
    )
    all_pairs = dedup.embedding_cosine_allpairs(
        spark, SF_SMOKE, threshold=dedup.SEMDEDUP_TAU
    ).count()
    assert trained_pairs >= naive_pairs
    assert trained_pairs <= all_pairs  # clustering never invents pairs
