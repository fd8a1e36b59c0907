"""Bucketed statements storage: subject-subject joins must plan
without a shuffle (the 100 TB design point — write-time clustering
replaces the reference's four pre-sorted quad copies)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.ingest import load_dump
from graphdb_wikidata_spark.ingest.wikidata import save_statements_bucketed
from tests.conftest import (
    WIKIDATA_SAMPLE,
    wikidata_sample_entities,
    wikidata_sample_statement_count,
)


@pytest.fixture(scope="module")
def bucketed(spark):
    df = load_dump(spark, WIKIDATA_SAMPLE)
    save_statements_bucketed(df, "stmts_bucketed", buckets=8)
    yield spark.table("stmts_bucketed")
    spark.sql("DROP TABLE IF EXISTS stmts_bucketed")


def test_bucketed_self_join_has_no_shuffle(spark, bucketed):
    a = bucketed.filter(F.col("pred_id") == 31).select(
        "subject_kind", "subject_id", F.col("obj_entity_id").alias("o1")
    )
    b = bucketed.filter(F.col("pred_id") == 17).select(
        "subject_kind", "subject_id", F.col("obj_entity_id").alias("o2")
    )
    # disable broadcast so the planner must consider the shuffle it
    # would otherwise need — bucketing must satisfy the SMJ's
    # distribution requirement with zero Exchange nodes
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, on=["subject_kind", "subject_id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and it actually runs: one row per (P31 claim, P17 claim) pair
        # of the same subject
        assert joined.count() == sum(
            len(e["claims"].get("P31", [])) * len(e["claims"].get("P17", []))
            for e in wikidata_sample_entities()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_roundtrip_counts(spark, bucketed):
    raw = load_dump(spark, WIKIDATA_SAMPLE)
    assert bucketed.count() == raw.count() == wikidata_sample_statement_count()
