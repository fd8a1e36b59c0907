"""Ingest parity tests (reference parser.rs:377-494) on the in-repo
fixtures under tests/data/.

The reference checks its ingest against its 5-entity dump slice, whose
goldens are 3385 quads in all and 1354 for ``wdt:Q31 ?p ?b``. That
slice is not in this repository: here the expected counts are computed
from tests/data/wikidata_sample.json with the json module (see
tests/conftest.py), never from the ingest under test."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.ingest import load_dump
from tests.conftest import (
    WIKIDATA_SAMPLE,
    wikidata_sample_statement_count,
    wikidata_sample_subject_statement_count,
)

FIXTURE = WIKIDATA_SAMPLE
LEXEME_FIXTURE = os.path.join(os.path.dirname(__file__), "data", "lexeme_wbgetentities.json")


def test_language_filter(spark):
    all_terms = load_dump(spark, FIXTURE).filter(
        F.col("pred_kind").isin("label", "description", "alias")
    )
    en_only = load_dump(spark, FIXTURE, language_filter=["en"]).filter(
        F.col("pred_kind").isin("label", "description", "alias")
    )
    n_all, n_en = all_terms.count(), en_only.count()
    assert 0 < n_en < n_all
    langs = {r["pred_lang"] for r in en_only.select("pred_lang").distinct().collect()}
    assert langs == {"en"}


def test_skip_qualifiers(spark):
    with_q = load_dump(spark, FIXTURE, parse_qualifiers=True)
    without_q = load_dump(spark, FIXTURE, parse_qualifiers=False)
    n_qual = with_q.filter(F.col("subject_kind") == "stmt").count()
    assert n_qual > 0
    assert without_q.filter(F.col("subject_kind") == "stmt").count() == 0
    assert with_q.count() == without_q.count() + n_qual


def test_lexeme_fixture_graceful(spark):
    """lexeme_wbgetentities.json is a wbgetentities-style response
    ({"entities": {...}} wrapper around a lexeme with forms and senses),
    not a line-per-entity dump. It is one line of valid JSON, yet no
    line holds an entity: the reference's per-line parser skips such a
    file (its form_sense_example.txt) and so do we: no crash, zero
    statements."""
    df = load_dump(spark, LEXEME_FIXTURE)
    assert df.count() == 0


def test_claim_id_normalization(spark):
    """'$' in claim ids becomes '-' (parser.rs:480-483)."""
    ids = load_dump(spark, FIXTURE).filter(F.col("pred_kind") == "P").select("statement_id")
    assert ids.filter(F.col("statement_id").contains("$")).count() == 0
    # real Wikidata statement ids look like Q31-<uuid>
    assert ids.filter(F.col("statement_id").rlike("^[Qq]\\d+-")).count() > 0


def test_storage_roundtrip(spark, tmp_path_factory):
    """write_statements -> from_parquet round-trip (the reference's
    create-db / load cycle, main.rs:25-43): the reloaded store answers
    the golden queries identically."""
    from graphdb_wikidata_spark.engine import GraphEngine
    from graphdb_wikidata_spark.ingest.wikidata import write_statements

    path = str(tmp_path_factory.mktemp("store") / "statements")
    df = load_dump(spark, FIXTURE)
    write_statements(df, path, partitions=4)
    eng = GraphEngine.from_parquet(spark, path)
    # the reference fixture's goldens are 3385 and 1354
    assert (
        eng.sql("SELECT ?s ?p ?o WHERE { ?s ?p ?o . }").count()
        == wikidata_sample_statement_count()
    )
    assert (
        eng.sql("SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }").count()
        == wikidata_sample_subject_statement_count("Q31")
    )


def test_parquet_scan_pushdown(spark, tmp_path_factory):
    """100 TB posture: a bound-term triple-pattern scan over the
    parquet store must reach the scan node as PushedFilters (the Spark
    replacement for the reference's binary-search index scan,
    materialized_relation.rs:807-916) — not a post-scan filter over a
    full read."""
    from graphdb_wikidata_spark.engine import GraphEngine
    from graphdb_wikidata_spark.ingest.wikidata import write_statements

    path = str(tmp_path_factory.mktemp("store_pd") / "statements")
    write_statements(load_dump(spark, FIXTURE), path, partitions=4)
    eng = GraphEngine.from_parquet(spark, path)
    plan = eng.explain("SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("subject_id" in ln for ln in pushed), plan


def test_streaming_ingest_matches_batch(spark, tmp_path_factory):
    """stream_dump + parquet sink == load_dump row-for-row: the ingest
    pipeline is one set of narrow transformations shared by batch and
    Structured Streaming (exactly-once file-source semantics); a second
    available-now run is a no-op (checkpoint remembers the shard)."""
    import shutil

    from graphdb_wikidata_spark.ingest import (
        load_dump,
        run_stream_to_parquet,
        stream_dump,
    )

    base = tmp_path_factory.mktemp("stream_ingest")
    src = base / "incoming"
    src.mkdir()
    shutil.copy(FIXTURE, src / "shard-000.json")
    out, ckpt = str(base / "statements"), str(base / "ckpt")

    stream = stream_dump(spark, str(src))
    assert stream.isStreaming
    run_stream_to_parquet(stream, out, ckpt)

    got = spark.read.parquet(out)
    want = load_dump(spark, FIXTURE)
    n = wikidata_sample_statement_count()  # 3385 on the reference fixture
    assert got.count() == want.count() == n
    key = [c for c in want.columns if not c.startswith("obj_")]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )

    # restart with the same checkpoint: nothing new -> no duplicate rows
    run_stream_to_parquet(stream_dump(spark, str(src)), out, ckpt)
    assert spark.read.parquet(out).count() == n


def test_write_statements_partitioned_by_pred_prunes(spark, tmp_path):
    """partition_by_pred=True writes Hive-style pred_kind= directories;
    a bound-predicate scan must then prune partitions (PartitionFilters
    in the parquet scan), and the round-trip must be lossless."""
    import os

    from graphdb_wikidata_spark.ingest.wikidata import load_dump, write_statements

    df = load_dump(spark, FIXTURE)
    path = str(tmp_path / "stmts_by_pred")
    write_statements(df, path, partition_by_pred=True)

    kinds = {d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("pred_kind=")}
    assert "P" in kinds and "label" in kinds

    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)

    plan = back.filter(F.col("pred_kind") == "label")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred_kind" in plan.split("PartitionFilters", 1)[1][:200]
    # and the pruned read returns exactly the label rows
    n_label = df.filter(F.col("pred_kind") == "label").count()
    assert back.filter(F.col("pred_kind") == "label").count() == n_label
