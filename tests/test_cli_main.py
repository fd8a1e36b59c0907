"""The ``python -m graphdb_wikidata_spark`` surface mirrors the
reference binary's subcommands (cli.rs:16-67): create-db builds the
statements Parquet from a dump, create-index rewrites it clustered,
and the resulting directory serves queries via from_parquet."""

from __future__ import annotations

import json

import graphdb_wikidata_spark.__main__ as cli
from graphdb_wikidata_spark.engine import GraphEngine
from tests.conftest import (
    WIKIDATA_SAMPLE,
    wikidata_sample_entities,
    wikidata_sample_statement_count,
)


def _q31_instance_of(eng) -> set[str]:
    doc = json.loads(eng.sql_json("SELECT ?o WHERE { wd:Q31 wdt:P31 ?o . }"))
    return {b["o"]["value"] for b in doc["results"]["bindings"]}


def _q31_instance_of_expected() -> set[str]:
    (q31,) = [e for e in wikidata_sample_entities() if e["id"] == "Q31"]
    return {
        "http://www.wikidata.org/entity/" + c["mainsnak"]["datavalue"]["value"]["id"]
        for c in q31["claims"]["P31"]
    }


def test_create_db_index_and_query(spark, tmp_path, monkeypatch, capsys):
    # main() builds its own session via get_spark; with one already
    # running getOrCreate reuses it, so this stays one-JVM
    db = str(tmp_path / "wikidata")
    assert cli.main(["-d", db, "create-db", "-f", WIKIDATA_SAMPLE]) == 0
    created = capsys.readouterr().out
    assert created.strip().endswith(f": {wikidata_sample_statement_count()} statements")

    assert cli.main(["-d", db, "create-index"]) == 0

    eng = GraphEngine.from_parquet(spark, db)
    assert _q31_instance_of(eng) == _q31_instance_of_expected()


def test_no_subcommand_prints_help(capsys):
    assert cli.main([]) == 2
    assert "create-db" in capsys.readouterr().out


def test_create_index_by_predicate(spark, tmp_path, capsys):
    import os

    db = str(tmp_path / "wikidata_bp")
    assert cli.main(["-d", db, "create-db", "-f", WIKIDATA_SAMPLE]) == 0
    assert cli.main(["-d", db, "create-index", "--by-predicate"]) == 0
    capsys.readouterr()
    assert any(d.startswith("pred_kind=") for d in os.listdir(db))
    # the partitioned layout still serves queries (pred_kind becomes a
    # partition column; the scan path reads it like any other column)
    eng = GraphEngine.from_parquet(spark, db)
    assert _q31_instance_of(eng) == _q31_instance_of_expected()


def test_cli_pipeline(spark, tmp_path, capsys):
    from graphdb_wikidata_spark.__main__ import main

    out = str(tmp_path / "shards")
    rc = main(["pipeline", "--sf-dir", "/root/testdata/sf0.001", "-o", out,
               "--max-records", "64"])
    assert rc == 0
    assert "packed documents" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert set(back.columns) >= {"doc_id", "n_tokens", "pack_id"}


def test_cli_analyze(spark, tmp_path, capsys):
    import json

    from graphdb_wikidata_spark.__main__ import main

    out = str(tmp_path / "report")
    rc = main(["analyze", "--sf-dir", "/root/testdata/sf0.001", "-o", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["report_dir"] == out
    # every section wrote a non-empty relation
    for section in ("source_drift", "readability", "keywords", "heavy_hitters"):
        assert summary["rows"][section] > 0
        assert spark.read.parquet(f"{out}/{section}").count() == summary["rows"][section]
    drift = spark.read.parquet(f"{out}/source_drift")
    assert set(drift.columns) == {"source", "n_tokens", "kl_divergence"}
