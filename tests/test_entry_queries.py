"""Every queries() entry must hash-match its oracle_sql() entry —
the local mirror of the driver's t2 correctness gate (sf0.001 for
speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_every_query_has_oracle_or_is_flagged():
    missing = [k for k in QUERIES if k not in ORACLES]
    # every entry now carries a DuckDB oracle (round 4 closed the last
    # holdout, media_feature_hist, with scalar floor-rounded columns);
    # any future oracle-less entry must be added here EXPLICITLY with
    # its justification, never by default
    allowed: set[str] = set()
    assert set(missing) <= allowed, f"queries without oracles: {missing}"


def test_register_rejects_a_taken_name():
    from graphdb_wikidata_spark.operators import register

    before = entry_mod.queries(), entry_mod.oracle_sql()
    with pytest.raises(ValueError, match="sparql_bgp_join"):

        @register("sparql_bgp_join", "SELECT 1")
        def stub(spark, sf_dir):  # pragma: no cover - never registered
            raise AssertionError

    assert (entry_mod.queries(), entry_mod.oracle_sql()) == before


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    if name not in ORACLES:
        assert df.count() >= 0
        return
    ok, msg = compare(df, ORACLES[name], SF_SMOKE)
    assert ok, f"{name}: {msg}"
