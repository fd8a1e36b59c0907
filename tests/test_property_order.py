"""Property-based (hypothesis) check of the SPARQL comparison laws.

test_order_consistency.py proves the laws on a fixed 19-term matrix;
here hypothesis draws random term values (ints, doubles, strings,
monolingual text, unit quantities, calendar times, entities) and
re-checks the same laws, catching value-dependent edges the fixed
matrix can't (sign boundaries, empty strings, equal-amount different
-unit quantities, year-0/negative-year times). The reference's
equivalent surface is DataValue::partial_cmp
(the reference's src/data_types.rs:277-323).

Each hypothesis example batches all pairs into ONE Spark job (cross
join of the drawn term list), so example count, not term count, sets
the wall clock.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphdb_wikidata_spark.engine.expressions import cmp_terms, eq_terms, sort_key
from graphdb_wikidata_spark.model.schema import statements_from_quads

GREG = "greg"
JUL = "jul"

ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)
doubles = st.floats(allow_nan=False, allow_infinity=False, width=64)
strings = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12
)
monos = st.builds(
    lambda t, lang: {"type": "mono", "obj_string": t, "obj_lang": lang},
    strings,
    st.sampled_from(["en", "de", "fr"]),
)
qtys = st.builds(
    lambda amt, unit: {"type": "qty", "obj_qty": (str(amt), float(amt), unit, None, None)},
    st.integers(min_value=-10**6, max_value=10**6),
    st.sampled_from(["m", "kg", "s"]),
)
times = st.builds(
    lambda y, mo, d, h, cal: {
        "type": "time",
        "obj_time": (y, mo, d, h, 0, 0, 0, 0, 11, 0, cal),
    },
    st.integers(min_value=-2000, max_value=2500),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=0, max_value=23),
    st.sampled_from([GREG, JUL]),
)
entities = st.builds(lambda n, k: f"{k}{n}", st.integers(1, 10**6), st.sampled_from(["Q", "P"]))

terms = st.one_of(ints, doubles, st.booleans(), strings, monos, qtys, times, entities)


@given(ts=st.lists(terms, min_size=2, max_size=14))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_comparison_laws_random_terms(spark, ts):
    quads = [("Q1", "P1", t, f"s{i}") for i, t in enumerate(ts)]
    st_df = statements_from_quads(spark, quads)
    from graphdb_wikidata_spark.engine.algebra import TriplePattern, Var
    from graphdb_wikidata_spark.engine.scan import scan_pattern

    x = scan_pattern(st_df, TriplePattern(Var("s"), Var("p"), Var("x"))).select("x")
    a = x.select(F.col("x").alias("a"))
    b = x.select(F.col("x").alias("b"))
    rows = (
        a.crossJoin(b)
        .select(
            "a",
            "b",
            cmp_terms(F.col("a"), F.col("b"), "<").alias("lt"),
            cmp_terms(F.col("b"), F.col("a"), "<").alias("gt_rev"),
            eq_terms(F.col("a"), F.col("b")).alias("eq"),
            (sort_key(F.col("a")) < sort_key(F.col("b"))).alias("key_lt"),
            (sort_key(F.col("a")) == sort_key(F.col("b"))).alias("key_eq"),
        )
        .collect()
    )
    for r in rows:
        if r["lt"] is True:
            # the ORDER BY total order refines the partial order
            assert r["key_lt"] is True, (r["a"], r["b"])
            # antisymmetry
            assert r["gt_rev"] is not True, (r["a"], r["b"])
        if r["eq"] is True:
            # '=' equal values sort identically
            assert r["key_eq"] is True, (r["a"], r["b"])


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))
