from __future__ import annotations

import json
import os

import pytest

from graphdb_wikidata_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# a four-entity, hand-written dump in the Wikidata JSON export format:
# labels, descriptions, aliases, item claims on P31 and P17, one qualifier
WIKIDATA_SAMPLE = os.path.join(os.path.dirname(__file__), "data", "wikidata_sample.json")


def wikidata_sample_entities() -> list[dict]:
    """The sample dump's entities, read with the json module so expected
    values never come from the ingest under test."""
    with open(WIKIDATA_SAMPLE, encoding="utf-8") as f:
        lines = [line.strip().rstrip(",") for line in f]
    return [json.loads(line) for line in lines if line not in ("", "[", "]")]


def wikidata_sample_statement_count() -> int:
    """One statement per label, description, alias, claim and qualifier snak."""
    n = 0
    for e in wikidata_sample_entities():
        n += len(e["labels"]) + len(e["descriptions"])
        n += sum(len(vs) for vs in e["aliases"].values())
        for claims in e["claims"].values():
            n += len(claims)
            n += sum(len(s) for c in claims for s in c.get("qualifiers", {}).values())
    return n


def wikidata_sample_subject_statement_count(entity_id: str) -> int:
    """The entity's own statements: its labels, descriptions, aliases and claims."""
    (e,) = [e for e in wikidata_sample_entities() if e["id"] == entity_id]
    return (
        len(e["labels"])
        + len(e["descriptions"])
        + sum(len(vs) for vs in e["aliases"].values())
        + sum(len(claims) for claims in e["claims"].values())
    )


def wikidata_sample_subject_count() -> int:
    """Distinct subjects: the entities plus the claims that carry qualifier snaks."""
    entities = wikidata_sample_entities()
    qualified = sum(
        1
        for e in entities
        for claims in e["claims"].values()
        for c in claims
        if any(c.get("qualifiers", {}).values())
    )
    return len(entities) + qualified


@pytest.fixture(scope="session")
def spark():
    s = get_spark("graphdb-wikidata-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
