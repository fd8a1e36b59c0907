"""Seeded input generators: TPC-H-shaped base tables, a Wikidata
entity-JSON dump, and the per-workload query streams.

Everything here is a pure function of its arguments (seed, sizes), so
the same seed gives byte-identical files and query lists. The program
under test only ever sees these generated inputs.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

# Entity id offsets of engine/tpch_graph.py's statements graph.
CUST_BASE, ORDER_BASE = 1_000_000, 2_000_000

NATIONS = (
    "ALGERIA ARGENTINA BRAZIL CANADA EGYPT ETHIOPIA FRANCE GERMANY INDIA "
    "INDONESIA IRAN IRAQ JAPAN JORDAN KENYA MOROCCO MOZAMBIQUE PERU CHINA "
    "ROMANIA SAUDI_ARABIA VIETNAM RUSSIA UNITED_KINGDOM UNITED_STATES"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


# --------------------------------------------------------------------------
# TPC-H-shaped tables (the columns engine/tpch_graph.py reads)
# --------------------------------------------------------------------------


def tpch_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "orders": int(1_500_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "lineitem": int(6_000_000 * sf),
    }


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/orders/lineitem parquet
    files under ``out_dir``; returns the row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = tpch_counts(sf)
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [x.replace("_", " ") for x in NATIONS],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2)),
    })
    o = n["orders"]
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 2400, o).astype("timedelta64[D]").astype("timedelta64[us]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 550_000.0, o), 2)),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    okeys = np.sort(rng.integers(0, o, li)).astype(np.int64)
    qty = rng.integers(1, 51, li).astype(np.float64)
    ship = rng.integers(0, 2500, li).astype("timedelta64[D]").astype("timedelta64[us]")
    put("lineitem", {
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, 20_000, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": pa.array(day0 + ship, pa.timestamp("us")),
    })
    return {"region": 5, "nation": 25, **n}


# --------------------------------------------------------------------------
# serve_point query stream
# --------------------------------------------------------------------------

POINT_KINDS = ("order_star", "customer_orders", "customer_label")


def point_query(kind: str, k: int) -> str:
    """SPARQL text for one point request about order ``k`` (or, for
    ``customer_orders``, customer ``k``)."""
    if kind == "order_star":
        o = f"wd:Q{ORDER_BASE + k}"
        return (
            f"SELECT ?price ?status ?cust WHERE {{ {o} wdt:P4 ?price . "
            f"{o} wdt:P5 ?status . {o} wdt:P1 ?cust . }}"
        )
    if kind == "customer_orders":
        return f"SELECT ?o WHERE {{ ?o wdt:P1 wd:Q{CUST_BASE + k} . }}"
    if kind == "customer_label":
        return (
            f"SELECT ?cust ?custLabel WHERE {{ wd:Q{ORDER_BASE + k} wdt:P1 ?cust . "
            'SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }'
        )
    raise ValueError(kind)


def zipf_keys(rng: np.random.Generator, n: int, domain: int, s: float = 1.1) -> np.ndarray:
    """``n`` keys in [0, domain) drawn Zipf(s) by rank, with the rank ->
    key mapping shuffled so hot keys are spread over the key space."""
    ranks = np.arange(1, domain + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(domain)
    return perm[rng.choice(domain, size=n, p=p)]


def point_stream(seed: int, clients: int, per_client: int, n_orders: int, n_customers: int):
    """Per-client request lists of (kind, key, sparql). Kinds rotate in
    a fixed order so every run serves the same mix; only the keys
    depend on the seed."""
    rng = np.random.default_rng([seed, 2])
    streams = []
    for c in range(clients):
        okeys = zipf_keys(rng, per_client, n_orders)
        ckeys = zipf_keys(rng, per_client, n_customers)
        reqs = []
        for i in range(per_client):
            kind = POINT_KINDS[(i + c) % len(POINT_KINDS)]
            k = int(ckeys[i] if kind == "customer_orders" else okeys[i])
            reqs.append((kind, k, point_query(kind, k)))
        streams.append(reqs)
    return streams


# --------------------------------------------------------------------------
# Wikidata entity-JSON dump
# --------------------------------------------------------------------------

LANGS = ("en", "de", "fr")
ITEM_BASE = 100  # dump items are Q100 .. Q(100+n-1)
P_LINK = (31, 279, 361, 17)  # wikibase-item properties
P_STRING, P_EXTID, P_TIME, P_QTY, P_COORD, P_MONO = 1449, 214, 569, 2046, 625, 1476
P_QUAL_TIME, P_QUAL_ITEM = 580, 642


@dataclass
class DumpTruth:
    """What the generator knows about the dump it wrote."""

    entities: int = 0
    labels: int = 0
    descriptions: int = 0
    aliases: int = 0
    claims: int = 0
    qualifiers: int = 0
    claims_by_pred: dict = field(default_factory=dict)
    edges: list = field(default_factory=list)  # (src, dst) item links

    @property
    def statements(self) -> int:
        return self.labels + self.descriptions + self.aliases + self.claims + self.qualifiers


def _snak(prop: int, datatype: str, value, vtype: str) -> dict:
    return {
        "snaktype": "value",
        "property": f"P{prop}",
        "datatype": datatype,
        "datavalue": {"value": value, "type": vtype},
    }


def dump_lines(seed: int, n: int):
    """Yield (json_line, truth) for an ``n``-item dump; ``truth`` is
    updated in place as lines are produced."""
    r = random.Random(seed * 1_000_003 + n)
    truth = DumpTruth(entities=n)
    # power-law link targets: a target's chance is ~ 1/rank
    weights = [1.0 / (i + 1) for i in range(n)]
    cum = np.cumsum(weights)
    target_perm = list(range(n))
    r.shuffle(target_perm)

    def pick_target() -> int:
        x = r.random() * cum[-1]
        return ITEM_BASE + target_perm[int(np.searchsorted(cum, x, side="right"))]

    for i in range(n):
        qid = ITEM_BASE + i
        labels = {lg: {"language": lg, "value": f"item {qid} {lg}"} for lg in LANGS}
        descs = {
            lg: {"language": lg, "value": f"synthetic entity {qid} ({lg})"}
            for lg in LANGS if r.random() < 0.8
        }
        aliases = {}
        for lg in LANGS:
            k = r.choice((0, 0, 1, 2))
            if k:
                aliases[lg] = [{"language": lg, "value": f"alias {qid} {lg} {j}"} for j in range(k)]
        truth.labels += len(labels)
        truth.descriptions += len(descs)
        truth.aliases += sum(len(v) for v in aliases.values())

        claims: dict[str, list] = {}
        seq = 0

        def add(prop: int, snak: dict, quals: dict | None = None) -> None:
            nonlocal seq
            seq += 1
            c = {
                "mainsnak": snak,
                "type": "statement",
                "id": f"Q{qid}${seed:x}-{i:x}-{seq:x}",
                "rank": "normal",
            }
            if quals:
                c["qualifiers"] = quals
                truth.qualifiers += sum(len(v) for v in quals.values())
            claims.setdefault(f"P{prop}", []).append(c)
            truth.claims += 1
            truth.claims_by_pred[prop] = truth.claims_by_pred.get(prop, 0) + 1

        for _ in range(r.choice((1, 1, 2, 3, 4))):
            prop = r.choice(P_LINK)
            dst = pick_target()
            quals = None
            if r.random() < 0.25:
                quals = {f"P{P_QUAL_TIME}": [_snak(P_QUAL_TIME, "time", _time_value(r), "time")]}
                if r.random() < 0.5:
                    quals[f"P{P_QUAL_ITEM}"] = [
                        _snak(P_QUAL_ITEM, "wikibase-item", _item_value(pick_target()), "wikibase-entityid")
                    ]
            add(prop, _snak(prop, "wikibase-item", _item_value(dst), "wikibase-entityid"), quals)
            truth.edges.append((qid, dst))
        if r.random() < 0.6:
            add(P_STRING, _snak(P_STRING, "string", f"name-{qid}", "string"))
        if r.random() < 0.5:
            add(P_EXTID, _snak(P_EXTID, "external-id", f"{r.randrange(10**8):08d}", "string"))
        if r.random() < 0.5:
            add(P_TIME, _snak(P_TIME, "time", _time_value(r), "time"))
        if r.random() < 0.3:
            add(P_QTY, _snak(P_QTY, "quantity", {
                "amount": f"+{r.randrange(1, 100_000)}", "unit": "http://www.wikidata.org/entity/Q11573",
            }, "quantity"))
        if r.random() < 0.2:
            add(P_COORD, _snak(P_COORD, "globe-coordinate", {
                "latitude": round(r.uniform(-90, 90), 4),
                "longitude": round(r.uniform(-180, 180), 4),
                "altitude": None,
                "precision": 0.0001,
                "globe": "http://www.wikidata.org/entity/Q2",
            }, "globecoordinate"))
        if r.random() < 0.2:
            lg = r.choice(LANGS)
            add(P_MONO, _snak(P_MONO, "monolingualtext", {"text": f"title {qid}", "language": lg}, "monolingualtext"))

        ent = {
            "id": f"Q{qid}", "type": "item", "labels": labels, "descriptions": descs,
            "aliases": aliases, "claims": claims,
        }
        yield json.dumps(ent, separators=(",", ":")), truth


def _item_value(q: int) -> dict:
    return {"entity-type": "item", "numeric-id": q, "id": f"Q{q}"}


def _time_value(r: random.Random) -> dict:
    y, m, d = r.randrange(1800, 2024), r.randrange(1, 13), r.randrange(1, 29)
    return {
        "time": f"+{y:04d}-{m:02d}-{d:02d}T00:00:00Z", "timezone": 0, "before": 0, "after": 0,
        "precision": 11, "calendarmodel": "http://www.wikidata.org/entity/Q1985727",
    }


def write_dump(path: str, seed: int, n: int) -> DumpTruth:
    """Write the dump in the Wikidata layout ('[' line, one entity per
    line with a trailing comma, ']' line) and return its truth."""
    truth = DumpTruth(entities=n)
    tmp = path + ".part"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("[\n")
        for j, (line, truth) in enumerate(dump_lines(seed, n)):
            f.write(line)
            f.write(",\n" if j < n - 1 else "\n")
        f.write("]\n")
    os.replace(tmp, path)
    return truth
