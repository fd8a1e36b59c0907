"""Batch graph analytics over the statements edge list.

Extension beyond the reference (BASELINE.json north star: "GraphX for
analytics, not OLTP traversal"): PageRank, connected components and
BFS as iterative DataFrame algorithms — every step is a cluster-wide
shuffle join, the driver only counts iterations. localCheckpoint()
truncates lineage so plans stay flat across rounds.

Scale notes:
- PageRank: a superstep is one shuffle-hash join of the vertex state
  with a loop-invariant weighted edge relation plus one group-by on
  dst, the superstep's only exchange (Pregelix's join + combine). The
  uniform dangling share rides a sentinel vertex, so there is no
  per-round scalar, outer join or broadcast; lineage is cut every 5
  supersteps. One Spark job per superstep, plus three per lineage cut.
- Connected components: Shiloach-Vishkin-style component-level hooking
  (one aggregate over the edges labelled with both endpoints'
  components) with a path-halving step (comp <- min(comp, comp[comp]))
  each round — O(log n) rounds independent of graph diameter.
- BFS: ``frontier_search``, the one frontier loop (harmonic
  centrality's and the SPARQL property paths' too): a hop joins the
  frontier with the edges and anti-joins against visited, and its size
  rides its checkpoint job. 5-7 Spark jobs a hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


# --------------------------------------------------------------------------
# algorithms (generic over an edges DataFrame with columns src, dst)
# --------------------------------------------------------------------------


def _non_null(edges: DataFrame) -> DataFrame:
    """``src, dst`` without null endpoints. Columns the optimizer knows
    to be non-null get no inferred ``isnotnull`` filter, so every scan
    of a checkpoint derived from them plans identically and one
    exchange of it is reused across the joins of a round."""
    return edges.select("src", "dst").filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


#: id of PageRank's sentinel vertex, which carries the uniform dangling
#: share; Long.MinValue, so it cannot collide with a real (non-negative)
#: entity id
_SENTINEL = -(2**63)


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    dangling: str = "redistribute",
) -> DataFrame:
    """Iterative PageRank -> (node, rank). Uniform init over the node
    set. ``dangling='redistribute'`` (canonical: sinks' mass spread
    uniformly, ranks sum to 1) or ``'drop'`` (sink mass leaks — the
    variant with closed forms on simple graphs, used by the oracle).
    Duplicate edges count with their multiplicity.

    Each superstep is one join of the state with a loop-invariant
    weighted edge relation and one group-by on ``dst`` — no outer
    join, no per-round dangling aggregate. The state is ``(node, x)``
    with ``rank = x + c``, where ``c`` is the uniform dangling share
    held as the state of a sentinel vertex Z (id ``_SENTINEL``):

    - ``u -> v`` weighs ``1/deg(u)``;
    - ``Z -> v`` weighs ``W(v) = sum over u -> v of 1/deg(u)``, so
      ``c`` reaches every in-edge, and every vertex gets a message;
    - ``Z -> Z`` weighs 0: Z gets a message in every superstep;
    - ``redistribute`` only: each dangling ``d`` adds ``d -> Z`` and one
      more ``Z -> Z``, each weighing 1, so Z's sum is the dangling mass
      ``sum over d of x(d) + c``; with ``drop``, ``c`` stays 0.

    Update: ``x' = (1-damping)/n + damping*s`` and
    ``c' = damping*s/n``. ``c`` is added back to every rank once, after
    the last superstep; the edge relation is built and checkpointed
    once. One Spark job per superstep, plus three per lineage cut.
    An edge endpoint equal to the sentinel id raises ``ValueError``."""
    z = F.lit(_SENTINEL)
    edges = _non_null(edges)
    # one row per vertex with its out-degree: one aggregate, no anti join
    deg = (
        edges.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .unionByName(edges.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node")
        .agg(F.sum("out").alias("deg"))
    )
    real = edges.join(deg.withColumnRenamed("node", "src"), "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    in_w = real.groupBy("dst").agg(F.sum("w").alias("w"))
    # Z -> v for every vertex, observed for n and for the sentinel id
    obs = Observation()
    to_all = (
        deg.join(in_w, deg["node"] == in_w["dst"], "left")
        .select(z.alias("src"), F.col("node").alias("dst"), F.coalesce(F.col("w"), F.lit(0.0)).alias("w"))
        .observe(obs, F.count(F.lit(1)).alias("n"), F.count(F.when(F.col("dst") == z, 1)).alias("sentinel"))
    )
    spark = edges.sparkSession
    weighted = real.unionByName(to_all).unionByName(
        spark.range(1).select(z.alias("src"), z.alias("dst"), F.lit(0.0).alias("w"))
    )
    if dangling == "redistribute":
        sinks = deg.filter(F.col("deg") == 0)
        weighted = weighted.unionByName(
            sinks.select(F.col("node").alias("src"), z.alias("dst"), F.lit(1.0).alias("w"))
        ).unionByName(sinks.select(z.alias("src"), z.alias("dst"), F.lit(1.0).alias("w")))
    weighted = weighted.localCheckpoint()
    n, hits = obs.get["n"], obs.get["sentinel"]
    if hits:
        raise ValueError(f"pagerank: node id {_SENTINEL} is reserved for the sentinel vertex")

    base = (1.0 - damping) / n
    state = (
        weighted.filter((F.col("src") == z) & (F.col("dst") != z))
        .select(F.col("dst").alias("node"), F.lit(1.0 / n).alias("x"))
        .unionByName(spark.range(1).select(z.alias("node"), F.lit(0.0).alias("x")))
    )
    for it in range(iterations):
        # the state comes out of the previous group-by hash-partitioned
        # on node, and a shuffle-hash join keeps it there: the group-by
        # is the superstep's only exchange (AQE would otherwise turn the
        # small join into a broadcast, re-planned every superstep)
        s = (
            state.hint("shuffle_hash").join(weighted, state["node"] == weighted["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        )
        state = s.select(
            "node",
            F.when(F.col("node") == z, F.lit(damping / n) * F.col("s"))
            .otherwise(F.lit(base) + F.lit(damping) * F.col("s"))
            .alias("x"),
        )
        # lineage cut every 5th superstep keeps the plan flat
        if it % 5 == 4 or it == iterations - 1:
            state = state.localCheckpoint()
    share = state.filter(F.col("node") == z).select(F.col("x").alias("c"))
    return (
        state.filter(F.col("node") != z)
        .crossJoin(F.broadcast(share))
        .select("node", (F.col("x") + F.col("c")).alias("rank"))
    )


def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Undirected connected components -> (node, component) where
    component = min node id in the component.

    Shiloach-Vishkin-style hooking + path halving: each round merges
    whole CURRENT components (every component hooks onto the smallest
    label among ALL its members' neighbors), so components pair up
    per round and the round count is O(log n) — independent of graph
    DIAMETER. Min-label propagation would move labels ~2-3 edge-hops
    per round, i.e. O(diameter) rounds: fine for cliquish near-dup
    clusters, pathological for the chained-boilerplate shape a web
    crawl actually produces (measured on the 10x bench twin: 11 rounds
    / 13.2s -> 5 rounds / 6.4s, identical components).

    The hooks are one aggregate: the undirected edges joined with both
    endpoints' labels, filtered to ``cd < cs``, grouped by ``cs`` with
    ``min(cd)``.

    Labels are node ids and per-node monotonically non-increasing, so
    the exact-decimal label sum strictly decreases until the fixpoint
    — convergence detection is one scan-agg over the checkpointed
    round result (no join against the previous round).
    """
    edges = _non_null(edges)
    und = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    comp = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_iters):
        # every CURRENT component adopts the smallest label adjacent to
        # ANY of its members
        cs = comp.select(F.col("node").alias("src"), F.col("comp").alias("cs"))
        cd = comp.select(F.col("node").alias("dst"), F.col("comp").alias("cd"))
        hooks = (
            und.join(cs, "src")
            .join(cd, "dst")
            .filter(F.col("cd") < F.col("cs"))
            .groupBy(F.col("cs").alias("hc"))
            .agg(F.min("cd").alias("target"))
        )
        new = comp.join(hooks, comp["comp"] == F.col("hc"), "left").select(
            "node", F.coalesce(F.col("target"), F.col("comp")).alias("comp")
        )
        # path halving: comp <- comp[comp] flattens the hook chains
        c2 = new.select(F.col("node").alias("n2"), F.col("comp").alias("c2"))
        # localCheckpoint (not persist): checkpointed RDDs are cleaned
        # by the ContextCleaner when the frame goes out of scope,
        # while persist() pins blocks in the cache manager until an
        # explicit unpersist — across 50 rounds that leak OOMs a
        # default-sized driver.
        # Convergence detection rides the checkpoint job via observe(),
        # in exact decimal (node-id sums overflow a long at ~2^63
        # total): equal sum <=> no label moved <=> hook fixpoint <=>
        # every component uniformly labeled with its min id
        obs = Observation()
        new = (
            new.join(c2, new["comp"] == c2["n2"], "left")
            .select("node", F.least(F.col("comp"), F.coalesce(F.col("c2"), F.col("comp"))).alias("comp"))
            .observe(obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
            .localCheckpoint()
        )
        s = obs.get["s"]
        comp = new
        if s == prev_sum:
            return comp
        prev_sum = s
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(O(log n) expected; raise max_iters for graphs beyond ~2^50 nodes)"
    )


#: runaway bound of an exhaustive frontier search: diameter is data, so
#: a search that reaches it raises rather than answer truncated
MAX_HOPS = 65_536

#: hops between re-checkpoints of visited, a flat union of checkpointed
#: frontiers in between: the cut only bounds the plan's width
_VISITED_CUT = 16


def frontier_search(
    seed: DataFrame, expand, key: list[str], max_hops: int | None = None
) -> tuple[DataFrame, bool]:
    """The one frontier loop: a search from ``seed`` (hop 0, distinct on
    ``key``) -> ``(visited, drained)``.

    Each hop, ``expand(frontier, hop)`` gives the rows one step on (the
    seed's columns); deduplicated on ``key``, anti-joined against
    visited and checkpointed, they are the next frontier. ``key`` names
    flat columns: struct join keys trip a Catalyst binding bug (see
    Compiler._keyed_join). The hop's size rides its checkpoint job via
    ``observe``, so an empty hop ends the search without a job of its
    own; ``drained`` says whether one did within ``max_hops`` (default
    ``MAX_HOPS``)."""
    max_hops = MAX_HOPS if max_hops is None else max_hops
    visited = frontier = seed.localCheckpoint()
    for hop in range(1, max_hops + 1):
        obs = Observation()
        frontier = (
            expand(frontier, hop)
            .dropDuplicates(key)
            .join(visited.select(*key), key, "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if obs.get["n"] == 0:
            return visited, True
        visited = visited.unionByName(frontier)
        if hop % _VISITED_CUT == 0:
            visited = visited.localCheckpoint()
    return visited, False


def bfs_distances(edges: DataFrame, source: int) -> DataFrame:
    """Single-source BFS hop distances -> (node, dist)."""
    edges = edges.localCheckpoint()
    seed = edges.sparkSession.createDataFrame([(source, 0)], "node long, dist int")

    def expand(frontier: DataFrame, hop: int) -> DataFrame:
        return frontier.join(edges, frontier["node"] == edges["src"]).select(
            F.col("dst").alias("node"), F.lit(hop).alias("dist")
        )

    visited, drained = frontier_search(seed, expand, ["node"])
    if not drained:
        raise RuntimeError(f"bfs_distances did not drain within {MAX_HOPS} hops")
    return visited


# --------------------------------------------------------------------------
# driver-contract entries (over the deterministic TPC-H statements graph)
# --------------------------------------------------------------------------


_EDGE_CACHE: dict = {}
_EDGE_CACHE_MAX = 32


def _session_stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is None
    except Exception:  # noqa: BLE001 - any probe failure means unusable
        return True


def _entity_edges(spark: SparkSession, sf_dir: str, preds: list[int] | None = None) -> DataFrame:
    """Entity->entity claim edges of the TPC-H-derived graph — read off
    the shared materialized statements table (one parquet-backed build
    per session, reused by every graph entry and the SPARQL engine).

    The extracted edge list is memoized (checkpointed) per (session,
    sf_dir, preds): extraction is one pass over the full quad table —
    trivial at small sf, the dominant cost at 30x (~10s over 117M
    quads) — while the graphs themselves are dimension-sized. Same
    reuse contract as the statements cache: a deployment maintains its
    edge table, it does not re-derive it per algorithm run."""
    key = (id(spark), sf_dir, tuple(preds) if preds is not None else None)
    hit = _EDGE_CACHE.get(key)
    # the value pins the session object, so a stopped session's id can
    # never be reused by a NEW session while its entry exists; the
    # identity check is belt-and-braces
    if hit is not None and hit[0] is spark:
        return hit[1]
    from ..engine.tpch_graph import materialized_statements

    st = materialized_statements(spark, sf_dir).filter(
        (F.col("pred_kind") == "P")
        & (F.col("obj_type") == "entity")
        # default graph only: the named-graph provenance copies of the
        # chain/geo claims would otherwise double every edge
        & F.col("graph_id").isNull()
    )
    if preds is not None:
        st = st.filter(F.col("pred_id").isin(preds))
    edges = st.select(
        F.col("subject_id").alias("src"), F.col("obj_entity_id").alias("dst")
    ).localCheckpoint()
    # bounded like the merged-defaults cache (scan.py): a long-lived
    # process cycling sessions or sf_dirs must not pin sessions (and
    # their checkpointed frames) for process lifetime — drop entries of
    # stopped sessions first, then FIFO-evict
    for k in [k for k, (sess, _) in _EDGE_CACHE.items() if _session_stopped(sess)]:
        _EDGE_CACHE.pop(k, None)
    if len(_EDGE_CACHE) >= _EDGE_CACHE_MAX:
        _EDGE_CACHE.pop(next(iter(_EDGE_CACHE)), None)
    _EDGE_CACHE[key] = (spark, edges)
    return edges


@register(
    "graph_pagerank_chain",
    # closed form for 10 drop-dangling iterations on the 25-node chain
    # n -> n-1 (in-neighbor of v is v+1, head node 24 has no in-edges):
    # unrolling r_{t+1}(v) = a + d*r_t(v+1) with r_t(24) = a (t>=1),
    # r_0 = 1/25 gives, with m = 24 - v:
    #   r_10(v) = a*(1-d^min(10,m))/(1-d)
    #           + (d^10/25 if m >= 10 else d^m * a)
    """
    SELECT 3000000 + n_nationkey AS node,
           round(
             0.006 * (1 - power(0.85, least(10, 24 - n_nationkey))) / 0.15
             + CASE WHEN 24 - n_nationkey >= 10 THEN power(0.85, 10) / 25
                    ELSE power(0.85, 24 - n_nationkey) * 0.006 END,
             8) AS rank
    FROM nation
    """,
)
def graph_pagerank_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the linear nation chain (P8), drop-dangling variant:
    10 damped iterations have an exact closed form — a hash-exact
    oracle without recursive SQL. (The canonical redistribute variant
    is exercised by unit tests.)"""
    edges = _entity_edges(spark, sf_dir, preds=[8])
    r = pagerank(edges, iterations=10, damping=0.85, dangling="drop")
    return r.select("node", F.round(F.col("rank"), 8).alias("rank"))


@register(
    "graph_connected_components",
    # the chain joins all nations; customers/orders/suppliers/regions
    # attach to nations -> one giant component whose min node id is the
    # smallest customer id
    """
    WITH nodes AS (
      SELECT 1000000 + c_custkey AS node FROM customer
      UNION SELECT 2000000 + o_orderkey FROM orders
      UNION SELECT 3000000 + n_nationkey FROM nation
      UNION SELECT 4000000 + r_regionkey FROM region
      UNION SELECT 5000000 + s_suppkey FROM supplier)
    SELECT node, (SELECT min(node) FROM nodes) AS component FROM nodes
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(_entity_edges(spark, sf_dir)).select("node", "comp").withColumnRenamed("comp", "component")


@register(
    "graph_bfs_chain",
    """
    SELECT 3000000 + n_nationkey AS node,
           24 - n_nationkey AS dist
    FROM nation
    """,
)
def graph_bfs_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from the chain head (nation 24) along P8."""
    return bfs_distances(_entity_edges(spark, sf_dir, preds=[8]), source=3000024)


def _triangle_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
            FROM cand ab
            JOIN cand bc ON ab.doc_b = bc.doc_a
            JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
    nodes AS (SELECT a AS doc_id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
    SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY doc_id
    """


@register("graph_triangle_count", _triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH candidate graph —
    the density signal of near-dup communities (a boilerplate cluster
    whose candidates form many triangles is one template, not chance
    collisions).

    The ordered-triplet join (a<b<c): edges meet edges sharing their
    middle node, then the closing edge confirms — the textbook
    distributed node-iterator algorithm. Cost is O(sum deg^2) over the
    CANDIDATE graph only (LSH keeps it orders of magnitude smaller
    than the corpus); at real scale you order by degree first so the
    join fans out from low-degree endpoints. Each triangle contributes
    once per member node."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir))
    ab = cand.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = cand.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = cand.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    nodes = tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
    return nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


def _degree_hist_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    ends AS (SELECT doc_a AS doc_id FROM cand
             UNION ALL SELECT doc_b FROM cand),
    deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
    SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
    """


@register("graph_degree_histogram", _degree_hist_oracle())
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the MinHash-LSH candidate graph: how many
    near-dup partners each document has, histogrammed. The shape is the
    corpus-health readout — a fat tail (hub documents with hundreds of
    candidates) means boilerplate/template families that deserve a
    band-cap, and it is exactly the skew that decides whether the
    downstream pairwise verify is safe. Two partial-agg groupBys over
    the candidate edge list (which LSH already bounds); the histogram
    relation is #distinct-degrees rows."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir))
    ends = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def _lpa_oracle(rounds: int = 3) -> str:
    from .dedup import _CAND_CTE

    ctes = []
    for n in range(1, rounds + 1):
        ctes.append(
            f"""
    l{n} AS (SELECT node, lbl FROM (
        SELECT e.u AS node, l.lbl, count(*) AS c,
               row_number() OVER (PARTITION BY e.u
                                  ORDER BY count(*) DESC, l.lbl) AS rk
        FROM und e JOIN l{n - 1} l ON l.node = e.v
        GROUP BY e.u, l.lbl) x WHERE rk = 1)"""
        )
    return f"""
    WITH {_CAND_CTE},
    und AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
    {','.join(ctes)}
    SELECT lbl AS community, count(*) AS n_members
    FROM l{rounds} GROUP BY lbl
    """


LPA_ROUNDS = 3


@register("graph_label_propagation", _lpa_oracle(LPA_ROUNDS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection) on the
    MinHash-LSH candidate graph: every node starts as its own label,
    then for a fixed number of rounds adopts the most frequent label
    among its neighbors (ties toward the smaller label — the
    determinism that makes a cross-engine oracle possible; classic
    async LPA is run-order-dependent and unverifiable). Communities
    after 3 rounds are the template/boilerplate families of the
    near-dup graph — coarser than connected components when bands
    chain unrelated docs through a shared hub.

    Per round: one edge-label join (keyed on node id) + two partial-agg
    groupBys (vote count, then struct-min argmax). The label relation
    is node-sized, the join is edge-sized — identical shape to one
    PageRank iteration, O(rounds) shuffles total, nothing quadratic.
    Fixed round count (no convergence probe) keeps it exactly
    reproducible; sync LPA can 2-cycle on bipartite shapes, which a
    fixed horizon sidesteps deterministically."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir))
    und = (
        cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .localCheckpoint()
    )
    labels = und.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            und.join(labels, und["v"] == labels["node"], "inner")
            .groupBy("u", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # min over (-c, lbl): most votes first, then smallest label
        labels = (
            votes.groupBy("u")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias("m"))
            .select(F.col("u").alias("node"), F.col("m.lbl").alias("lbl"))
            .localCheckpoint()
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


KCORE_K = 2
KCORE_ORACLE_PEELS = 10


def _kcore_oracle(k: int = KCORE_K, peels: int = KCORE_ORACLE_PEELS) -> str:
    from .dedup import _CAND_CTE

    # AS MATERIALIZED: every peel references its predecessor three
    # times (degree count + two endpoint semi-joins) — default CTE
    # inlining would expand the chain 3^peels-fold and exhaust file
    # handles re-reading the parquet scan; materializing each stage
    # keeps the unroll linear, which is also what the Spark side's
    # per-round localCheckpoint does.
    ctes = []
    for n in range(1, peels + 1):
        ctes.append(
            f"""
    n{n} AS MATERIALIZED (SELECT u FROM e{n - 1} GROUP BY u HAVING count(*) >= {k}),
    e{n} AS MATERIALIZED (SELECT e.u, e.v FROM e{n - 1} e
             JOIN n{n} a ON e.u = a.u JOIN n{n} b ON e.v = b.u)"""
        )
    return f"""
    WITH {_CAND_CTE},
    e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
           UNION ALL SELECT doc_b, doc_a FROM cand),
    {','.join(ctes)}
    SELECT u AS doc_id, count(*) AS core_degree FROM e{peels} GROUP BY u
    """


@register("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=2) of the LSH candidate graph: peel
    nodes of degree < k until fixpoint; survivors with their in-core
    degree. The 2-core strips the chance-collision fringe (pendant
    candidates that one band alignment produced) and keeps the densely
    interlinked template families — the standard graph-sparsification
    pass before community detection or triangle counting.

    Each peel round is one partial-agg degree count + a double
    semi-join of the edge list against survivors — edge-list-sized
    shuffles keyed on node id, O(rounds) of them. Convergence is a
    node-count scalar per round (metadata-sized, like the CC label
    sum). The oracle unrolls {KCORE_ORACLE_PEELS} peels — peeling is
    idempotent at fixpoint, so the unroll just needs to be >= the real
    round count; the regression test asserts the engine converges
    within that horizon on both bench scale factors."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir))
    edges = (
        cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .localCheckpoint()
    )
    prev_nodes = -1
    for rounds_used in range(1, KCORE_ORACLE_PEELS + 1):
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("u").localCheckpoint()
        n_nodes = keep.count()
        if n_nodes == prev_nodes:
            break
        prev_nodes = n_nodes
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"graph_kcore did not converge within {KCORE_ORACLE_PEELS} peels; "
            "raise KCORE_ORACLE_PEELS (and the oracle unroll) together"
        )
    return edges.groupBy(F.col("u").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def _clustering_coeff_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
            FROM cand ab
            JOIN cand bc ON ab.doc_b = bc.doc_a
            JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
    tmem AS (SELECT a AS doc_id FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT doc_id, count(*) AS n_triangles FROM tmem GROUP BY doc_id),
    ends AS (SELECT doc_a AS doc_id FROM cand
             UNION ALL SELECT doc_b FROM cand),
    deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
    SELECT deg.doc_id, degree,
           coalesce(n_triangles, 0) AS n_triangles,
           round(2.0 * coalesce(n_triangles, 0)
                 / (degree * (degree - 1)), 6) AS clustering_coeff
    FROM deg LEFT JOIN tcnt ON deg.doc_id = tcnt.doc_id
    WHERE degree >= 2
    """


@register("graph_clustering_coeff", _clustering_coeff_oracle())
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the MinHash-LSH
    candidate graph: 2*triangles / (deg*(deg-1)) for nodes with
    degree >= 2. This is the per-document "is my near-dup neighborhood
    one template family?" score — coefficient ~1 means the candidates
    form a clique (one boilerplate source), ~0 means hub-like chance
    collisions that a band-cap should break up.

    Reuses the node-iterator triangle join and the degree aggregation
    verbatim (both over the LSH-bounded candidate graph, never the
    corpus); the coefficient is a broadcast-free left join of two
    node-keyed aggregates co-partitioned on doc_id. Exact integer
    inputs, one final round — no FP drift."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir)).localCheckpoint()
    ab = cand.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = cand.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = cand.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    return deg.join(tcnt, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.round(
            F.lit(2.0)
            * F.coalesce("n_triangles", F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ).alias("clustering_coeff"),
    )


def _jaccard_neighbors_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    adj AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    deg AS (SELECT u, count(*) AS degree FROM adj GROUP BY u),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS common_neighbors
        FROM cand c
        JOIN adj x ON x.u = c.doc_a
        JOIN adj y ON y.u = c.doc_b AND y.v = x.v
        GROUP BY c.doc_a, c.doc_b)
    SELECT c.doc_a, c.doc_b,
           coalesce(common_neighbors, 0) AS common_neighbors,
           round(coalesce(common_neighbors, 0) * 1.0
                 / (da.degree + db.degree - coalesce(common_neighbors, 0)),
                 6) AS neighbor_jaccard
    FROM cand c
    LEFT JOIN common ON common.doc_a = c.doc_a AND common.doc_b = c.doc_b
    JOIN deg da ON da.u = c.doc_a
    JOIN deg db ON db.u = c.doc_b
    """


@register("graph_jaccard_neighbors", _jaccard_neighbors_oracle())
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural (neighbor-set) Jaccard similarity for every candidate
    edge: |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. Link-prediction 101, and in a
    dedup pipeline the cheap edge-confidence score — a candidate pair
    embedded in the same dense community is a template-family edge; an
    isolated pair (jaccard 0) is more likely a chance band collision
    worth the exact verify.

    Common neighbors via the wedge join (adj ⋈ adj on the shared
    endpoint, restricted to candidate pairs — the same O(sum deg²)
    bound as the triangle count, on the LSH-bounded graph only).
    Degrees are a node-keyed partial agg; the union size is the
    inclusion-exclusion identity, so nothing materializes neighbor
    SETS — only counts join. Candidate edges with zero common
    neighbors survive via the left join (coalesce 0)."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir)).localCheckpoint()
    adj = cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    x = adj.select(F.col("u").alias("doc_a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("doc_b"), F.col("v").alias("w"))
    common = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    da = deg.select(F.col("u").alias("doc_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("u").alias("doc_b"), F.col("degree").alias("deg_b"))
    cn = F.coalesce("common_neighbors", F.lit(0))
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            cn.alias("common_neighbors"),
            F.round(
                cn * F.lit(1.0) / (F.col("deg_a") + F.col("deg_b") - cn), 6
            ).alias("neighbor_jaccard"),
        )
    )


def _adamic_adar_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    adj AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    deg AS (SELECT u, count(*) AS degree FROM adj GROUP BY u),
    wedges AS (
        SELECT c.doc_a, c.doc_b, dw.degree AS deg_w
        FROM cand c
        JOIN adj x ON x.u = c.doc_a
        JOIN adj y ON y.u = c.doc_b AND y.v = x.v
        JOIN deg dw ON dw.u = x.v),
    scores AS (
        SELECT doc_a, doc_b, count(*) AS common_neighbors,
               sum(round(1.0 / ln(deg_w), 9)::DECIMAL(18,9)) AS aa,
               sum(round(1.0 / deg_w, 9)::DECIMAL(18,9)) AS ra
        FROM wedges GROUP BY doc_a, doc_b)
    SELECT c.doc_a, c.doc_b,
           coalesce(common_neighbors, 0) AS common_neighbors,
           round(CAST(coalesce(aa, 0) AS DOUBLE), 6) AS adamic_adar,
           round(CAST(coalesce(ra, 0) AS DOUBLE), 6) AS resource_alloc
    FROM cand c
    LEFT JOIN scores s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
    """


@register("graph_adamic_adar", _adamic_adar_oracle())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar and Resource-Allocation link-prediction scores for
    every LSH candidate edge: AA = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)),
    RA = Σ 1/deg(w). Both weight common neighbors inversely by how
    promiscuous they are — a shared neighbor that touches everything
    (a boilerplate template doc) is weak evidence the pair is a real
    near-dup family, which is exactly the confidence refinement the
    plain common-neighbor count (graph_jaccard_neighbors) can't make.

    Scale shape: the same wedge join as the triangle/jaccard kernels
    (adj ⋈ adj on the shared endpoint, restricted to candidate edges —
    O(Σ deg²) on the LSH-BOUNDED graph, never the corpus), with the
    degree relation joined onto the wedge midpoint. A common neighbor
    has degree >= 2 by construction, so ln(deg) > 0 always.

    Determinism: each weight is one double op rounded half-up to 9dp,
    then accumulated as exact DECIMAL(18,9) — groupBy sum association
    order cannot move the result (the same trick as
    events_survival_hazard's cumulative hazard); one final 6dp round.
    """
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir)).localCheckpoint()
    adj = cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    x = adj.select(F.col("u").alias("doc_a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("doc_b"), F.col("v").alias("w"))
    dw = deg.select(F.col("u").alias("w"), F.col("degree").alias("deg_w"))
    scores = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "w"])
        .join(dw, "w")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("deg_w")), 9).cast("decimal(18,9)")
            ).alias("aa"),
            F.sum(
                F.round(F.lit(1.0) / F.col("deg_w"), 9).cast("decimal(18,9)")
            ).alias("ra"),
        )
    )
    return cand.join(scores, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce("common_neighbors", F.lit(0)).alias("common_neighbors"),
        F.round(F.coalesce(F.col("aa"), F.lit(0)).cast("double"), 6).alias(
            "adamic_adar"
        ),
        F.round(F.coalesce(F.col("ra"), F.lit(0)).cast("double"), 6).alias(
            "resource_alloc"
        ),
    )


HARMONIC_SOURCES = 8
HARMONIC_ROUNDS = 3
HARMONIC_TOPK = 50


def _harmonic_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH {_CAND_CTE},
    adj AS (SELECT doc_a AS u, doc_b AS v FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
    srcs AS (SELECT u AS s FROM (SELECT DISTINCT u FROM adj)
             ORDER BY u LIMIT {HARMONIC_SOURCES}),
    r1 AS (SELECT DISTINCT srcs.s, e.v
           FROM srcs JOIN adj e ON e.u = srcs.s WHERE e.v <> srcs.s),
    r2 AS (SELECT DISTINCT f.s, e.v
           FROM r1 f JOIN adj e ON e.u = f.v
           LEFT JOIN r1 x ON x.s = f.s AND x.v = e.v
           WHERE x.v IS NULL AND e.v <> f.s),
    r3 AS (SELECT DISTINCT f.s, e.v
           FROM r2 f JOIN adj e ON e.u = f.v
           LEFT JOIN r1 x1 ON x1.s = f.s AND x1.v = e.v
           LEFT JOIN r2 x2 ON x2.s = f.s AND x2.v = e.v
           WHERE x1.v IS NULL AND x2.v IS NULL AND e.v <> f.s),
    dist AS (SELECT s, v, 1 AS d FROM r1
             UNION ALL SELECT s, v, 2 FROM r2
             UNION ALL SELECT s, v, 3 FROM r3)
    SELECT v AS doc_id, count(*) AS n_sources_reaching,
           round(CAST(sum(round(1.0 / d, 9)::DECIMAL(18,9)) AS DOUBLE), 6)
               AS harmonic
    FROM dist GROUP BY v
    ORDER BY harmonic DESC, doc_id LIMIT {HARMONIC_TOPK}
    """


@register("graph_harmonic_centrality", _harmonic_oracle())
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality on the candidate graph: multi-source
    BFS from the {HARMONIC_SOURCES} lowest-id nodes, 3 rounds deep;
    each node's score sums 1/dist over the sources that reach it —
    the standard scalable estimator for "which docs sit at the center
    of the near-dup web" (exact all-pairs harmonic is O(V·E); sampling
    sources is how production graph stacks (and the original HyperBall
    line of work) bound it, and more samples just widen the source
    dimension of the SAME frontier join).

    Scale shape: ONE grouped ``frontier_search`` keyed (source, node)
    carries the source id through the frontier join (the paths.py
    GRAPH-?g lesson — never a per-source loop); each round is an edge
    equi-join + a (source, node) dedup + an anti-join against the
    visited relation. Depth is a constant (``max_hops``), so the oracle
    unrolls the exact same three rounds.

    Determinism: distances are small exact ints; 1/d is rounded to 9dp
    and summed as DECIMAL(18,9); the top-{HARMONIC_TOPK} tie-breaks on
    doc_id."""
    from .dedup import _shingled, minhash_candidates

    cand = minhash_candidates(_shingled(spark, sf_dir)).localCheckpoint()
    adj = cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        cand.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    srcs = (
        adj.select("u").distinct().orderBy("u").limit(HARMONIC_SOURCES).select(
            F.col("u").alias("s")
        )
    )
    edges = adj.select(F.col("u").alias("eu"), F.col("v").alias("ev"))

    def expand(frontier: DataFrame, hop: int) -> DataFrame:
        return frontier.join(edges, frontier.v == F.col("eu")).select(
            "s", F.col("ev").alias("v"), F.lit(hop).alias("d")
        )

    seed = srcs.select("s", F.col("s").alias("v"), F.lit(0).alias("d"))
    reach, _ = frontier_search(seed, expand, ["s", "v"], max_hops=HARMONIC_ROUNDS)
    return (
        reach.filter(F.col("d") > 0)
        .groupBy(F.col("v").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_sources_reaching"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("d"), 9).cast("decimal(18,9)")
                ).cast("double"),
                6,
            ).alias("harmonic"),
        )
        .orderBy(F.desc("harmonic"), "doc_id")
        .limit(HARMONIC_TOPK)
    )
