"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus a random-
hyperplane LSH bucketing as the approximate scale path (only vectors in
the same bucket are compared at query time). Dot products use
``F.zip_with`` + ``F.aggregate`` — JVM higher-order functions, no
Python in the row path.

Scale notes: brute-force top-k against a single query vector is a map +
TakeOrdered — embarrassingly parallel, no shuffle of the corpus. For
all-pairs similarity the LSH bucket join bounds the candidate set the
same way MinHash-LSH does for documents.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..rounding import round_half_up
from ..tables import table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


def _as_double(col: str):
    return F.col(col).cast("array<double>")


def dot(a, b):
    """Sequential fold dot product (matches the oracle's list order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    spark: SparkSession, corpus: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector."""
    q = [float(x) for x in query_vec]
    qnorm = math.sqrt(sum(x * x for x in q))
    qcol = F.array(*[F.lit(x) for x in q])
    emb = _as_double("embedding")
    sim = F.round(dot(emb, qcol) / (norm(emb) * F.lit(qnorm)), 6)
    return (
        corpus.select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@register(
    "embedding_knn_topk",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
    p0 AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS i,
                  unnest(e.embedding)::DOUBLE AS x, q.qe AS qe
           FROM e, q),
    p AS (SELECT vec_id, x, qe[i]::DOUBLE AS y FROM p0),
    a AS (SELECT vec_id, sum(x * y) AS dot, sqrt(sum(x * x)) AS nx, sqrt(sum(y * y)) AS ny
          FROM p GROUP BY vec_id)
    SELECT vec_id, round(dot / (nx * ny), 6) AS sim
    FROM a ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def embedding_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbours of vec_id 0."""
    e = table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk(spark, e.filter(F.col("vec_id") != 0), list(qvec), k=10)


@register(
    "embedding_centroid_norm",
    """
    WITH p AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                      unnest(embedding)::DOUBLE AS val
               FROM embeddings),
    c AS (SELECT label, pos, avg(val) AS c FROM p GROUP BY label, pos)
    SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm
    FROM c GROUP BY label
    """,
)
def embedding_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (mean per dimension), reported by L2 norm —
    the building block of IVF coarse quantization."""
    e = table(spark, sf_dir, "embeddings")
    p = e.select("label", F.posexplode(_as_double("embedding")).alias("pos", "val"))
    c = p.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    return c.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm")
    )


def centroids_by_label(corpus: DataFrame) -> DataFrame:
    """Per-label mean vector -> (label, centroid array<double>). The
    coarse quantizer of IVF: one narrow shuffle of (label, pos, sum)
    partials; centroid count ~ cells, never corpus-sized.

    Centroid dims round to KMEANS_ROUND (7dp) like every trained
    centroid in this module (ADVICE r06): F.avg is accumulation-order
    sensitive at ~1e-15, and an unrounded centroid fed into a
    probe-cell ranking can flip the probed cell between engines,
    cascading into every downstream recall/top-k row."""
    p = corpus.select("label", F.posexplode(_as_double("embedding")).alias("pos", "val"))
    c = p.groupBy("label", "pos").agg(F.round(F.avg("val"), KMEANS_ROUND).alias("cv"))
    return c.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame, query_vec: list[float], k: int = 10, nprobe: int = 2
) -> DataFrame:
    """IVF approximate top-k: rank coarse cells (per-label centroids)
    by cosine to the query, search only the best ``nprobe`` cells.

    Scale shape: the probed-cell ids are a driver-side list of size
    nprobe (centroids are ~sqrt(N) rows — collecting nprobe ids is not
    a corpus collect); the fine search is the brute-force kernel over
    the probed fraction of the corpus, i.e. ~nprobe/cells of the data,
    with partition pruning if the corpus is written partitioned by
    cell."""
    q = [float(x) for x in query_vec]
    qnorm = math.sqrt(sum(x * x for x in q))
    qcol = F.array(*[F.lit(x) for x in q])
    cents = centroids_by_label(corpus)
    # csim rounds to 6dp BEFORE the probe ranking (ADVICE r06): the
    # dot-product accumulation order differs between engines, and the
    # probe argmax must see identical tie sets
    scored = cents.select(
        "label",
        F.round(
            dot(F.col("centroid"), qcol) / (norm(F.col("centroid")) * F.lit(qnorm)), 6
        ).alias("csim"),
    )
    probed = [
        r["label"]
        for r in scored.orderBy(F.col("csim").desc(), F.col("label")).limit(nprobe).collect()
    ]
    cell = corpus.filter(F.col("label").isin(probed))
    emb = _as_double("embedding")
    sim = F.round(dot(emb, qcol) / (norm(emb) * F.lit(qnorm)), 6)
    return (
        cell.select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@register(
    "embedding_ivf_topk",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    p AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding)::DOUBLE AS val
          FROM embeddings WHERE vec_id <> 0),
    c AS (SELECT label, pos, round(avg(val), 7) AS cv FROM p GROUP BY label, pos),
    cq AS (SELECT c.label,
                  sum(cv * qe[pos]::DOUBLE) AS dotp,
                  sqrt(sum(cv * cv)) AS nc,
                  sqrt(sum((qe[pos]::DOUBLE) ^ 2)) AS nq
           FROM c, q GROUP BY c.label),
    probe AS (SELECT label FROM cq
              ORDER BY round(dotp / (nc * nq), 6) DESC, label LIMIT 2),
    e AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id <> 0 AND label IN (SELECT label FROM probe)),
    p0 AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS i,
                  unnest(e.embedding)::DOUBLE AS x, q.qe AS qe
           FROM e, q),
    pp AS (SELECT vec_id, x, qe[i]::DOUBLE AS y FROM p0),
    a AS (SELECT vec_id, sum(x * y) AS dotp, sqrt(sum(x * x)) AS nx,
                 sqrt(sum(y * y)) AS ny
          FROM pp GROUP BY vec_id)
    SELECT vec_id, round(dotp / (nx * ny), 6) AS sim
    FROM a ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (nprobe=2 of 10 label cells) top-10 for vec_id 0's vector —
    the scale path next to the exact `embedding_knn_topk` baseline."""
    e = table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ivf_topk(e.filter(F.col("vec_id") != 0), list(qvec), k=10, nprobe=2)


N_PLANES = 8


@register(
    "embedding_lsh_buckets",
    f"""
    WITH r AS (SELECT j.j, i.i,
                      ((('0x' || substr(md5(j.j || '_' || i.i), 1, 8))::BIGINT % 1000)
                       / 1000.0 - 0.5) AS rv
               FROM generate_series(0, {N_PLANES - 1}) j(j),
                    generate_series(1, 64) i(i)),
    p AS (SELECT e.vec_id, r.j, e.embedding[r.i]::DOUBLE * r.rv AS prod
          FROM embeddings e JOIN r ON r.i <= len(e.embedding)),
    d AS (SELECT vec_id, j, sum(prod) AS dotp FROM p GROUP BY vec_id, j)
    SELECT vec_id,
           CAST(sum(CASE WHEN dotp > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
    FROM d GROUP BY vec_id
    """,
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 md5-derived deterministic hyperplanes ->
    8-bit bucket id per vector. ANN search then compares only within a
    bucket (and its neighbours) instead of the full corpus."""
    return lsh_bucket_assignments(table(spark, sf_dir, "embeddings"))


def lsh_bucket_assignments(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, ...) -> (vec_id, bucket). The candidate-
    bounding half of `dedup.dedup_embedding_lsh_verified`."""
    p = e.select("vec_id", F.posexplode(_as_double("embedding")).alias("pos", "val"))
    p = p.withColumn("i", F.col("pos") + 1)
    planes = p.select(
        "vec_id",
        "val",
        "i",
        F.explode(F.sequence(F.lit(0), F.lit(N_PLANES - 1))).alias("j"),
    ).withColumn(
        "rv",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("_"), F.col("i").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
        / 1000.0
        - 0.5,
    )
    d = planes.groupBy("vec_id", "j").agg(F.sum(F.col("val") * F.col("rv")).alias("dotp"))
    return d.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dotp") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bucket")
    )


@register(
    "embedding_knn_join",
    f"""
    WITH r AS (SELECT j.j, i.i,
                      ((('0x' || substr(md5(j.j || '_' || i.i), 1, 8))::BIGINT % 1000)
                       / 1000.0 - 0.5) AS rv
               FROM generate_series(0, {N_PLANES - 1}) j(j),
                    generate_series(1, 64) i(i)),
    pl AS (SELECT e.vec_id, r.j, e.embedding[r.i]::DOUBLE * r.rv AS prod
           FROM embeddings e JOIN r ON r.i <= len(e.embedding)),
    d AS (SELECT vec_id, j, sum(prod) AS dotp FROM pl GROUP BY vec_id, j),
    bk AS (SELECT vec_id,
                  CAST(sum(CASE WHEN dotp > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
           FROM d GROUP BY vec_id),
    e2 AS (SELECT e.vec_id, e.embedding, bk.bucket
           FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
    p0 AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                  generate_subscripts(a.embedding, 1) AS i,
                  unnest(a.embedding)::DOUBLE AS x, b.embedding AS eb
           FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    p AS (SELECT va, vb, x, eb[i]::DOUBLE AS y FROM p0),
    s AS (SELECT va, vb, sum(x * y) AS dotp,
                 sqrt(sum(x * x)) AS nx, sqrt(sum(y * y)) AS ny
          FROM p GROUP BY va, vb),
    sims AS (SELECT va, vb, round(dotp / (nx * ny), 6) AS sim FROM s)
    SELECT va AS vec_id, vb AS neighbor_id, sim, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY va
                                     ORDER BY sim DESC, vb) AS rk
        FROM sims) x
    WHERE rk <= 3
    """,
)
def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN — top-3 nearest neighbours for EVERY vector, the
    retrieval shape a training pipeline runs corpus-wide (hard-negative
    mining, semantic dedup sweeps), not the single-query top-k of
    ``embedding_knn_topk``.

    Scale shape: candidates are bounded by the same hyperplane-LSH
    equi-join on `bucket` as the near-dup pipeline (never an all-pairs
    cross product); the exact cosine runs per candidate pair, and the
    per-query rank window partitions by query vector over its bucket's
    candidates only. Rounded sim + neighbour-id tie-break keeps the
    ranking engine-stable. Production recall tuning (multi-probe /
    multiple hash tables) unions more bucket joins — the plan shape is
    unchanged."""
    e = table(spark, sf_dir, "embeddings")
    buckets = lsh_bucket_assignments(e)
    eb = e.join(buckets, "vec_id")
    a = eb.select(
        F.col("vec_id"), F.col("bucket").alias("bucket_a"), _as_double("embedding").alias("ea")
    )
    b = eb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("bucket_b"),
        _as_double("embedding").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("bucket_a") == F.col("bucket_b")) & (F.col("vec_id") != F.col("neighbor_id"))
    )
    sim = F.round(dot(F.col("ea"), F.col("nb")) / (norm(F.col("ea")) * norm(F.col("nb"))), 6)
    sims = pairs.select("vec_id", "neighbor_id", sim.alias("sim"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("vec_id", "neighbor_id", "sim", "rk")
    )


@register(
    "embedding_quantize_int8",
    """
    WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x)))::DOUBLE AS maxabs
        FROM embeddings),
    q AS (
        SELECT vec_id, maxabs,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * (127.0 / maxabs))::BIGINT) AS qv
        FROM m WHERE maxabs > 0)
    SELECT vec_id,
           round(127.0 / maxabs, 6)  AS scale,
           list_sum(qv)::BIGINT      AS q_sum,
           list_min(qv)::BIGINT      AS q_min,
           list_max(qv)::BIGINT      AS q_max
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization of the embedding column (the compression step
    before a memory-bound ANN index): per-vector max-abs scaling to
    [-127, 127] with floor() as the quantizer — floor on identical
    doubles is bit-deterministic across engines, unlike .5-tie
    rounding, so the oracle hash-matches. Output keeps scalar summary
    columns (scale, sum/min/max of the quantized vector): the driver
    canonicalizer sorts scalars, not arrays.

    Map-only (one higher-order-function projection, no shuffle, no
    Python row path) — linear at any corpus size.
    """
    emb = table(spark, sf_dir, "embeddings")
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double")
    emb = emb.select("vec_id", "embedding", maxabs.alias("maxabs")).filter(
        F.col("maxabs") > 0
    )
    scale = F.lit(127.0) / F.col("maxabs")
    qv = F.transform("embedding", lambda x: F.floor(x.cast("double") * scale))
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's) over the embedding corpus
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
#: centroid dims are rounded to this many decimals after every update,
#: ON BOTH ENGINES — the averages are accumulation-order-sensitive at
#: ~1e-15, and rounding pins them to identical values so the next
#: iteration's argmin sees bit-identical centroids. Assignment argmin
#: gaps measured >= 6.7e-6 at sf<=0.1, four orders above the 5e-8
#: rounding perturbation (which both engines share anyway).
KMEANS_ROUND = 7

_KM_D2 = "list_aggregate(list_transform(list_zip(e.v, c.cv), s -> (s[1]-s[2])**2), 'sum')"


def _kmeans_ctes(
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    pfx: str = "",
    vexpr: str = "embedding::DOUBLE[]",
    with_kw: bool = True,
) -> str:
    """The unrolled-Lloyd's WITH-body shared by every oracle that needs
    the trained assignment (`a{iters}`) / centroids (`c{iters}`):
    embedding_kmeans reports cluster sizes, embedding_cluster_purity
    joins the assignment against the labels. ``pfx``/``vexpr``/
    ``with_kw`` let one query carry several independent fits (the PQ
    oracle trains one codebook per subvector slice in a single WITH)."""
    ctes = []
    for n in range(1, iters + 1):
        ctes.append(
            f"""
    {pfx}a{n} AS (SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_KM_D2}, c.cid) AS rk
        FROM {pfx}e e CROSS JOIN {pfx}c{n - 1} c) x WHERE rk = 1),
    {pfx}c{n} AS (SELECT cid, list(av ORDER BY i) AS cv FROM (
        SELECT cid, i, round(avg(x), {KMEANS_ROUND}) AS av FROM (
            SELECT cid, generate_subscripts(v, 1) AS i, unnest(v) AS x
            FROM {pfx}a{n}) u
        GROUP BY cid, i) g GROUP BY cid)"""
        )
    return f"""
    {'WITH ' if with_kw else ''}{pfx}e AS (SELECT vec_id, {vexpr} AS v FROM embeddings),
    {pfx}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
           FROM (SELECT vec_id, v FROM {pfx}e ORDER BY vec_id LIMIT {k}) q),
    {','.join(ctes)}"""


def _kmeans_oracle(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    return f"""
    {_kmeans_ctes(k, iters)}
    SELECT a.cid AS cluster_id, count(*) AS n_members,
           any_value(round(sqrt(list_aggregate(
               list_transform(c.cv, x -> x*x), 'sum')), 6)) AS centroid_norm
    FROM a{iters} a JOIN c{iters} c USING (cid) GROUP BY a.cid
    """


def _fold_best(scored_arr, better):
    """Fold an array of (s, cid) structs to the single best element.
    The array arrives in ascending-cid order and ``better(x, acc)``
    is strict, so ties keep the earlier (lower) cid — the exact
    tie-break the struct-extremum aggregate used."""
    first = F.element_at(scored_arr, 1)
    rest = F.slice(
        scored_arr, F.lit(2), F.greatest(F.size(scored_arr) - 1, F.lit(0))
    )
    return F.aggregate(
        rest, first, lambda acc, x: F.when(better(x, acc), x).otherwise(acc)
    )


def _scored_centroids(metric: str):
    """(cents array<struct<cid,cv>>, v) -> per-centroid (s, cid) array
    + the strict 'better' comparison replicating Spark's struct-
    extremum ordering, NaN placement included (NaN sorts LAST, so max
    prefers NaN and min avoids it)."""
    if metric == "cosine":
        scored = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (
                    dot(F.col("v"), c["cv"]) / (norm(F.col("v")) * norm(c["cv"]))
                ).alias("s"),
                c["cid"].alias("cid"),
            ),
        )

        def better(x, acc):
            return (x["s"] > acc["s"]) | (F.isnan(x["s"]) & ~F.isnan(acc["s"]))

        return scored, better
    if metric != "l2":
        raise ValueError(f"unknown metric {metric!r}")
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("v"), c["cv"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
            c["cid"].alias("cid"),
        ),
    )

    def better(x, acc):
        return (x["s"] < acc["s"]) | (F.isnan(acc["s"]) & ~F.isnan(x["s"]))

    return scored, better


def assign_nearest(e: DataFrame, cent: DataFrame, metric: str = "l2") -> DataFrame:
    """(vec_id, v) x broadcast (cid, cv) -> (vec_id, cid, v): each
    vector assigned to its nearest centroid, ties broken toward the
    LOWER cid on both metrics — the one tie-break rule shared by
    `kmeans_fit` and `dedup.dedup_semantic`, kept in one place so the
    cross-engine bit-identical contract can't drift between copies.

    PRECONDITION (ADVICE r08): ``e``'s vec_ids must be unique. The
    round-8 per-row fold emits exactly one output row per INPUT row,
    where the pre-r8 groupBy('vec_id') formulation collapsed duplicate
    vec_ids to one row; every current caller (kmeans_fit,
    dedup_semantic, outlier z-scores) feeds a keyed vector table, so
    the contract holds — a new caller with duplicate ids must dedup
    first.

    Round 8 shape: the centroid table folds to ONE broadcast row
    holding the ascending-cid array, and each vector picks its argmin
    with a per-row fold over that array — a pure narrow map. The
    former broadcast crossJoin (N x k rows) + struct-extremum groupBy
    planned as SortAggregate (struct buffers are not hash-aggregable),
    i.e. a full sort of N x k rows per call, with the vectors riding
    the shuffle (guide §2.3/§2.4: the aggregation only undid the
    crossJoin's fan-out — fold per row and neither exists). Scores,
    comparison order and NaN placement replicate the struct extremum
    exactly (tests/test_round8_opt.py pins fold == struct-extremum,
    NaN vectors included)."""
    cents = cent.select(F.struct("cid", "cv").alias("c")).agg(
        F.array_sort(F.collect_list("c")).alias("cents")
    )
    withc = e.crossJoin(F.broadcast(cents)).filter(F.size("cents") > 0)
    scored, better = _scored_centroids(metric)
    best = _fold_best(scored, better)
    return withc.select("vec_id", best["cid"].alias("cid"), "v")


def kmeans_fit(e: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> DataFrame:
    """Lloyd's k-means over (vec_id, v double[]): deterministic init
    (the k lowest-vec_id vectors), `iters` assign/update rounds, empty
    clusters dropped. Returns final assignments joined with centroids:
    (vec_id, v, cid, cv).

    Each round is broadcast(centroids) crossJoin -> argmin (one
    partial-agg groupBy over N*k rows) -> centroid update (posexplode
    + (cid, dim)-grouped avg over N*D values — partial-aggregated
    map-side, so the shuffle carries k*D rows per partition, not
    vectors). Per-iteration cost is linear in corpus size. Each
    round's centroid table (k*D doubles — tiny) is localCheckpoint'ed,
    like graph.py's iteration loops: the unrolled DAG otherwise
    references round r's assign subtree from every later round (AQE's
    ReuseExchange dedups the re-execution locally — measured parity at
    the 100x probe — so the win is bounded plan depth / driver plan-
    build time at higher iteration counts). NOTE localCheckpoint is
    NOT fault tolerant: blocks live on executor storage and executor
    loss aborts the job instead of recomputing. That is the right
    trade on local[N] and for short interactive fits; a long cluster
    run should swap in reliable ``checkpoint()`` (HDFS-backed) — one
    line — or drop the cut and accept lineage recompute."""
    cent = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
            F.col("v").alias("cv"),
        )
    )
    assigned = None
    for it in range(iters):
        assigned = assign_nearest(e, cent, metric="l2")
        dims = assigned.select("cid", F.posexplode("v").alias("i", "x"))
        cent = (
            dims.groupBy("cid", "i")
            .agg(F.round(F.avg("x"), KMEANS_ROUND).alias("av"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "av"))),
                    lambda s: s.getField("av"),
                ).alias("cv")
            )
        )
        # k rows: materialize the round so later rounds (and the final
        # join, which references this round's assign twice) never
        # re-run the N*k assign that produced these centroids
        cent = cent.localCheckpoint(eager=True)
    return assigned.join(cent, "cid")


@register("embedding_kmeans", _kmeans_oracle())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus — the trained-
    centroid step that SemDeDup (`dedup_semantic`) and IVF
    (`embedding_ivf_topk`) assume: 3 Lloyd iterations from a
    deterministic seed, reporting per-cluster size and centroid norm.
    The oracle is the same algorithm unrolled in SQL; both engines
    round centroid dims identically each round, so the iteration
    trajectories are bit-identical (see KMEANS_ROUND).

    Reference has no clustering (SPARQL store); beyond-parity
    training-pipeline operator."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", _as_double("embedding").alias("v"))
    fitted = kmeans_fit(e)
    return fitted.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.first(norm(F.col("cv"))), 6).alias("centroid_norm"),
    ).select(F.col("cid").alias("cluster_id"), "n_members", "centroid_norm")


# ---------------------------------------------------------------------------
# Power iteration: top principal component of the embedding corpus
# ---------------------------------------------------------------------------

PI_STEPS = 3
#: per-step aggregates (mean vector, covariance-product vector, and the
#: normalized direction) round to this many decimals on both engines —
#: same determinism contract as KMEANS_ROUND / LR_GRAD_ROUND.
PI_ROUND = 9


def _power_iteration_oracle(steps: int = PI_STEPS) -> str:
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        """dims AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x
               FROM e)""",
        f"m AS (SELECT i, round(avg(x), {PI_ROUND}) AS mi FROM dims GROUP BY i)",
        "c AS (SELECT d.vec_id, d.i, d.x - m.mi AS xc FROM dims d JOIN m USING (i))",
        # v0 = e_1 (deterministic start)
        "v0 AS (SELECT i, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS vi FROM m)",
    ]
    for s in range(1, steps + 1):
        ctes.append(
            f"""s{s} AS (SELECT c.vec_id, sum(c.xc * v.vi) AS sc
               FROM c JOIN v{s - 1} v USING (i) GROUP BY c.vec_id)"""
        )
        ctes.append(
            f"""u{s} AS (SELECT c.i, round(avg(c.xc * s.sc), {PI_ROUND}) AS ui
               FROM c JOIN s{s} s USING (vec_id) GROUP BY c.i)"""
        )
        ctes.append(
            f"""v{s} AS (SELECT i, round(ui / (SELECT sqrt(sum(ui * ui)) FROM u{s}),
                               {PI_ROUND}) AS vi FROM u{s})"""
        )
    ctes.append(
        f"""sf AS (SELECT c.vec_id, sum(c.xc * v.vi) AS sc
           FROM c JOIN v{steps} v USING (i) GROUP BY c.vec_id)"""
    )
    ctes.append(
        "tv AS (SELECT vec_id, sum(xc * xc) AS ssq FROM c GROUP BY vec_id)"
    )
    return f"""
    WITH {','.join(ctes)}
    SELECT (SELECT count(*) FROM e) AS n_vectors,
           round((SELECT avg(sc * sc) FROM sf), 4) AS lambda1,
           round((SELECT avg(ssq) FROM tv), 4) AS total_var,
           round((SELECT avg(sc * sc) FROM sf)
                 / (SELECT avg(ssq) FROM tv), 6) AS explained_ratio,
           (SELECT round(vi, 6) FROM v{steps} WHERE i = 1) AS pc_0,
           (SELECT round(vi, 6) FROM v{steps} WHERE i = 2) AS pc_1,
           (SELECT round(vi, 6) FROM v{steps} WHERE i = 3) AS pc_2,
           (SELECT round(vi, 6) FROM v{steps} WHERE i = 4) AS pc_3
    """


@register("embedding_power_iteration", _power_iteration_oracle())
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by distributed power iteration: v <-
    normalize(Cov . v), 3 steps from the deterministic start e_1.
    Each step is ONE pass — the per-row projection (x-m).v is a
    codegen'd fold against the broadcast direction, and the
    covariance-product vector avg((x-m).v * (x-m)) is a D-row
    partial-agg the driver normalizes (metadata-sized collect, like
    the LR gradients). Mean/product/direction vectors round
    identically on both engines each step, so the iteration
    trajectory matches the unrolled-SQL oracle bit-for-bit. Reports
    the dominant eigenvalue, total variance, explained ratio, and the
    first four component loadings.

    Scale: #steps passes of map+combine work; nothing shuffles wider
    than D rows. The D x D covariance matrix is never materialized —
    that is the point of power iteration at 100 TB (D^2 doubles may
    fit anywhere, but N x D
    . D^2 matmuls as a shuffle do not).
    Reference has no linear-algebra surface; beyond-parity operator."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", _as_double("embedding").alias("v"))
    n_dim = len(e.select("v").first()[0])

    # mean vector (rounded, both engines)
    dims = e.select(F.posexplode("v").alias("i", "x"))
    m_rows = dims.groupBy("i").agg(F.round(F.avg("x"), PI_ROUND).alias("mi")).collect()
    m = [0.0] * n_dim
    for r in m_rows:
        m[r.i] = r.mi
    m_arr = F.array(*[F.lit(x) for x in m])
    xc = F.zip_with(F.col("v"), m_arr, lambda x, y: x - y)
    cen = e.select("vec_id", xc.alias("xc"))

    vcur = [1.0] + [0.0] * (n_dim - 1)
    for _ in range(PI_STEPS):
        v_arr = F.array(*[F.lit(x) for x in vcur])
        sc = F.aggregate(
            F.zip_with(F.col("xc"), v_arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        u_rows = (
            cen.select(sc.alias("sc"), F.posexplode("xc").alias("i", "x"))
            .groupBy("i")
            .agg(F.round(F.avg(F.col("x") * F.col("sc")), PI_ROUND).alias("ui"))
            .collect()
        )
        u = [0.0] * n_dim
        for r in u_rows:
            u[r.i] = r.ui
        nn = math.sqrt(sum(x * x for x in u))
        vcur = [round_half_up(x / nn, PI_ROUND) for x in u]

    v_arr = F.array(*[F.lit(x) for x in vcur])
    sc = F.aggregate(
        F.zip_with(F.col("xc"), v_arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ssq = F.aggregate(
        F.transform(F.col("xc"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return cen.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(sc * sc), 4).alias("lambda1"),
        F.round(F.avg(ssq), 4).alias("total_var"),
        F.round(F.avg(sc * sc) / F.avg(ssq), 6).alias("explained_ratio"),
        F.round(F.lit(vcur[0]), 6).alias("pc_0"),
        F.round(F.lit(vcur[1]), 6).alias("pc_1"),
        F.round(F.lit(vcur[2]), 6).alias("pc_2"),
        F.round(F.lit(vcur[3]), 6).alias("pc_3"),
    )


def _purity_oracle(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    return f"""
    {_kmeans_ctes(k, iters)},
    cont AS (
        SELECT a.cid, emb.label, count(*) AS n
        FROM a{iters} a JOIN embeddings emb USING (vec_id)
        GROUP BY a.cid, emb.label),
    tot AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_members FROM cont GROUP BY cid),
    top AS (
        SELECT cid, label AS majority_label, n AS n_majority FROM (
            SELECT cid, label, n,
                   row_number() OVER (PARTITION BY cid
                                      ORDER BY n DESC, label ASC) AS rk
            FROM cont) x WHERE rk = 1)
    SELECT t.cid AS cluster_id, tot.n_members,
           t.majority_label, t.n_majority,
           round(t.n_majority / (tot.n_members * 1.0), 6) AS purity
    FROM top t JOIN tot USING (cid)
    """


@register("embedding_cluster_purity", _purity_oracle())
def embedding_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: the contingency of trained k-means
    clusters against the ground-truth ``label`` column — per cluster,
    its size, majority label, and purity (majority fraction). This is
    the eval loop a pipeline runs after [[embedding_kmeans]]; the
    trained assignment is the SAME unrolled-Lloyd's trajectory (shared
    CTE builder, shared KMEANS_ROUND contract), so Spark and the oracle
    score an identical clustering. The contingency is one partial-agg
    groupBy over (cid, label) — #clusters x #labels rows — and the
    argmax breaks count ties toward the lower label on both engines."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    labels = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assigned = kmeans_fit(e).select("vec_id", "cid")
    cont = (
        assigned.join(labels, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cont.groupBy("cid").agg(F.sum("n").alias("n_members"))
    w = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    top = (
        cont.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cid", F.col("label").alias("majority_label"), F.col("n").alias("n_majority"))
    )
    return (
        top.join(tot, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "majority_label",
            "n_majority",
            F.round(F.col("n_majority") / F.col("n_members").cast("double"), 6).alias(
                "purity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codebooks (round-6 extension)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (PQ_M * PQ_SUB = embedding dim 64)
PQ_K = 8  # codewords per subspace -> 3 bits, 12 bits per vector total
PQ_ITERS = 2


def _pq_oracle() -> str:
    chains, selects = [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        pfx = f"s{s}_"
        chains.append(
            _kmeans_ctes(
                PQ_K,
                PQ_ITERS,
                pfx=pfx,
                vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
                with_kw=False,
            )
        )
        selects.append(
            f"SELECT vec_id, {s} AS subspace, cid AS code FROM {pfx}a{PQ_ITERS}"
        )
    return "WITH " + ",".join(chains) + "\n" + "\nUNION ALL\n".join(selects)


def kmeans_fit_grouped(es: DataFrame, k: int, iters: int) -> DataFrame:
    """Assignment half of `_kmeans_grouped` (kept as the public
    name used by `embedding_pq_encode`)."""
    assigned, _cent = _kmeans_grouped(es, k, iters)
    return assigned


def _kmeans_grouped(es: DataFrame, k: int, iters: int) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means trained independently PER GROUP, all groups in
    the SAME cluster-wide jobs: ``es`` is (grp, vec_id, v) and the
    return is the final assignment (grp, vec_id, cid). Identical
    per-group trajectory to `kmeans_fit` on that group alone — same
    k-lowest-vec_id init, KMEANS_ROUND centroid rounding, (d2, cid)
    tie-break — so any oracle for the per-group fit verifies this one.

    The group id rides in the broadcast-join key and the groupBy keys:
    per iteration ONE broadcast(centroids) join + ONE argmin groupBy +
    ONE (grp, cid, dim) centroid update, independent of the number of
    groups — M sequential `kmeans_fit` calls would pay M x iters
    barriers and M scans. Init avoids any corpus-wide window: the k
    lowest vec_ids come from a TakeOrdered over the distinct id
    relation (vec_ids are shared across groups), ranked by a window
    over those k rows only, then broadcast-joined back."""
    low = es.select("vec_id").distinct().orderBy("vec_id").limit(k)
    low = low.select(
        "vec_id", (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid")
    )
    cent = es.join(F.broadcast(low), "vec_id").select(
        "grp", "cid", F.col("v").alias("cv")
    )
    assigned = None
    for _ in range(iters):
        # same round-8 fold shape as assign_nearest, with the group id
        # riding the (groups x 1 row) broadcast join key: no N x k row
        # explosion, no struct-extremum SortAggregate per iteration
        cent_arr = cent.groupBy("grp").agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )
        withc = es.join(F.broadcast(cent_arr), "grp")
        scored, better = _scored_centroids("l2")
        best = _fold_best(scored, better)
        assigned = withc.select(
            "grp", "vec_id", best["cid"].alias("cid"), "v"
        )
        dims = assigned.select("grp", "cid", F.posexplode("v").alias("i", "x"))
        cent = (
            dims.groupBy("grp", "cid", "i")
            .agg(F.round(F.avg("x"), KMEANS_ROUND).alias("av"))
            .groupBy("grp", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "av"))),
                    lambda s: s.getField("av"),
                ).alias("cv")
            )
            # groups x k rows — tiny; cut lineage so iteration r+1 (and
            # the final assignment) never re-runs round r's argmin
            .localCheckpoint(eager=True)
        )
    return assigned.select("grp", "vec_id", "cid"), cent


@register("embedding_pq_encode", _pq_oracle())
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) encoding of the embedding corpus: the
    vector is split into PQ_M contiguous subvectors, an independent
    k-means codebook (PQ_K codewords, deterministic seed) is trained
    per subspace, and every vector is encoded as its nearest codeword
    id per subspace — 64 floats compressed to PQ_M small codes, the
    memory layout IVF-PQ indexes (Jegou et al., TPAMI 2011) search.

    All PQ_M codebooks train in ONE grouped fit (`kmeans_fit_grouped`
    with subspace as the group id): the corpus is exploded once into
    (subspace, vec_id, 16-dim slice) rows — PQ_M x the rows at 1/PQ_M
    the width, same bytes — and each iteration is one broadcast join +
    two partial-agg groupBys regardless of PQ_M, instead of PQ_M
    sequential fits x iters barriers. The per-subspace trajectory is
    bit-pinned to the oracle's independent unrolled-Lloyd's chains by
    the shared KMEANS_ROUND rounding and (d2, cid) tie-break, exactly
    like `embedding_kmeans`. Output is (vec_id, subspace, code) — the
    long form of the code matrix, one downstream pivot away from the
    packed row."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("full")
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("grp"),
                F.slice("full", s * PQ_SUB + 1, PQ_SUB).alias("v"),
            )
            for s in range(PQ_M)
        ]
    )
    es = e.select("vec_id", F.explode(slices).alias("sv")).select(
        "vec_id", F.col("sv.grp").alias("grp"), F.col("sv.v").alias("v")
    )
    assigned = kmeans_fit_grouped(es, k=PQ_K, iters=PQ_ITERS)
    return assigned.select(
        "vec_id", F.col("grp").alias("subspace"), F.col("cid").alias("code")
    )


def _pq_search_oracle(k_results: int = 10) -> str:
    chains, stages = [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        pfx = f"s{s}_"
        chains.append(
            _kmeans_ctes(
                PQ_K,
                PQ_ITERS,
                pfx=pfx,
                vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
                with_kw=False,
            )
        )
        stages.append(
            f"""
    q{s} AS (SELECT (embedding::DOUBLE[])[{lo}:{hi}] AS qv
             FROM embeddings WHERE vec_id = 0),
    lut{s} AS (SELECT c.cid,
                      list_aggregate(list_transform(list_zip(q.qv, c.cv),
                                     x -> (x[1]-x[2])**2), 'sum') AS dd
               FROM {pfx}c{PQ_ITERS} c, q{s} q),
    d{s} AS (SELECT a.vec_id, l.dd FROM {pfx}a{PQ_ITERS} a
             JOIN lut{s} l USING (cid))"""
        )
    dsum = "d0.dd"
    for s in range(1, PQ_M):
        dsum = f"({dsum} + d{s}.dd)"
    joins = " ".join(f"JOIN d{s} USING (vec_id)" for s in range(1, PQ_M))
    return f"""WITH {','.join(chains)},{','.join(stages)}
    SELECT d0.vec_id, round({dsum}, 6) AS adist
    FROM d0 {joins}
    WHERE d0.vec_id <> 0
    ORDER BY adist, d0.vec_id LIMIT {k_results}
    """


@register("embedding_pq_search", _pq_search_oracle())
def embedding_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) search: top-10 approximate nearest
    neighbours of vec_id 0 using only the PQ codes — the search half
    of `embedding_pq_encode` and the standard IVF-PQ query path (Jegou
    et al., TPAMI 2011). The query stays UNquantized: per subspace, a
    lookup table of squared distances from the query slice to the
    PQ_K trained codewords, and a vector's approximate distance is the
    sum of its codes' LUT entries.

    Scale shape: the LUT is PQ_M x PQ_K rows (broadcast); the corpus
    side touches only the code columns — (vec_id, subspace, code) —
    never the raw vectors, which is the point of PQ: at 100 TB the
    scan reads PQ_M ints per vector instead of D floats. One broadcast
    join + one pivot-style groupBy + TakeOrderedAndProject; subspace
    distances are summed in fixed left-to-right order (never a
    commutative float agg across subspaces) so the double trajectory
    matches the oracle bit-for-bit."""
    from functools import reduce

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("full")
    )
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).select("full").head()[0]]
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("grp"),
                F.slice("full", s * PQ_SUB + 1, PQ_SUB).alias("v"),
            )
            for s in range(PQ_M)
        ]
    )
    es = e.select("vec_id", F.explode(slices).alias("sv")).select(
        "vec_id", F.col("sv.grp").alias("grp"), F.col("sv.v").alias("v")
    )
    assigned, cent = _kmeans_grouped(es, k=PQ_K, iters=PQ_ITERS)
    qdf = spark.createDataFrame(
        [(s, qvec[s * PQ_SUB : (s + 1) * PQ_SUB]) for s in range(PQ_M)],
        "grp int, qv array<double>",
    )
    dd = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = cent.join(F.broadcast(qdf), "grp").select("grp", "cid", dd.alias("dd"))
    per = assigned.join(F.broadcast(lut), ["grp", "cid"]).select("vec_id", "grp", "dd")
    agg = per.groupBy("vec_id").agg(
        *[
            F.sum(F.when(F.col("grp") == s, F.col("dd"))).alias(f"d{s}")
            for s in range(PQ_M)
        ]
    )
    adist = reduce(lambda a, b: a + b, [F.col(f"d{s}") for s in range(PQ_M)])
    return (
        agg.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(adist, 6).alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(10)
    )


N_RECALL_QUERIES = 5
RECALL_K = 10
RECALL_NPROBE = 2


def _ann_recall_oracle(
    nq: int = N_RECALL_QUERIES, k: int = RECALL_K, nprobe: int = RECALL_NPROBE
) -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < {nq}),
    p AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding)::DOUBLE AS val
          FROM embeddings),
    c AS (SELECT label, pos, round(avg(val), 7) AS cv FROM p GROUP BY label, pos),
    cq AS (SELECT q.qid, c.label,
                  round(sum(cv * qe[pos]::DOUBLE)
                        / (sqrt(sum(cv * cv))
                           * sqrt(sum((qe[pos]::DOUBLE) ^ 2))), 6) AS csim
           FROM c, q GROUP BY q.qid, c.label),
    probe AS (
        SELECT qid, label FROM (
            SELECT qid, label,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY csim DESC, label) AS rk
            FROM cq) WHERE rk <= {nprobe}),
    sims AS (
        SELECT q.qid, e.vec_id, e.label,
               round(sum(x.x * q.qe[x.i]::DOUBLE)
                     / (sqrt(sum(x.x * x.x))
                        * sqrt(sum((q.qe[x.i]::DOUBLE) ^ 2))), 6) AS sim
        FROM embeddings e
        CROSS JOIN q
        JOIN LATERAL (SELECT generate_subscripts(e.embedding, 1) AS i,
                             unnest(e.embedding)::DOUBLE AS x) x ON true
        WHERE e.vec_id <> q.qid
        GROUP BY q.qid, e.vec_id, e.label),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, vec_id) AS rk
            FROM sims) WHERE rk <= {k}),
    approx AS (
        SELECT qid, vec_id FROM (
            SELECT s.qid, s.vec_id,
                   row_number() OVER (PARTITION BY s.qid
                                      ORDER BY s.sim DESC, s.vec_id) AS rk
            FROM sims s JOIN probe pb
              ON pb.qid = s.qid AND pb.label = s.label) WHERE rk <= {k})
    SELECT e.qid, count(a.vec_id) AS n_overlap,
           round(count(a.vec_id) / {k}.0, 2) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
    GROUP BY e.qid ORDER BY e.qid
    """


@register("embedding_ann_recall", _ann_recall_oracle())
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, per probe
    query — the index-quality gate a similarity pipeline runs before
    trusting the approximate path at scale (an IVF whose nprobe misses
    the true neighbors' cells silently degrades every downstream
    near-dup / retrieval job; this measures that miss rate on a probe
    sample instead of guessing).

    Scale shape: the probe set is a fixed small sample (5 queries)
    broadcast against the corpus — the exact arm costs nq full scans
    and exists BECAUSE it's an evaluation harness over a sample, not a
    production query path; the IVF arm touches only the probed cells'
    rows (the candidate join is an equi-join on (qid, label)). Both
    arms' top-k are rank windows partitioned by qid over
    already-reduced similarity relations; overlap is one more
    qid-keyed join of two nq*k-row relations.

    Determinism: similarities are rounded to 6dp BEFORE ranking on
    both engines (identical tie sets), ranks tie-break on vec_id, and
    cell selection tie-breaks on label — the recall count is
    integer-exact from there."""
    e = table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_RECALL_QUERIES).select(
            F.col("vec_id").alias("qid"), _as_double("embedding").alias("qe")
        )
    )
    cents = centroids_by_label(e)
    cq = cents.join(q).select(
        "qid",
        "label",
        F.round(
            dot(F.col("centroid"), F.col("qe"))
            / (norm(F.col("centroid")) * norm(F.col("qe"))),
            6,
        ).alias("csim"),
    )
    w_cell = Window.partitionBy("qid").orderBy(F.desc("csim"), "label")
    probe = (
        cq.withColumn("rk", F.row_number().over(w_cell))
        .filter(F.col("rk") <= RECALL_NPROBE)
        .select("qid", "label")
    )
    emb = _as_double("embedding")
    sims = (
        e.join(q, e.vec_id != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(
                dot(emb, F.col("qe")) / (norm(emb) * norm(F.col("qe"))), 6
            ).alias("sim"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    exact = (
        sims.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= RECALL_K)
        .select("qid", "vec_id")
    )
    approx = (
        sims.join(F.broadcast(probe), ["qid", "label"])
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= RECALL_K)
        .select("qid", F.col("vec_id").alias("a_vec_id"))
    )
    return (
        exact.join(
            approx,
            (exact.qid == approx.qid) & (exact.vec_id == approx.a_vec_id),
            "left",
        )
        .groupBy(exact.qid.alias("qid"))
        .agg(
            F.count("a_vec_id").alias("n_overlap"),
            F.round(F.count("a_vec_id") / F.lit(float(RECALL_K)), 2).alias(
                "recall_at_k"
            ),
        )
        .orderBy("qid")
    )


MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle(pool: int = MMR_POOL, k: int = MMR_K, lam: float = MMR_LAMBDA) -> str:
    # Unrolled greedy selection, one CTE pair (m_i scores, s_i pick) per
    # step — the same unrolling discipline as the k-means oracle.
    steps = []
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        steps.append(
            f"""
    m{i} AS (
        SELECT p.vec_id, p.simq, max(w.s) AS ms
        FROM pool p
        JOIN pw w ON w.a = p.vec_id
        JOIN {prev} ON w.b = {prev}.vec_id
        WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY p.vec_id, p.simq),
    s{i} AS (
        SELECT {i} AS rank, vec_id,
               round({lam} * simq - {1 - lam:.1f} * ms, 6) AS mmr_score
        FROM m{i}
        ORDER BY round({lam} * simq - {1 - lam:.1f} * ms, 6) DESC, vec_id
        LIMIT 1),
    sel{i} AS (SELECT rank, vec_id, mmr_score FROM sel{i - 1}
               UNION ALL SELECT rank, vec_id, mmr_score FROM s{i})"""
        )
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
    p0 AS (SELECT e.vec_id, e.embedding,
                  generate_subscripts(e.embedding, 1) AS i,
                  unnest(e.embedding)::DOUBLE AS x, q.qe AS qe
           FROM e, q),
    p1 AS (SELECT vec_id, embedding, x, qe[i]::DOUBLE AS y FROM p0),
    a AS (SELECT vec_id, any_value(embedding) AS embedding,
                 sum(x * y) AS dotp, sqrt(sum(x * x)) AS nx,
                 sqrt(sum(y * y)) AS ny
          FROM p1 GROUP BY vec_id),
    pool AS (SELECT vec_id, embedding, round(dotp / (nx * ny), 6) AS simq
             FROM a ORDER BY round(dotp / (nx * ny), 6) DESC, vec_id
             LIMIT {pool}),
    w0 AS (SELECT x.vec_id AS av, y.vec_id AS bv,
                  generate_subscripts(x.embedding, 1) AS i,
                  unnest(x.embedding)::DOUBLE AS xv, y.embedding AS be
           FROM pool x JOIN pool y ON x.vec_id <> y.vec_id),
    w1 AS (SELECT av, bv, xv, be[i]::DOUBLE AS yv FROM w0),
    pw AS (SELECT av AS a, bv AS b,
                  round(sum(xv * yv) / (sqrt(sum(xv * xv))
                        * sqrt(sum(yv * yv))), 6) AS s
           FROM w1 GROUP BY av, bv),
    s1 AS (SELECT 1 AS rank, vec_id,
                  round({lam} * simq, 6) AS mmr_score
           FROM pool ORDER BY round({lam} * simq, 6) DESC, vec_id LIMIT 1),
    sel1 AS (SELECT rank, vec_id, mmr_score FROM s1),{",".join(steps)}
    SELECT rank, vec_id, mmr_score FROM sel{k} ORDER BY rank
    """


@register("embedding_mmr_diverse_topk", _mmr_oracle())
def embedding_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: pick k=5 results for vec 0's query
    that are RELEVANT but mutually DIVERSE — greedy argmax of
    λ·sim(d,q) − (1−λ)·max_{s∈selected} sim(d,s) over a top-20
    candidate pool. Plain top-k hands a training-data sampler five
    near-copies of the same best match; MMR is the standard fix when
    selecting exemplars, hard negatives, or dedup survivors.

    Scale shape: the pool is the brute-force top-20 (TakeOrdered, the
    knn_topk kernel) and is k-BOUNDED — the pairwise diversity matrix
    is pool², 400 rows, computed once as a bounded self-join (never
    corpus x corpus). The greedy loop is inherently sequential in k,
    but the WHOLE K-step loop runs inside ONE single-partition
    mapInPandas kernel over the (pool + pairwise) relation (VERDICT
    r06 #5): the relation is constant-bounded (pool rows, each
    carrying its pool-sized neighbor-sim list), so one Arrow batch
    holds everything the greedy argmax chain needs and the K driver
    round-trips of the collect-per-step formulation disappear.

    Determinism: all similarities and every MMR score are rounded to
    6dp BEFORE each argmax, ties break on vec_id, and the oracle
    unrolls the same greedy steps as CTEs (the k-means-oracle
    discipline), so both engines walk identical selection paths. The
    kernel's score rounding is round_like_duckdb, NOT round_half_up:
    lam*simq - mu*ms over already-6dp-rounded sims is a finite
    7-decimal real, so ~10% of candidate scores sit exactly on a 6dp
    boundary — the systematic regime-divergence class rounding.py
    documents (the Holt bug), and the oracle rounds with DuckDB's
    multiply form. A pool smaller than MMR_K ends the greedy loop
    early and emits fewer rows, exactly like the oracle's empty s_i
    CTEs (ADVICE r06); an entirely empty pool yields zero rows rather
    than crashing the kernel on an empty Arrow batch."""
    e = table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    q = [float(x) for x in qvec]
    qnorm = math.sqrt(sum(x * x for x in q))
    qcol = F.array(*[F.lit(x) for x in q])
    emb = _as_double("embedding")
    simq = F.round(dot(emb, qcol) / (norm(emb) * F.lit(qnorm)), 6)
    pool = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", emb.alias("emb"), simq.alias("simq"))
        .orderBy(F.desc("simq"), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint()
    )
    x = pool.select(F.col("vec_id").alias("a"), F.col("emb").alias("ea"))
    y = pool.select(F.col("vec_id").alias("b"), F.col("emb").alias("eb"))
    pw = x.join(y, F.col("a") != F.col("b")).select(
        "a",
        "b",
        F.round(
            dot(F.col("ea"), F.col("eb")) / (norm(F.col("ea")) * norm(F.col("eb"))),
            6,
        ).alias("s"),
    )
    # one relation holds everything the greedy chain needs: each pool
    # member with its query sim and its pool-sized neighbor-sim list
    rel = (
        pool.select("vec_id", "simq")
        .join(
            pw.groupBy("a").agg(
                F.collect_list(F.struct("b", "s")).alias("nbrs")
            ),
            pool.vec_id == F.col("a"),
            "left",
        )
        .select("vec_id", "simq", "nbrs")
        .coalesce(1)
    )
    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 1)
    k = MMR_K

    def greedy(batches):
        import pandas as pd

        from ..rounding import round_like_duckdb

        dfs = [b for b in batches if len(b)]
        if not dfs:
            # empty pool (corpus had only the query vector): emit the
            # empty relation instead of crashing pd.concat on an empty
            # iterator (round-7 review)
            yield pd.DataFrame({"rank": [], "vec_id": [], "mmr_score": []})
            return
        pdf = pd.concat(dfs, ignore_index=True)
        cand: dict[int, float] = {}
        sims: dict[int, dict[int, float]] = {}
        for vid, simq, nbrs in zip(pdf["vec_id"], pdf["simq"], pdf["nbrs"]):
            vid = int(vid)
            cand[vid] = float(simq)
            sims[vid] = (
                {int(n["b"]): float(n["s"]) for n in nbrs}
                if nbrs is not None
                else {}
            )
        selected: list[int] = []
        out_rank, out_vid, out_score = [], [], []
        for rank in range(1, k + 1):
            best = None
            for vid, simq in cand.items():
                if vid in selected:
                    continue
                if not selected:
                    score = round_like_duckdb(lam * simq, 6)
                else:
                    ms = max(sims[vid][s] for s in selected)
                    score = round_like_duckdb(lam * simq - mu * ms, 6)
                if best is None or (-score, vid) < (-best[1], best[0]):
                    best = (vid, score)
            if best is None:
                break  # pool exhausted before K picks (ADVICE r06)
            selected.append(best[0])
            out_rank.append(rank)
            out_vid.append(best[0])
            out_score.append(best[1])
        yield pd.DataFrame(
            {"rank": out_rank, "vec_id": out_vid, "mmr_score": out_score}
        )

    return rel.mapInPandas(
        greedy, schema="rank int, vec_id bigint, mmr_score double"
    )


KNN_VOTE_K = 5


def _knn_vote_oracle(k: int = KNN_VOTE_K) -> str:
    return f"""
    WITH r AS (SELECT j.j, i.i,
                      ((('0x' || substr(md5(j.j || '_' || i.i), 1, 8))::BIGINT % 1000)
                       / 1000.0 - 0.5) AS rv
               FROM generate_series(0, {N_PLANES - 1}) j(j),
                    generate_series(1, 64) i(i)),
    pl AS (SELECT e.vec_id, r.j, e.embedding[r.i]::DOUBLE * r.rv AS prod
           FROM embeddings e JOIN r ON r.i <= len(e.embedding)),
    d AS (SELECT vec_id, j, sum(prod) AS dotp FROM pl GROUP BY vec_id, j),
    bk AS (SELECT vec_id,
                  CAST(sum(CASE WHEN dotp > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
           FROM d GROUP BY vec_id),
    e2 AS (SELECT e.vec_id, e.embedding, e.label, bk.bucket,
                  ('0x' || substr(md5(e.vec_id::VARCHAR), 1, 4))::BIGINT % 10
                      AS split
           FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
    p0 AS (SELECT a.vec_id AS va, a.label AS la,
                  b.vec_id AS vb, b.label AS lb,
                  generate_subscripts(a.embedding, 1) AS i,
                  unnest(a.embedding)::DOUBLE AS x, b.embedding AS eb
           FROM e2 a JOIN e2 b
             ON a.bucket = b.bucket AND a.split = 0 AND b.split <> 0),
    p AS (SELECT va, la, vb, lb, x, eb[i]::DOUBLE AS y FROM p0),
    s AS (SELECT va, any_value(la) AS la, vb, any_value(lb) AS lb,
                 round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
                     AS sim
          FROM p GROUP BY va, vb),
    topk AS (SELECT va, la, lb FROM (
                 SELECT va, la, lb,
                        row_number() OVER (PARTITION BY va
                                           ORDER BY sim DESC, vb) AS rk
                 FROM s) x WHERE rk <= {k}),
    votes AS (SELECT va, la, lb, count(*) AS cnt
              FROM topk GROUP BY va, la, lb),
    pred AS (SELECT va, la AS true_label, lb AS pred_label FROM (
                 SELECT va, la, lb,
                        row_number() OVER (PARTITION BY va
                                           ORDER BY cnt DESC, lb) AS rk
                 FROM votes) x WHERE rk = 1)
    SELECT true_label, pred_label, count(*) AS n_vecs
    FROM pred GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """


@register("knn_label_vote", _knn_vote_oracle())
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification by majority vote: held-out
    vectors (md5 hash-split bucket 0) take the modal label of their 5
    nearest train-split neighbors — completing the in-situ classifier
    trio (NB = one counting pass, LR = gradient rounds, kNN = no
    training at all, just retrieval) that a data pipeline uses to
    propagate labels onto unlabeled corpus slices.

    Scale shape: candidate pairs come from the SAME hyperplane-LSH
    bucket equi-join as embedding_knn_join (never test x train
    all-pairs); the vote and the confusion rollup are two more
    partial-agg groupBys over the k-bounded top-k relation. Test
    vectors whose bucket holds no train vector are unclassified and
    excluded identically in both engines (production would multi-probe
    neighboring buckets — plan shape unchanged).

    Determinism: rounded sims rank with vb tie-break; the vote argmax
    breaks count ties on the smaller label; the hash split is the
    engine-portable md5 idiom."""
    e = table(spark, sf_dir, "embeddings")
    split = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 10
    )
    eb = e.join(lsh_bucket_assignments(e), "vec_id").withColumn("split", split)
    a = eb.filter(F.col("split") == 0).select(
        F.col("vec_id").alias("va"),
        F.col("label").alias("true_label"),
        F.col("bucket").alias("bucket_a"),
        _as_double("embedding").alias("ea"),
    )
    b = eb.filter(F.col("split") != 0).select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("nb_label"),
        F.col("bucket").alias("bucket_b"),
        _as_double("embedding").alias("nb"),
    )
    sim = F.round(
        dot(F.col("ea"), F.col("nb")) / (norm(F.col("ea")) * norm(F.col("nb"))), 6
    )
    sims = a.join(b, F.col("bucket_a") == F.col("bucket_b")).select(
        "va", "true_label", "vb", F.col("nb_label").alias("lb"), sim.alias("sim")
    )
    w_rank = Window.partitionBy("va").orderBy(F.desc("sim"), "vb")
    topk = (
        sims.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= KNN_VOTE_K)
        .select("va", "true_label", "lb")
    )
    votes = topk.groupBy("va", "true_label", "lb").agg(F.count(F.lit(1)).alias("cnt"))
    w_vote = Window.partitionBy("va").orderBy(F.desc("cnt"), "lb")
    pred = (
        votes.withColumn("rk", F.row_number().over(w_vote))
        .filter(F.col("rk") == 1)
        .select("true_label", F.col("lb").alias("pred_label"))
    )
    return (
        pred.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


OUTLIER_TOPK = 20


@register(
    "embedding_outlier_distance",
    f"""
    WITH p AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                      unnest(embedding)::DOUBLE AS val
               FROM embeddings),
    c AS (SELECT label, pos, round(avg(val), 7) AS cv FROM p GROUP BY label, pos),
    d AS (SELECT p.vec_id, p.label,
                 round(sqrt(sum((p.val - c.cv) ^ 2)), 6) AS dist
          FROM p JOIN c ON c.label = p.label AND c.pos = p.pos
          GROUP BY p.vec_id, p.label),
    mom AS (SELECT label,
                   count(*) AS n,
                   CAST(sum(dist::DECIMAL(18,6)) AS DOUBLE) AS s1,
                   CAST(sum(round(dist * dist, 6)::DECIMAL(18,6)) AS DOUBLE)
                       AS s2
            FROM d GROUP BY label),
    z AS (SELECT d.vec_id, d.label, d.dist,
                 round((d.dist - s1 / n)
                       / sqrt(s2 / n - (s1 / n) ^ 2), 4) AS z_score
          FROM d JOIN mom ON mom.label = d.label
          WHERE n >= 2 AND s2 / n - (s1 / n) ^ 2 > 0)
    SELECT vec_id, label, dist, z_score FROM z
    ORDER BY z_score DESC, vec_id LIMIT {OUTLIER_TOPK}
    """,
)
def embedding_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier scoring: per cluster cell, z-score of
    each vector's L2 distance to its cell centroid; report the global
    top-20. This is the embedding-space quality filter of a curation
    pipeline — mislabeled/garbage vectors sit far from every centroid,
    and z-normalizing per cell makes tight and loose clusters
    comparable (a raw-distance cut would only ever flag the loosest
    cell).

    Scale shape: centroids are the (label, pos) partial-agg relation
    (cells x dims rows); distances are one more partial agg over the
    exploded corpus; the per-cell moments reduce the DISTANCE relation
    (one row per vector), and the top-20 is TakeOrderedAndProject.

    Determinism: distances are rounded to 6dp, then both moments
    accumulate as exact DECIMAL(18,6) (association-order-proof); the
    z formula is a fixed double dag from those exact sums, rounded
    once, with degenerate cells (n < 2 or zero variance) excluded
    identically on both sides."""
    e = table(spark, sf_dir, "embeddings")
    p = e.select("vec_id", "label", F.posexplode(_as_double("embedding")).alias("pos", "val"))
    # centroid dims round like KMEANS_ROUND (ADVICE r06) — see
    # centroids_by_label for why unrounded averages are a hash hazard
    c = p.groupBy("label", "pos").agg(F.round(F.avg("val"), KMEANS_ROUND).alias("cv"))
    d = (
        p.join(c, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("val") - F.col("cv")) * (F.col("val") - F.col("cv")))),
                6,
            ).alias("dist")
        )
    )
    mom = d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dist").cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("dist") * F.col("dist"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return (
        d.join(F.broadcast(mom), "label")
        .filter((F.col("n") >= 2) & (var > 0))
        .select(
            "vec_id",
            "label",
            "dist",
            F.round((F.col("dist") - mean) / F.sqrt(var), 4).alias("z_score"),
        )
        .orderBy(F.desc("z_score"), "vec_id")
        .limit(OUTLIER_TOPK)
    )


MRL_DIMS = 32  # truncated prefix length (of 64)


def _mrl_oracle(nq: int = N_RECALL_QUERIES, k: int = RECALL_K, d: int = MRL_DIMS) -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < {nq}),
    p0 AS (SELECT q.qid, e.vec_id,
                  generate_subscripts(e.embedding, 1) AS i,
                  unnest(e.embedding)::DOUBLE AS x, q.qe AS qe
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.qid),
    p AS (SELECT qid, vec_id, i, x, qe[i]::DOUBLE AS y FROM p0),
    full_sim AS (
        SELECT qid, vec_id,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
                   AS sim
        FROM p GROUP BY qid, vec_id),
    trunc_sim AS (
        SELECT qid, vec_id,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
                   AS sim
        FROM p WHERE i <= {d} GROUP BY qid, vec_id),
    full_top AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS rk
            FROM full_sim) WHERE rk <= {k}),
    trunc_top AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS rk
            FROM trunc_sim) WHERE rk <= {k})
    SELECT f.qid, count(t.vec_id) AS n_overlap,
           round(count(t.vec_id) / {k}.0, 2) AS recall_at_k
    FROM full_top f
    LEFT JOIN trunc_top t ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid ORDER BY f.qid
    """


@register("embedding_mrl_truncation_recall", _mrl_oracle())
def embedding_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: recall@10 of exact
    search using only the FIRST 32 of 64 dimensions against exact
    search on the full vector, per probe query. This is the
    store-half-the-bytes experiment every embedding pipeline runs
    before committing to a truncated index (MRL-trained models pack
    meaning into prefixes; this measures how much THIS corpus's
    embeddings actually do) — the storage-side sibling of the int8
    quantization entry, with the same evaluate-before-you-commit role
    as embedding_ann_recall.

    Scale shape: identical to embedding_ann_recall — a constant probe
    sample broadcast against the corpus, ONE exploded pass feeding
    both similarity aggregates (the truncated one just filters the
    dimension index — no second scan of the vectors), rank windows
    per qid, and a qid-keyed overlap join of two nq*k-row relations.

    Determinism: both similarity columns round to 6dp before ranking,
    ranks tie-break on vec_id."""
    e = table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_RECALL_QUERIES).select(
            F.col("vec_id").alias("qid"), _as_double("embedding").alias("qe")
        )
    )
    emb = _as_double("embedding")
    pairs = e.join(q, e.vec_id != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(dot(emb, F.col("qe")) / (norm(emb) * norm(F.col("qe"))), 6).alias(
            "sim_full"
        ),
        F.round(
            dot(F.slice(emb, 1, MRL_DIMS), F.slice(F.col("qe"), 1, MRL_DIMS))
            / (
                norm(F.slice(emb, 1, MRL_DIMS))
                * norm(F.slice(F.col("qe"), 1, MRL_DIMS))
            ),
            6,
        ).alias("sim_trunc"),
    )
    w_full = Window.partitionBy("qid").orderBy(F.desc("sim_full"), "vec_id")
    w_trunc = Window.partitionBy("qid").orderBy(F.desc("sim_trunc"), "vec_id")
    full_top = (
        pairs.withColumn("rk", F.row_number().over(w_full))
        .filter(F.col("rk") <= RECALL_K)
        .select("qid", "vec_id")
    )
    trunc_top = (
        pairs.withColumn("rk", F.row_number().over(w_trunc))
        .filter(F.col("rk") <= RECALL_K)
        .select("qid", F.col("vec_id").alias("t_vec_id"))
    )
    return (
        full_top.join(
            trunc_top,
            (full_top.qid == trunc_top.qid)
            & (full_top.vec_id == trunc_top.t_vec_id),
            "left",
        )
        .groupBy(full_top.qid.alias("qid"))
        .agg(
            F.count("t_vec_id").alias("n_overlap"),
            F.round(F.count("t_vec_id") / F.lit(float(RECALL_K)), 2).alias(
                "recall_at_k"
            ),
        )
        .orderBy("qid")
    )
