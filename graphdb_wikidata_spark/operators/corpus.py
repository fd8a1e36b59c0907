"""Training-corpus assembly operators: sequence packing and
stratified sampling — the steps that turn a deduped document set into
model-ready shards.

Scale design:

- ``pack_sequences_budget`` assigns each document the pack (fixed
  token-budget training sequence) its first token lands in, under the
  GPT-style concat-then-chunk regime (documents are concatenated in
  a deterministic order per source; packs are consecutive
  ``PACK_BUDGET``-token windows of that stream). The naive plan is a
  running-sum window over one global sort per source — a
  single-partition bottleneck when one source holds billions of
  documents. The implementation instead computes a **sharded prefix
  sum**: an in-shard running sum (window over ``SHARD_DOCS``-sized
  doc-id shards), plus per-shard token totals rolled into shard
  offsets by a second window over the *tiny* (source, shard) relation.
  cum_before(doc) = shard_offset + in-shard running sum — identical
  output to the global window (the oracle IS the global window), but
  the widest partition is bounded by SHARD_DOCS rows and the global
  step touches #shards rows, not #docs.
- ``sample_stratified_hash`` keeps a deterministic per-source fraction
  of documents by hashing the doc id into a percentile bucket —
  embarrassingly parallel (map-only, no shuffle), reproducible across
  engines and runs (md5 is the hash on both sides), and stable under
  re-partitioning, which row-sampling with RNG state is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


#: tokens per training sequence (pack)
PACK_BUDGET = 2048
#: documents per prefix-sum shard — bounds the widest window partition;
#: at 100 TB raise it so #shards stays ~10^6 (the shard-offset relation
#: must stay driver-broadcastable)
SHARD_DOCS = 4096


def pack_documents(
    d: DataFrame, shard_docs: int = SHARD_DOCS, with_cum: bool = False
) -> DataFrame:
    """Sharded two-pass prefix-sum packing over any (doc_id, source,
    text) frame — the reusable kernel behind pack_sequences_budget,
    the quality-filtered pipeline composition, and (``with_cum=True``,
    which returns the raw exclusive prefix sum instead of pack ids)
    the token-budget mixer."""
    toks = F.size(F.split(F.col("text"), " "))
    d = d.select("doc_id", "source", toks.alias("n_tokens"), F.floor(F.col("doc_id") / shard_docs).alias("__shard"))

    # pass 1: running sum WITHIN a (source, shard) partition — bounded
    # by SHARD_DOCS rows however large the source is
    w_in = (
        Window.partitionBy("source", "__shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("__cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))

    # pass 2: per-shard totals -> exclusive prefix over the tiny
    # (source, shard) relation -> broadcast back. #shards rows, not
    # #docs rows, go through this global window.
    totals = d.groupBy("source", "__shard").agg(F.sum("n_tokens").alias("__tot"))
    w_sh = (
        Window.partitionBy("source")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("__off", F.coalesce(F.sum("__tot").over(w_sh), F.lit(0))).drop(
        "__tot"
    )

    out = d.join(F.broadcast(offsets), ["source", "__shard"])
    cum_before = F.col("__off") + F.col("__cum_in")
    if with_cum:
        return out.select(
            "doc_id",
            "source",
            "n_tokens",
            cum_before.cast("long").alias("cum_before"),
        )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("pack_id"),
    )



@register(
    "pack_sequences_budget",
    f"""
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(floor(coalesce(sum(len(string_split(text, ' ')))
                               OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING),
                               0) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM documents
    """,
)
def pack_sequences_budget(
    spark: SparkSession, sf_dir: str, shard_docs: int = SHARD_DOCS
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are concatenated
    per source in doc_id order and chopped into PACK_BUDGET-token
    sequences; each doc is assigned the pack its first token falls in
    (pack_id = floor(tokens-before-this-doc / budget)).

    The oracle states the semantics as ONE running-sum window per
    source; the implementation is the distributed equivalent — a
    sharded two-pass prefix sum (see module docstring) whose widest
    shuffle partition is SHARD_DOCS rows regardless of corpus size.
    """
    return pack_documents(table(spark, sf_dir, "documents"), shard_docs)


def pack_sequences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-window twin of pack_sequences_budget (the oracle's plan,
    verbatim) — unregistered; pytest asserts the sharded version equals
    it row-for-row."""
    d = table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(toks).over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        toks.alias("n_tokens"),
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("pack_id"),
    )


@register(
    "corpus_quality_pack",
    """
    WITH scored AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and','in'))) AS ns
        FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE n BETWEEN 20 AND 80 AND ns * 50 >= n)
    SELECT doc_id, source, n AS n_tokens,
           CAST(floor(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND 1 PRECEDING),
                               0) / 2048.0) AS BIGINT) AS pack_id
    FROM kept
    """,
)
def corpus_quality_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed preprocessing pipeline a training run actually
    executes: quality filter (token-count band + integer-arithmetic
    stopword-ratio floor, so both engines compare exactly) -> sequence
    packing over the surviving docs. The filter is map-only and fuses
    into the parquet scan; the packing reuses the sharded prefix-sum
    kernel, so the composition adds no new shuffle beyond the pack's
    own two bounded passes."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_list = ", ".join(f"'{s}'" for s in ("the", "a", "of", "and", "in"))
    ns = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    kept = d.filter(n.between(20, 80) & (ns * 50 >= n)).select("doc_id", "source", "text")
    return pack_documents(kept)


@register(
    "sample_stratified_hash",
    """
    WITH rated AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket,
               10 + (substr(source, 4)::BIGINT * 7) % 80 AS rate
        FROM documents)
    SELECT doc_id, source, bucket, rate
    FROM rated WHERE bucket < rate
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: hash each doc id into a
    percentile bucket (first 16 md5 bits mod 100) and keep it when the
    bucket falls under its stratum's rate — here a per-source rate
    derived from the source's numeric suffix, standing in for a mixing
    config. Map-only (no shuffle, no RNG state), so the sample is
    reproducible under any partitioning and any engine that agrees on
    md5 — the property row-level Bernoulli sampling with seeds does
    not give across repartitions."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
        % 100
    )
    rate = F.lit(10) + (F.substring(F.col("source"), 4, 10).cast("long") * 7) % 80
    return (
        d.select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
    )


#: n-gram width for the decontamination overlap check — wide enough
#: that chance collisions are rare, narrow enough to catch rephrased
#: spans (real pipelines use 8-13; the synthetic corpus' short docs
#: make 5 the equivalent regime)
DECON_N = 5


@register(
    "decontaminate_ngrams",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents WHERE len(string_split(text, ' ')) >= {DECON_N}),
    pos AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM toks),
    g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{DECON_N - 1}], ' ') AS g
          FROM pos WHERE i <= len(toks) - {DECON_N - 1}),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
    tr AS (SELECT * FROM g WHERE doc_id % 20 <> 0)
    SELECT tr.doc_id,
           count(*)                                    AS n_grams,
           count(ev.g)                                 AS n_shared,
           round(count(ev.g)::DOUBLE / count(*), 4)    AS shared_frac,
           count(ev.g) > 0                             AS contaminated
    FROM tr LEFT JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any ``DECON_N``-token n-gram with the held-out evaluation set
    (here the deterministic ``doc_id % 20 == 0`` stratum standing in
    for a benchmark suite).

    Shape at scale: both sides explode to distinct n-grams (linear,
    map-side); the eval side collapses to a distinct-gram set that is
    ~benchmark-sized, i.e. tiny next to a 100 TB corpus, so the
    overlap join is an explicitly broadcast hash join — every training
    gram is checked without shuffling the corpus. The per-doc rollup
    is one partial-agg groupBy on doc_id.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= DECON_N)
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(toks) - {DECON_N - 1}),"
            f" i -> array_join(slice(toks, i, {DECON_N}), ' '))"
        )
    )
    g = d.select("doc_id", F.explode(grams).alias("g"))
    ev = g.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    tr = g.filter(F.col("doc_id") % 20 != 0)
    hit = F.col("ev_g").isNotNull()
    return (
        tr.join(F.broadcast(ev.select(F.col("g").alias("ev_g"))), tr["g"] == F.col("ev_g"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(hit, 1)).alias("n_shared"),
            F.round(F.count(F.when(hit, 1)).cast("double") / F.count("*"), 4).alias("shared_frac"),
            (F.count(F.when(hit, 1)) > 0).alias("contaminated"),
        )
    )


@register(
    "corpus_mix_budget",
    """
    WITH c AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               coalesce(sum(len(string_split(text, ' ')))
                        OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS cum_before
        FROM documents)
    SELECT doc_id, source, n_tokens, cum_before::BIGINT AS cum_before
    FROM c
    WHERE cum_before < 200 + (substr(source, 4)::BIGINT * 137) % 1200
    """,
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing by per-source token budget: each source
    contributes documents in deterministic doc_id order until its
    token budget is exhausted (the mixing-weights step that turns a
    raw corpus into a training mixture; here the budget derives from
    the source's numeric suffix, standing in for a mixture config).

    Reuses the sharded prefix-sum kernel (``pack_documents`` with
    ``with_cum``): the cut-off is a map-side filter on the exclusive
    prefix sum, so the whole mixer is the pack's two bounded passes
    plus one pushed-down comparison — no global sort, no collect.
    """
    d = table(spark, sf_dir, "documents")
    cum = pack_documents(d, with_cum=True)
    budget = F.lit(200) + (F.substring(F.col("source"), 4, 10).cast("long") * 137) % 1200
    return cum.filter(F.col("cum_before") < budget)


# ---------------------------------------------------------------------------
# Per-domain document cap
# ---------------------------------------------------------------------------

#: max documents kept per source ("domain cap" — common-crawl pipelines
#: cap any one domain's contribution to the training mix)
DOMAIN_CAP = 40
#: shards per source for the two-stage top-N. Stage 1 ranks inside
#: (source, shard) — widest window partition is docs_per_source /
#: CAP_SHARDS; stage 2 ranks the <= CAP_SHARDS * DOMAIN_CAP survivors.
CAP_SHARDS = 16


@register(
    "corpus_domain_cap",
    f"""
    SELECT doc_id, source, n_chars, rnk FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rnk
        FROM documents) x
    WHERE rnk <= {DOMAIN_CAP}
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain cap: keep at most DOMAIN_CAP documents per source,
    preferring longer documents (n_chars DESC, doc_id tiebreak).

    The oracle is the naive plan — ONE row_number window per source —
    which at 100 TB funnels an entire celebrity domain through a
    single window partition. The implementation is a two-stage
    sharded top-N (same trick as pack_sequences_budget's sharded
    prefix sum): stage 1 ranks inside (source, hash-shard) and keeps
    each shard's top DOMAIN_CAP — widest partition is 1/CAP_SHARDS of
    the worst domain — and stage 2 re-ranks only the <= CAP_SHARDS *
    DOMAIN_CAP survivors per source. Output is row-identical to the
    single window because every global top-N row is necessarily in
    its own shard's top-N.

    Reference scope is SPARQL (no corpus assembly); beyond-parity
    training-pipeline operator."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return domain_cap(d)


def domain_cap(d: DataFrame, cap: int = DOMAIN_CAP, shards: int = CAP_SHARDS) -> DataFrame:
    """Two-stage sharded top-N per source kernel (see corpus_domain_cap).
    Input: (doc_id, source, n_chars)."""
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(shards))
    w1 = Window.partitionBy("source", "shard").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    stage1 = (
        d.withColumn("shard", shard)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= cap)
    )
    w2 = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        stage1.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= cap)
        .select("doc_id", "source", "n_chars", "rnk")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

#: global weighted-sample size
WSAMPLE_N = 50
_W_DENOM = float(1 << 60)


@register(
    "sample_weighted_es",
    f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((1 + ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)
                  / {_W_DENOM!r}) / n_chars AS k
        FROM documents)
    SELECT doc_id, source, n_chars, round(k, 6) AS w_key,
           row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT {WSAMPLE_N}
    """,
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): every doc gets key ln(u)/w for a uniform u and weight w
    (n_chars — longer docs proportionally likelier); the global top-N
    keys ARE a weighted sample. u is md5-derived, so the "random"
    sample is deterministic and reproducible across engines, runs,
    and repartitioning — the property RNG-state sampling loses.

    Scale: map-only key computation fused into the scan, then one
    TakeOrderedAndProject (per-partition top-N, merge on the driver) —
    no global sort, no full shuffle, exactly how a 100 TB weighted
    draw should run. Extension operator."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.lit(1)
        + F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    ) / F.lit(_W_DENOM)
    keyed = d.select("doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("k"))
    top = keyed.orderBy(F.col("k").desc(), "doc_id").limit(WSAMPLE_N)
    w = Window.orderBy(F.col("k").desc(), "doc_id")
    return top.select(
        "doc_id",
        "source",
        "n_chars",
        F.round("k", 6).alias("w_key"),
        F.row_number().over(w).alias("rnk"),
    )


# ---------------------------------------------------------------------------
# End-to-end preprocessing pipeline: dedup -> quality -> pack
# ---------------------------------------------------------------------------


def _full_pipeline_oracle() -> str:
    from .dedup import _CAND_CTE

    return f"""
    WITH RECURSIVE
    {_CAND_CTE},
    ed AS (SELECT doc_a AS u, doc_b AS v FROM cand
           UNION SELECT doc_b, doc_a FROM cand),
    reach AS (SELECT u, v FROM ed
              UNION
              SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u
              WHERE e.v <> r.u),
    comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
    keepers AS (SELECT d.doc_id, d.source, d.text
                FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
                WHERE coalesce(least(c.mn, d.doc_id), d.doc_id) = d.doc_id),
    scored AS (SELECT doc_id, source, text,
                      len(string_split(text, ' ')) AS n,
                      len(list_filter(string_split(text, ' '),
                                      t -> t IN ('the','a','of','and','in'))) AS ns
               FROM keepers),
    kept AS (SELECT * FROM scored WHERE n BETWEEN 20 AND 80 AND ns * 50 >= n)
    SELECT doc_id, source, n AS n_tokens,
           CAST(floor(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND 1 PRECEDING),
                               0) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
    FROM kept
    """


@register("corpus_dedup_quality_pack", _full_pipeline_oracle())
def corpus_dedup_quality_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE preprocessing pipeline, one plan: MinHash-LSH
    near-dup clustering (keep the cluster minimum) -> Gopher-style
    quality gate -> concat-then-chunk sequence packing. This is
    the "a reference user switches their whole pipeline over"
    entry — every stage is the already-oracle-checked kernel
    (`dedup_clusters`, the `corpus_quality_pack` filter,
    `pack_documents`), composed.

    Scale: the stages compose without materialization barriers
    beyond their own shuffles — LSH banding (linear), components
    on the candidate-pair graph only (O(log n) hooking rounds),
    map-only quality filter fused into the survivors, sharded
    prefix-sum pack. Nothing in the composition adds a new
    corpus-wide shuffle."""
    from .dedup import dedup_clusters

    keep = dedup_clusters(spark, sf_dir).filter(F.col("is_kept")).select("doc_id")
    d = table(spark, sf_dir, "documents").join(keep, "doc_id")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_list = ", ".join(f"'{s}'" for s in ("the", "a", "of", "and", "in"))
    ns = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    kept = d.filter(n.between(20, 80) & (ns * 50 >= n)).select("doc_id", "source", "text")
    return pack_documents(kept)



# ---------------------------------------------------------------------------
# Distributed logistic regression (batch GD) — quality/language classifier
# ---------------------------------------------------------------------------

LR_STEPS = 3
LR_RATE = 1.0
#: gradients are rounded to this many decimals each step ON BOTH
#: ENGINES (same trick as similarity.KMEANS_ROUND): avg() is
#: accumulation-order-sensitive at ~1e-15 and libm exp differs by
#: ~1 ulp between DuckDB and the JVM; rounding pins every weight
#: trajectory to identical doubles.
LR_GRAD_ROUND = 9

_LR_FEATURES_SQL = """
    SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           1.0 AS x0,
           len(string_split(text, ' ')) / 100.0 AS x1,
           len(list_filter(string_split(text, ' '),
                           t -> t IN ('the','a','of','and','in')))::DOUBLE
               / len(string_split(text, ' ')) AS x2
    FROM documents
"""


def _lr_ctes(steps: int = LR_STEPS, rate: float = LR_RATE) -> list[str]:
    """The shared unrolled-GD CTE chain: f (features), w0s (zero
    weights), then g{s}/w{s}s per step."""

    def sig(w):
        return f"1/(1+exp(-({w}0*x0+{w}1*x1+{w}2*x2)))"

    ctes = [f"f AS ({_LR_FEATURES_SQL})", "w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for s in range(1, steps + 1):
        p = sig("w.w")
        ctes.append(
            f"""g{s} AS (SELECT round(avg(({p} - y)*x0), {LR_GRAD_ROUND}) AS g0,
                      round(avg(({p} - y)*x1), {LR_GRAD_ROUND}) AS g1,
                      round(avg(({p} - y)*x2), {LR_GRAD_ROUND}) AS g2
               FROM f, w{s - 1}s w)"""
        )
        ctes.append(
            f"""w{s}s AS (SELECT w.w0 - {rate!r}*g.g0 AS w0, w.w1 - {rate!r}*g.g1 AS w1,
                      w.w2 - {rate!r}*g.g2 AS w2 FROM w{s - 1}s w, g{s} g)"""
        )
    return ctes


def _lr_sig(w: str) -> str:
    return f"1/(1+exp(-({w}0*x0+{w}1*x1+{w}2*x2)))"


def _lr_oracle(steps: int = LR_STEPS, rate: float = LR_RATE) -> str:
    p = _lr_sig("w.w")
    return f"""
    WITH {','.join(_lr_ctes(steps, rate))}
    SELECT (SELECT count(*) FROM f) AS n_docs,
           round(w.w0, 6) AS w_bias,
           round(w.w1, 6) AS w_tokens,
           round(w.w2, 6) AS w_stopword,
           (SELECT round(avg(-(y*ln({p}) + (1-y)*ln(1-{p}))), 4)
            FROM f, w{steps}s w) AS train_loss
    FROM w{steps}s w
    """


@register("lr_quality_classifier", _lr_oracle())
def lr_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training, the canonical Spark
    aggregated-gradient pattern: each GD step is ONE partial-agg
    aggregate over the corpus producing a #features-row gradient that
    the driver folds into the weights (a metadata-sized collect, like
    IVF's probed-cell ids — never a data collect). Features here are
    the quality signals (token count, stopword ratio) predicting the
    lang=='en' stratum; 3 batch steps, lr=1. Per-step gradients are
    rounded identically on both engines so the weight trajectory is
    bit-identical (see LR_GRAD_ROUND); the oracle unrolls the same
    three steps in SQL. Returns (n_docs, weights, train_loss).

    Scale: each step is a single map+combine pass (sigmoid and the
    per-feature products are codegen'd JVM expressions); #steps
    passes total, no shuffle wider than #features partial sums.
    Reference has no ML surface; beyond-parity training-pipeline
    operator."""
    d = table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in ("the", "a", "of", "and", "in"))
    n = F.size(F.split(F.col("text"), " "))
    ns = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    f = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (n / F.lit(100.0)).alias("x1"),
        (ns.cast("double") / n).alias("x2"),
    )
    w = [0.0, 0.0, 0.0]
    for _ in range(LR_STEPS):
        z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        grad = f.agg(
            *[
                F.round(F.avg((p - F.col("y")) * F.col(f"x{i}")), LR_GRAD_ROUND).alias(f"g{i}")
                for i in range(3)
            ]
        ).first()
        w = [w[i] - LR_RATE * grad[i] for i in range(3)]
    z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    loss = -(F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p))
    return f.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # F.round (HALF_UP, away-from-zero like DuckDB) — not Python's
        # banker-rounding round() — so the 6dp weight report matches
        F.round(F.lit(w[0]), 6).alias("w_bias"),
        F.round(F.lit(w[1]), 6).alias("w_tokens"),
        F.round(F.lit(w[2]), 6).alias("w_stopword"),
        F.round(F.avg(loss), 4).alias("train_loss"),
    )


def _lr_score_oracle() -> str:
    p = _lr_sig("w.w")
    ctes = _lr_ctes() + [
        f"""fs AS (SELECT source,
                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                  1.0 AS x0,
                  len(string_split(text, ' ')) / 100.0 AS x1,
                  len(list_filter(string_split(text, ' '),
                                  t -> t IN ('the','a','of','and','in')))::DOUBLE
                      / len(string_split(text, ' ')) AS x2
           FROM documents)"""
    ]
    return f"""
    WITH {','.join(ctes)}
    SELECT fs.source,
           count(*) AS n_docs,
           round(avg({p}), 4) AS mean_score,
           round(avg(y), 4) AS en_fraction
    FROM fs, w{LR_STEPS}s w
    GROUP BY fs.source
    """


@register("lr_quality_score", _lr_score_oracle())
def lr_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference half of `lr_quality_classifier`: train (same 3 GD
    steps — the weight trajectory is deterministic, see LR_GRAD_ROUND)
    then score every document map-only and report mean predicted
    quality per source next to the true en-fraction. At 100 TB the
    weights are a broadcast of #features doubles and scoring fuses
    into the scan — the shuffle is only the #sources-row rollup."""
    d = table(spark, sf_dir, "documents")
    stop_list = ", ".join(f"'{s}'" for s in ("the", "a", "of", "and", "in"))
    n = F.size(F.split(F.col("text"), " "))
    ns = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    f = d.select(
        "source",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (n / F.lit(100.0)).alias("x1"),
        (ns.cast("double") / n).alias("x2"),
    )
    w = [0.0, 0.0, 0.0]
    for _ in range(LR_STEPS):
        z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        grad = f.agg(
            *[
                F.round(F.avg((p - F.col("y")) * F.col(f"x{i}")), LR_GRAD_ROUND).alias(f"g{i}")
                for i in range(3)
            ]
        ).first()
        w = [w[i] - LR_RATE * grad[i] for i in range(3)]
    z = F.lit(w[0]) * F.col("x0") + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(score), 4).alias("mean_score"),
        F.round(F.avg("y"), 4).alias("en_fraction"),
    )


@register(
    "corpus_split_hash",
    """
    WITH assigned AS (
        SELECT source, n_chars,
               CASE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10
                    WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split
        FROM documents)
    SELECT split, source,
           count(*)                         AS n_docs,
           CAST(sum(n_chars) AS BIGINT)     AS sum_chars
    FROM assigned GROUP BY split, source
    """,
)
def corpus_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: first 16 md5 bits of the
    doc id mod 10 — bucket 0 is test, 1 is val, the rest train
    (~80/10/10). Content-addressed splits survive re-partitioning,
    re-ingestion, and engine changes, which seeded RNG splits do not —
    the property that makes decontamination auditable. Map-only assign
    + one partial-agg groupBy over (split, source); at 100 TB the
    reported relation is #splits x #sources rows."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 10
    )
    split = (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )
    return (
        d.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "corpus_source_kl_drift",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents),
    per_src AS (
        SELECT source, token, count(*) AS n_ts FROM tok GROUP BY 1, 2),
    src_tot AS (
        SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
    corp AS (
        SELECT token, count(*) AS n_t FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_total FROM tok),
    terms AS (
        SELECT p.source,
               round((CAST(p.n_ts AS DOUBLE) / s.n_s)
                     * ln((CAST(p.n_ts AS DOUBLE) / s.n_s)
                          / (CAST(c.n_t AS DOUBLE) / n.n_total)),
                     9)::DECIMAL(20,9) AS term
        FROM per_src p
        JOIN src_tot s ON s.source = p.source
        JOIN corp c ON c.token = p.token
        CROSS JOIN n)
    SELECT t.source, s.n_s AS n_tokens,
           round(CAST(sum(t.term) AS DOUBLE), 6) AS kl_divergence
    FROM terms t JOIN src_tot s ON s.source = t.source
    GROUP BY t.source, s.n_s
    ORDER BY t.source
    """,
)
def corpus_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the unigram distribution against the
    corpus-wide distribution — the drift monitor a mixture pipeline
    runs per ingestion batch: a source whose KL jumps changed its
    content mix (scraper drift, spam infusion, encoding breakage)
    before any downstream metric notices. KL(P_src || P_corpus) sums
    p·ln(p/q) over the source's tokens; q > 0 always because the
    corpus distribution includes every source's tokens.

    Scale shape: one explode feeds three partial-agg count relations
    (source x token, source totals, corpus vocab); the per-term join
    is token-keyed against the vocab relation and everything after is
    group-by-source. Nothing driver-side, no dense distributions
    materialized.

    Determinism: counts are exact; each KL term is a fixed double dag
    rounded half-up to 9dp and summed as DECIMAL(20,9) (association-
    order-proof), rounded once to 6dp at the end."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    per_src = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n_ts"))
    src_tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    corp = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    n = tok.agg(F.count(F.lit(1)).alias("n_total"))
    p = F.col("n_ts").cast("double") / F.col("n_s")
    q = F.col("n_t").cast("double") / F.col("n_total")
    term = F.round(p * F.log(p / q), 9).cast("decimal(20,9)")
    return (
        per_src.join(src_tot, "source")
        .join(corp, "token")
        .join(F.broadcast(n))
        .select("source", F.col("n_s"), term.alias("term"))
        .groupBy("source", "n_s")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("kl_divergence"))
        .select(
            "source", F.col("n_s").alias("n_tokens"), "kl_divergence"
        )
        .orderBy("source")
    )
