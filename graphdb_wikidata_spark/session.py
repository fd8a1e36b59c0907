"""SparkSession factory with scale-oriented defaults.

The reference engine is single-node (tuple-at-a-time interpreter over
mmap'ed sorted arrays, /root/reference/src/calc_engine.rs:105-351); here
every physical decision is delegated to Catalyst/Tungsten and the
settings below are the knobs that matter when the same plans run on a
1000-executor cluster against ~100 TB:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (vectorized pandas UDF exchange for the few Python-side ops)
- session timezone pinned to UTC so date semantics are engine-independent
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """A quarter of physical RAM, at least 1g: a fixed large heap lets
    the JVM grow past a small machine's memory until the kernel's OOM
    killer ends it. ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 4 // 2**30)}g"


def get_spark(
    app_name: str = "graphdb-wikidata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master``/executor sizing come from spark-submit;
    everything configured here is cluster-size independent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce shuffles by size, not parallelism: iterative graph
        # algorithms shrink to tiny frontiers where 32 near-empty tasks
        # per stage dominate wall clock; at scale shuffles exceed the
        # advisory size and this makes no difference
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        # iterative algorithms localCheckpoint per round; the blocks of
        # dead checkpoints are only freed when the ContextCleaner sees
        # the RDD garbage-collected — at the default 30min periodic-GC
        # interval repeated runs accumulate dead blocks and degrade
        # nondeterministically (measured 16s -> 71s on back-to-back
        # identical CC runs). 5min bounds the accumulation window.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # ...but that periodic System.gc() is a STOP-THE-WORLD full
        # collection of the whole driver heap by default — multi-second to ~30s
        # pauses that land in the middle of whatever query is running.
        # Round-9 measurement: queries showed 18-37s outliers on a
        # 0.5-1.3s steady state
        # (the round-8 artifact's 27 retries and uniform ~1.5x shift
        # are this same pause lottery). ExplicitGCInvokesConcurrent
        # turns explicit GCs into a concurrent G1 cycle: 204
        # consecutive reps then showed ZERO multi-second outliers and
        # per-query minimums halved; the ContextCleaner still gets its
        # reference processing from the concurrent cycle's remark, so
        # checkpoint-block cleanup keeps working (re-verified on
        # back-to-back CC runs).
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.enabled", "false")
        # per-call call-site capture for error enrichment costs 3 JVM
        # round-trips on EVERY DataFrame API call; the SPARQL compiler
        # makes thousands while building one complex plan (driver-side
        # plan-build latency, measured ~25% of compile time)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # whole-stage-codegen classes are memoized in a 100-entry cache
        # (static conf); a workload cycling through more than ~a dozen
        # complex plans (27 headline queries; any real multi-tenant
        # endpoint) evicts and re-janino-compiles every stage on every
        # execution — measured 0.5-1.5s/query extra, plateauing however
        # many times the query repeats (bench r5: sparql_agg_suite
        # 1.5-2.0s interleaved vs 0.54s back-to-back on identical code).
        # Generated classes are small; 4096 entries is megabytes.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
