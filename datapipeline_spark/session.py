"""SparkSession factory tuned for the engine.

All temporal semantics assume UTC (reference normalizes every record time to
UTC on construction — src/datapipeline/domain/record.py:11-19), so the session
timezone is forced to UTC. Scale posture: AQE on (runtime coalesce + skew-join
handling), zstd parquet, Arrow for any Python exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf that is safe to (re)apply on a live session.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalescePartitions.parallelismFirst stays at Spark's default (true):
    # a steady-state A/B at sf0.1 showed `false` (coalesce to the 64 MB
    # advisory size) loses 10-30% on window-heavy queries by collapsing
    # mid-size shuffles below the core count, while gaining nothing
    # measurable on tiny aggregates once warm.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Force engine-required conf onto an externally created session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; accept session default
    return spark


def get_spark(
    app_name: str = "datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a session.

    ``local[$SPARK_GRAFT_CPUS]`` by default; shuffle partitions default to the
    local core count (at cluster scale, AQE coalesces post-shuffle partitions
    so a generous static value is fine).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return apply_runtime_conf(active)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the whole-stage-codegen CLASS cache defaults to 100 entries — a
        # workload cycling through hundreds of distinct plans (this
        # engine's registry, any multi-tenant SQL service) evicts it
        # completely each pass and recompiles every generated unit.
        # Round-7 experiment (48-query interleaved sweep, idle host):
        # 100 -> 5000 entries cut the Spark pass 19.1 -> 13.8 s, BELOW the
        # phased protocol's 14.7 s — the entire "interleaved penalty" was
        # codegen recompilation, not JIT or page locality. Static conf;
        # memory cost is bounded by generated-class size (small units).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Driver hygiene for long-lived sessions cycling many distinct
        # plans (this registry; any multi-tenant SQL service). Spark frees
        # shuffle files, broadcasts and localCheckpoint blocks through
        # ContextCleaner, which only learns an object is dead when the
        # driver JVM runs a GC — and a large-heap driver can go very long
        # without one, so state from hundreds of finished queries piles up
        # (default periodicGC.interval is 30 min). Round-7-opt full-bench
        # A/B on an idle host (210 queries, min-of-2 each): default 244.3 s
        # → 159.1 s with a 90 s periodic GC alone. Scale posture: the
        # cleanup backlog grows with queries-per-session, not with data
        # size — a production driver needs this MORE, not less.
        .config("spark.cleaner.periodicGC.interval", "90s")
        # The 5000-entry codegen class cache (above) keeps thousands of
        # JIT-compiled generated classes live; the JVM's default 240 MB
        # reserved code cache then overflows mid-run and HotSpot silently
        # stops compiling (uniform ~1.5-2x slowdown tail). Same A/B:
        # 159.1 s → 149.1 s with the larger code cache on top of the GC
        # fix. Sized to the codegen cache, not to this host.
        #
        # ExplicitGCInvokesConcurrent: the periodic cleaner GC above calls
        # System.gc(), which on G1 is a STOP-THE-WORLD full collection by
        # default — on this 8 GB heap a multi-second pause that lands
        # inside whatever query is running when the 90 s timer fires
        # (observed: pretraining_pipeline 4.1 s → 10.9-12.0 s,
        # t5_span_corruption 1.4 s → 6.4 s in runs where the pause hit
        # them). The flag turns those explicit GCs into concurrent G1
        # cycles: cleanup still happens, queries keep running.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+ExplicitGCInvokesConcurrent",
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    # experiment hook: semicolon-separated k=v pairs applied at build time,
    # after the literals above, so it overrides them too (e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.codegen.cache.maxEntries=100" to A/B
    # the codegen cache). Production deployments tune through their own
    # session factory; this exists so bench tools can A/B session-static
    # conf without code edits.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        if k and v:
            builder = builder.config(k, v)
    return builder.getOrCreate()
