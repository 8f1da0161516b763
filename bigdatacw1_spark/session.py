"""SparkSession factory with scale-oriented defaults.

The reference (JasmineeeWu/BigDataCW1) delegates execution to PostgreSQL and
MongoDB servers; our equivalent of "session setup" (its
``set search_path = cash_equity`` — SQLQueries.sql:7) is a SparkSession with
a registered catalog of views (see sources.catalog).

Defaults are chosen for the 100 TB posture but work on local[N]:
  - AQE on (runtime partition coalescing, skew-join splitting, dynamic
    join-strategy switch): on a 1000-executor cluster this is what keeps a
    shuffle with a hot key from stalling a stage.
  - shuffle.partitions: small for local test runs (overridable via env
    SPARK_GRAFT_SHUFFLE_PARTITIONS); at cluster scale you'd size this to
    ~2-3x total cores and let AQE coalesce down.
  - UTC session timezone: deterministic timestamp semantics so results are
    comparable across engines (the DuckDB correctness oracle reads the same
    parquet with naive timestamps).
  - Arrow enabled: any toPandas/pandas-UDF path is Arrow-batched, never
    row-at-a-time pickling.
  - Generated-code cache sized to the working set: one pass over the
    headliners needs 185 distinct generated classes and the python_udf
    entries 27 more (212 in all), against Spark's default of 100 cache
    entries. The queries reuse their classes in the same cyclic order
    every pass, so an LRU smaller than the working set evicts each class
    just before it is needed again and every pass recompiles all of them.
    The cache is JVM-wide and its size is a static conf read once, when
    the cache is created: the first session built in the JVM fixes it,
    and ``spark.conf.set`` cannot change it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bigdatacw1-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster you would submit with ``--master yarn``/k8s and this
    builder leaves master unset.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # ones, and demote sort-merge to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce to the advisory size rather than defaultParallelism:
        # small intermediate shuffles collapse to few real tasks instead of
        # 32 near-empty ones (Spark's own recommendation for busy clusters);
        # large shuffles still split by size, so cluster-scale parallelism
        # is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (nation/region/supplier-scale) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        # Static, JVM-wide: measured working set is 185 generated classes
        # for the headliners + 27 for the python_udf entries = 212, over
        # the default 100 (see module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
