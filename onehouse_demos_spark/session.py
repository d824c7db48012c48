"""SparkSession construction tuned for the engine.

Mirrors the reference's launch configuration (Kryo serializer, adaptive
shuffle sizing — reference `hudi-spark-minio-trino/README.md:354-358`,
`demo/config/spark-defaults.conf`) but expressed as plain public Spark
confs. Designed so the same builder works on `local[N]` in tests and on
a real cluster: nothing here assumes local mode except the default
master, which callers override via `SPARK_MASTER` or the builder.
"""

from __future__ import annotations

import os
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Confs that matter at 100 TB as much as on a laptop. AQE handles
#: runtime shuffle-partition coalescing and skew-join splitting so we
#: do not hand-tune per-query parallelism (the reference hand-set
#: `hoodie.*.shuffle.parallelism=2`; AQE supersedes that approach).
ENGINE_CONFS: dict[str, str] = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas path (similarity,
    # multimodal): batch transfer instead of row-at-a-time pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown stay on (defaults,
    # pinned here so a misconfigured environment can't silently
    # disable them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Timestamps in our commit metadata are UTC; pin the session zone
    # so instant ordering and date partitioning are reproducible.
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny files explode task counts; at 100 TB the
    # manifest-driven planner controls file counts instead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Throughput GC: Java 17 defaults to G1, whose region management +
    # write barriers penalize this workload's allocation profile
    # (interpreted higher-order-function lambdas allocate per-element;
    # the r2→r3 bench "regression cluster" on HOF-heavy queries was G1
    # variance — ParallelGC measured 41.4s vs 47-50s suite total on
    # identical code+data, and cut run-to-run spread from ±3s to <1s).
    # Applies to fresh JVMs only (pyspark's gateway reads driver opts
    # at launch); a pre-existing session keeps its collector.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def session_builder(
    app_name: str = "onehouse-demos-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder; callers may continue chaining."""
    builder = SparkSession.builder.appName(app_name)
    resolved_master = master or os.environ.get("SPARK_MASTER")
    if resolved_master:
        builder = builder.master(resolved_master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    return builder


def get_spark(**kwargs) -> SparkSession:
    """Get-or-create the engine session."""
    return session_builder(**kwargs).getOrCreate()


_SMALL_PLAN_LOCK = threading.Lock()


@contextmanager
def small_plan(df: DataFrame, one_partition: bool = False):
    """Yield `df` re-rooted in a cached, AQE-off child session of
    `df.sparkSession`; run the small plan's actions on the yielded frame
    inside the block.

    Why: under AQE every Exchange of a small plan (a metadata collect, a
    Lloyd round) is a separately submitted stage job plus a
    re-optimisation pass; with AQE off the plan is one job. The child
    has its own SQLConf, so the parent's conf, which other threads may
    be planning writes under, is never touched; it shares the parent's
    SparkContext and cache, so persisted frames still hit. The frame is
    re-rooted through a uniquely named global temp view, dropped on exit.

    `one_partition` is the Lloyd shape: 1-partition shuffles (what AQE
    would coalesce these byte-sized exchanges to), applied only when
    `df` has fewer partitions than `defaultParallelism` — the tiny
    guard; a cluster-wide input is yielded unchanged and keeps AQE.
    Inside a child, `df` is yielded unchanged.
    """
    spark = df.sparkSession
    if getattr(spark, "_oh_small_plan_child", False) or (
        one_partition
        and df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    ):
        yield df
        return
    child = getattr(spark, "_oh_small_plan_children", {}).get(one_partition)
    if child is None:
        with _SMALL_PLAN_LOCK:
            children = spark.__dict__.setdefault("_oh_small_plan_children", {})
            child = children.get(one_partition)
            if child is None:
                child = spark.newSession()
                child._oh_small_plan_child = True
                child.conf.set("spark.sql.adaptive.enabled", "false")
                if one_partition:
                    child.conf.set("spark.sql.shuffle.partitions", "1")
                children[one_partition] = child
    # newSession() starts from the SparkConf, not the parent's runtime
    # conf: carry the keys that change these plans, on every use.
    carried = ["spark.sql.legacy.parquet.nanosAsLong"]
    if not one_partition:
        carried.append("spark.sql.shuffle.partitions")
    for key in carried:
        child.conf.set(key, spark.conf.get(key))
    name = f"__oh_small_plan_{uuid.uuid4().hex}"
    df.createOrReplaceGlobalTempView(name)
    try:
        yield child.table(f"global_temp.{name}")
    finally:
        spark.catalog.dropGlobalTempView(name)
