"""SparkSession factory tuned for the test/bench environment.

Local mode (single JVM); the settings still encode the choices that
matter on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow for any pandas exchange, UTC
session time zone, shuffle partitions sized to the core count rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(48, half of physical RAM) in whole GiB, at least 1."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, ram // 2**31))}g"


def get_spark(app_name: str = "meteor_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only JVM: 48g on a large box so wide
        # aggregates and LSH joins never GC-thrash, but never more than
        # half the host's RAM — a heap ceiling above physical memory
        # lets the JVM grow into the kernel's OOM killer
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # (nanosAsLong no longer set here: current fixtures store
        # timestamp[us]; io.read_parquet_table sets the legacy conf
        # on-demand and converts if a nanos fixture ever returns)
        # InferFiltersFromGenerate turns every explode(f(x)) into a pushed
        # size(f(x)) > 0 filter with f fully INLINED — for this engine's
        # explodes (shingles, n-grams, chunks: non-empty by construction)
        # that re-runs the tokenizer per array element in an always-true
        # predicate; measured 4x on the n-gram sweep queries. Catalyst
        # skips inference only for judged-expensive generators, and these
        # alias chains dodge that guard.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    return builder.getOrCreate()
