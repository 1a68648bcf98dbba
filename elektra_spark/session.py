"""SparkSession construction for the engine.

Centralizes the configs that matter at scale:

- AQE on (runtime coalescing, skew-join splitting) — the Spark analogue of the
  reference's sequential-fallback-below-threshold trick
  (elektra: euler_tour_tree.h:279, augmented_skip_list.h:278).
- Arrow execution on, so pandas UDF kernels move columnar batches, never rows.
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE coalescing makes the static number mostly a ceiling.

Iceberg: the production design writes all engine state (edges, labels, ranks,
lineage, metrics) to Iceberg tables. This sandbox has no Iceberg runtime jar
and no network, so :mod:`elektra_spark.tables` provides a local
snapshot-versioned parquet catalog with the same commit/merge/time-travel
semantics the engine needs; when an Iceberg jar is present on the classpath,
``iceberg_configs()`` returns the catalog configs to flip state storage over
to real Iceberg unchanged.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import SparkSession

# glibc malloc tuning for every process launched under the session (the JVM
# inherits the driver's environment and the forked Python UDF workers inherit
# the JVM's). Without this, NumPy buffers above the 128 KiB mmap threshold are
# munmap'd on free and **re-page-faulted on the next superstep's allocation**;
# this sandbox faults fresh pages at ~10 MB/s (measured: an 8.6M-int64
# concatenate costs 14 s cold vs 0.02 s warm), which serialized the vectorized
# kernels. Keeping large allocations on the brk heap makes freed pages
# reusable, so each UDF worker pays the fault cost once per buffer size.
_MALLOC_ENV = {"MALLOC_MMAP_MAX_": "0", "MALLOC_TRIM_THRESHOLD_": "-1"}


def apply_malloc_env() -> None:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)


def iceberg_jar_present() -> bool:
    """True if an iceberg-spark-runtime jar is importable by the JVM."""
    import pyspark

    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars_dir, "iceberg-spark-runtime*.jar")))


def iceberg_configs(warehouse: str) -> dict[str, str]:
    """Catalog configs used when a real Iceberg runtime is available."""
    return {
        "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.local.type": "hadoop",
        "spark.sql.catalog.local.warehouse": warehouse,
    }


def get_spark(
    app_name: str = "elektra-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in this sandbox — but
    **only when not running under spark-submit**: a spark-submit driver runs
    inside a JVM-launched Python (detected via PYSPARK_GATEWAY_PORT) whose
    master is already configured, and overriding it would silently run the
    documented cluster invocation in local mode on the driver.

    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_SHUFFLE_PARTITIONS``
    (32 when unset), read at call time so a program may set it after
    importing the engine.
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    apply_malloc_env()  # must precede JVM launch so UDF workers inherit it
    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_spark_submit:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # tmpfs shuffle dir, unique per process: the sandbox filesystem
        # stalls unpredictably and sequential benchmark JVMs must never share
        # block-manager directories
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIR_OVERRIDE",
                                                  f"/dev/shm/spark-local-{uuid.uuid4().hex[:8]}"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
