"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[32]; the config choices below are the ones
that matter on a real cluster at 100 TB:

- AQE on: runtime coalescing of shuffle partitions, auto broadcast-join
  conversion, skew-join splitting.
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a
  cluster AQE re-coalesces, so a high static number is safe.
- Arrow enabled for every pandas-UDF boundary.
- Session timezone pinned to UTC so timestamp semantics are engine- and
  host-independent (required for DuckDB oracle parity).
- ``maxPartitionBytes`` kept at 128m so huge binary (image) corpora split
  into executor-memory-sized tasks.

The processes a session launches get one runtime profile (README
"Runtime profile"). A short-lived local session spends more CPU in
HotSpot's JIT than in its queries, mostly C2 compiling Janino, Java
serialization and Catalyst code that runs a few thousand times; the
driver JVM therefore promotes a method to C2 only at 4x the JDK 17
tier-4 thresholds (C1 and C2 both stay on). The flags go in
``spark.driver.defaultJavaOptions``, which spark-submit prepends to
``--driver-java-options``; a user's own ``--conf`` of it replaces
them. Python workers fork from ``worker_daemon``, which stops them
re-reading Spark's zip archives before every task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# JDK 17 defaults (5000, 600, 15000, 40000) x4
DRIVER_JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=20000 "
                      "-XX:Tier4MinInvocationThreshold=2400 "
                      "-XX:Tier4CompileThreshold=60000 "
                      "-XX:Tier4BackEdgeThreshold=160000")
WORKER_DAEMON = f"{__package__}.worker_daemon"


def get_spark(app_name: str = "light_redistribution_in_3dptf_data_pipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Probe reads hand the scan an explicit leaf-dir list (up to
        # ~2^J·L·batches paths — plans/batches.visible_scan_keys);
        # above this threshold Spark file-listing becomes a
        # DISTRIBUTED JOB, which costs a full job dispatch per probe
        # DataFrame (measured 2.3 s construction vs 0.6 s driver-side
        # for 658 leaf dirs at sf0.1 — r17). Driver-side listing of
        # O(10^3-10^4) directories is the right default at every
        # deployment size this engine targets; a >10k-leaf probe
        # (huge batch count × tables) re-engages the parallel job.
        # Single-root analytic scans pass one path — unaffected.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    return builder.getOrCreate()


def tune_for_scale(spark: SparkSession, target_bytes: int) -> None:
    """Adjust runtime-settable knobs for a given input size.

    On a 1000-executor cluster reading 100 TB, the static shuffle
    partition count must be high enough that one shuffle partition fits
    in memory (~128 MB-1 GB each); AQE coalesces the excess at runtime.
    """
    parts = max(DEFAULT_SHUFFLE_PARTITIONS, target_bytes // (256 << 20))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
