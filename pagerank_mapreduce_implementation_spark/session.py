"""SparkSession factory tuned for the engine.

Defaults target the test harness (local[N], 128 GiB box) but every knob
is chosen for how it scales out: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python<->JVM
transfer for the few Pandas-UDF operators), shuffle partitions sized to
the parallelism rather than Spark's legacy 200.

On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) and ``shuffle_partitions`` sized to ~2-3x total cores
(or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-graft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Environment overrides (driver contract): ``SPARK_GRAFT_CPUS`` sets
    local parallelism; tests use ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast-join demotion/promotion. Essential at 100 TB
        # where static stats are stale or absent.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce partitions INSIDE persisted plans too —
        # iterative loops persist every step; without this each cached
        # step materializes at full shuffle width (tasks >> data).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for the Pandas-UDF extension points (similarity,
        # multimodal decode) — batch columnar transfer, not per-row pickle.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep files splittable at 128 MiB so a 100 TB table fans out.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scans plan each file as its size plus this open cost. Spark's
        # 4 MiB default plans 2000 one-KB files (the jar's one document
        # per file) as ~8 GB and splits them into 63 tasks per scan;
        # 256 KiB packs them into 4 on two cores. Large files still
        # split at maxPartitionBytes.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts): Spark <=4.0
        # rejects them unless this legacy conf reads them as long;
        # Spark 4.1+ ignores the conf and reads them natively as
        # TIMESTAMP_NTZ. The catalog loader normalizes BOTH shapes to
        # micros TIMESTAMP; the conf stays for older-Spark portability.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's checkpoint-file checksum manager leaks ~130
        # threads per stopped streaming query (see streaming/queries.py
        # run_to_memory) — disabled; checksums only detect checkpoint
        # file corruption.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # Deterministic calendar rendering: date/window functions
        # follow the session zone; the DuckDB oracles treat the naive
        # event timestamps as UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Managed-table location for bucketed tables (write_bucketed):
        # static conf, must be set before the first session exists.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Long-session hygiene (a many-hundred-query session is the
        # steady state for both the bench and a 100 TB driver): the
        # SQL status store retains full plan graphs + metrics for the
        # last 1000 executions EVEN WITH THE UI OFF — unrolled
        # iterative plans (pagerank, hits, lloyd) are huge, so a long
        # suite accumulates hundreds of MB of dead metadata and taxes
        # the listener bus; retain a diagnostic-sized window instead.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        # ContextCleaner only reclaims shuffle files / broadcast blocks
        # once the JVM GCs their references — with a 24g driver heap,
        # organic full GCs are rare, so hundreds of executions' shuffle
        # files pile up on local disk mid-session. The default periodic
        # System.gc() every 30min never fires inside one bench; every
        # 2min keeps the cleanup queue draining.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # G1 (the JVM default) measured best here; ZGC was 3-4x slower
        # on this allocation-heavy workload. The reserved code cache is
        # raised because whole-stage codegen emits a class per query
        # shape — a many-query session overflows the 240MB default,
        # silently disabling the JIT and making later queries run
        # interpreted (measured as random 10-20x per-query slowdowns).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g",
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
