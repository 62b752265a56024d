"""SparkSession factory tuned for the KG-construction workload.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same settings are what we would submit with ``spark-submit --py-files``
on a real cluster — only ``master`` and the shuffle-partition count
change with cluster size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    v = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        return max(1, int(v))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "pdf2ontology_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Settings rationale (scale-first, see SURVEY.md §4.2):
    - AQE + skew-join on: media-heavy docs skew span-level stages and the
      entity-linking self-joins (north rule calls this out explicitly).
    - Arrow on: every pandas UDF stage is Arrow-batched, never per-row.
    - UTC session TZ: parity with DuckDB oracle timestamps.
    - ``spark.python.daemon.module`` = ``pdf2ontology_spark.worker_daemon``:
      every Python task (the media and imaging Arrow stages, the
      components union-find, the dedup and similarity UDFs) starts with
      PySpark's ``importlib.invalidate_caches()``, which before Python
      3.13 makes each zip importer re-read its whole archive directory
      (pyspark.zip, the spark-core jar). That cost 0.15-0.40 s per
      task before the UDF ran (local[4], Python 3.11). The library
      daemon re-reads an archive only when it changed on disk, which
      cuts the call to under 1 ms (see worker_daemon.py).
    - shuffle partitions ~ cores locally; on a real cluster this is set
      to ~2-3x total executor cores (AQE coalesces the rest).
    """
    cpus = _cpus()
    # One BLAS thread per task: Spark supplies the parallelism (every
    # Arrow-batched kernel runs in N concurrent python workers), so a
    # multi-threaded GEMM inside each worker would oversubscribe the
    # host N*threads-fold. Set BEFORE the JVM forks so pyspark.daemon
    # and its python workers inherit it — the same setting a cluster
    # deploy ships via spark.executorEnv.
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # match the 16MB scan splits: keeps post-shuffle tasks numerous
        # enough to use all cores on mid-size shuffles (measured win on
        # the graph job; AQE still coalesces truly tiny stages)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "pdf2ontology_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 4MB default splits suit the SMALL driver test tables only.
        # The corpus read path re-sizes this per input at load time
        # (tables.tune_split_bytes: actual compressed bytes / cores /
        # waves, clamped 4-128MB), so a deployment scanning 100GB+ gets
        # ~128MB splits instead of ~25k 4MB tasks, while the ~600MB
        # local bench corpus keeps the measured 4-5-waves-of-32 sweet
        # spot (16MB splits gave 38 tasks = 1.2 waves; wave quantization
        # was the whole triples-efficiency gap). The env var pins the
        # value and disables the tuner.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
    )
    # opt-in event log (task-level metrics for the scaling-evidence
    # harness: per-task run times prove/refute bandwidth contention)
    eventlog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG", "")
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", eventlog_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()
