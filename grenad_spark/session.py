"""SparkSession factory tuned for the index-build workload.

Local mode stands in for a multi-executor cluster; every setting here is one we
would also set at 1000-executor / 100 TB scale (AQE, Arrow, shuffle-partition
sizing), except driver memory which maps to executor memory there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "grenad_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local[N] thread count (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions defaults to max(cpus, 32) — at cluster scale this is
    sized so each shuffle partition of the (term, doc_id, tf) stream fits in
    executor memory (grenad's dump_threshold analog, reference
    src/sorter.rs:17-19 — Spark's Tungsten sorter enforces the budget for us).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master[6:-1]) if master[6:-1] != "*" else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(n, DEFAULT_SHUFFLE_PARTITIONS)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize per-batch serialization in the encode
        # UDF (measured faster than the 10k default on the build pipeline)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # v2 output committer: task-side renames instead of a serial
        # driver-side commit loop — the build writes 4 parquet dirs and the
        # v1 commit was a non-scaling ~1-2s per write
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Every task starts with importlib.invalidate_caches()
        # (pyspark/worker_util.py:144), and on CPython 3.11 each zipimporter
        # re-reads its whole archive for it (zipimport.py:329-336): ~0.2 s of
        # worker CPU per task spent re-parsing an unchanged pyspark.zip. This
        # daemon re-reads an archive only when its mtime or size changed.
        .config("spark.python.daemon.module", "grenad_spark.worker_daemon")
        # NOTE: tested tmpfs (/dev/shm) as spark.local.dir — 1.8× SLOWER than
        # /tmp at 16 cores (synchronous memcpy vs page-cache-buffered ext4
        # writeback that never touches disk for short-lived shuffle files).
        # Default /tmp is the right choice on this host.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Fully stop the active session + context so a new master can be used
    (needed by bench.py's local[8] vs local[32] scaling measurement)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # clear the cached builder state so a fresh master takes effect
    SparkSession.builder._options = {}
