"""SparkSession factory — the one place execution is configured (SURVEY.md §4.2).

Everything scale-relevant is declared here so a cluster deployment changes
configs, not code:

- AQE on (runtime shuffle coalescing, skew-join splitting, plan re-opt).
- Arrow on for the pandas-UDF extraction stages; bounded batch size so a
  Python worker never materializes more than ~10k rows per batch.
- shuffle.partitions sized ~2× local cores; on a 1000-executor cluster the
  documented formula is max(2 × totalCores, input_bytes / 128MB).
- UTC session TZ so timestamps round-trip exactly against the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import SparkSession


def _warehouse_dir() -> str:
    """Per-process managed-table warehouse, nested under one parent so
    purge routines (and `rm -rf /tmp/kgc-spark-warehouse`) cover every
    process's leftovers, with a best-effort atexit cleanup of this
    process's own dir. KGC_WAREHOUSE_DIR overrides (no auto-cleanup then —
    the caller owns an explicit path)."""
    explicit = os.environ.get("KGC_WAREHOUSE_DIR")
    if explicit:
        return explicit
    path = f"/tmp/kgc-spark-warehouse/{os.getpid()}"
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _default_driver_mem() -> str:
    """In local[N] mode the driver JVM IS every executor, so the r1 fixed
    8g default was undersized for big-SF jobs on big boxes (the sf1 LSH
    self-join OOMed at 8g; verified green at this box's 31g default and at
    48g). Default to a quarter of physical RAM, clamped to [8g, 48g] — the
    upper clamp only bounds GC-pause territory; KGC_DRIVER_MEM overrides."""
    try:
        total_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 30)
    except (ValueError, OSError):
        return "8g"
    return f"{min(48, max(8, total_gb // 4))}g"


def get_spark(
    app_name: str = "kgc",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-scale skew thresholds: the planted hot activity concentrates
        # ~50MB in one join partition — far under the 256MB default, so AQE
        # would never split it. At cluster scale these scale with executor
        # memory; the ratios (factor 2, split target 16MB) are the design.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGC_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Managed-table warehouse (bucketBy co-located-join seam, op-02)
        # defaults under /tmp so saveAsTable never writes into the repo cwd.
        # Per-PROCESS unique (ADVICE r3): a fixed shared path raced when two
        # sessions on the same host saveAsTable'd the same table names
        # (t_bucket_a/...); pid-suffixing isolates them while staying stable
        # across get_spark() calls within one process (getOrCreate reuse).
        # Nested under ONE parent + cleaned at exit (ADVICE r4): the r3
        # flat-suffix layout leaked a dir per process forever, and stale
        # /tmp data is this host's documented perf trap (BENCH §3).
        .config("spark.sql.warehouse.dir", _warehouse_dir())
    )
    # KGC_CONF: JSON dict of extra spark confs — the env seam for cluster
    # profiles and config A/B without code edits (r6). Applied before
    # extra_conf so an explicit caller dict still wins.
    env_conf = os.environ.get("KGC_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Under spark-submit the driver JVM exists BEFORE this code runs, so the
    # builder's spark.driver.memory is silently ignored (only plain `python`
    # invocations get it applied — pyspark launches the JVM itself). The
    # session conf can't reveal this (the builder's ineffective value
    # overwrites the conf view), but the silent-failure SIGNATURE can: the
    # JVM heap stuck at spark-submit's 1g default while the builder intended
    # multi-gigabyte. A user explicitly passing --driver-memory never lands
    # under ~1.5g for this engine's documented commands.
    intended = _parse_size_gb(spark.conf.get("spark.driver.memory", "1g"))
    got = int(spark._jvm.Runtime.getRuntime().maxMemory())  # type: ignore[union-attr]
    if intended is not None and intended >= 4 and got < 1.5 * (1 << 30):
        print(
            f"[kgc] WARNING: JVM heap is {got / (1 << 30):.1f}g (spark-submit's default) but "
            f"this box wants ~{intended:g}g — the session builder cannot resize an "
            f"already-started JVM; pass `spark-submit --driver-memory {intended:g}g`"
        )
    return spark


def _parse_size_gb(size: str) -> float | None:
    """Spark size string → GB ('8g', '8G', '8192m', bare MB number); None if
    unparseable — the warning is best-effort and must never fail a session."""
    try:
        s = size.strip().lower()
        for suffix, mult in (("g", 1.0), ("m", 1.0 / 1024), ("k", 1.0 / (1024 * 1024)), ("b", None)):
            if s.endswith(suffix):
                if suffix == "b":  # '8gb' / '512mb' style
                    return _parse_size_gb(s[:-1])
                return float(s[: -1]) * mult
        return float(s) / 1024  # bare number = MB to Spark
    except (ValueError, AttributeError):
        return None
