"""SparkSession factory with the engine's tuned configuration.

The writer knobs mirror the reference's Parquet tuning (see SURVEY.md §4;
reference: /root/reference/pyarrow/main.py:140-148):

  * zstd compression (the reference probes for zstd and falls back to gzip;
    Spark ships zstd in every build, so the probe collapses to a constant)
  * 1 MiB uncompressed data pages (``parquet.page.size``)
  * no INT96 timestamps (``spark.sql.parquet.outputTimestampType``)

Execution knobs are sized for local[N] testing but written for a real
cluster: AQE on (runtime re-plan, skew-join handling, partition coalescing),
shuffle partitions ~ cores locally (on a 1000-executor cluster this is
overridden to ~2-3× total cores via spark-submit conf, not code).

Driver memory defaults to half the memory the box can give this process
(the smaller of ``MemTotal`` and the cgroup limit, where one is set),
capped at 48g, so a local JVM never grows past what the box holds;
``SPARK_GRAFT_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Uncompressed Parquet data-page size, matching the reference writer
# (reference pyarrow/main.py:145 `data_page_size=1_048_576`).
PARQUET_PAGE_SIZE = 1_048_576

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

_MAX_DRIVER_MB = 48 * 1024


def driver_memory(limits_bytes: list[int]) -> str:
    """Half the smallest of the box's memory limits, capped at 48g, as a
    Spark size string (``"7680m"``); 48g when no limit is known."""
    return f"{min([b // 2**21 for b in limits_bytes] + [_MAX_DRIVER_MB])}m"


def _memory_limits() -> list[int]:
    """``MemTotal`` and any cgroup (v2 or v1) memory limit, in bytes."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    return limits


def build_session(
    app_name: str = "json_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Defaults target local mode for tests/bench; every conf here is equally
    valid on a cluster, where ``master``/memory come from spark-submit.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Deterministic timestamp semantics; required for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # Arrow for any pandas-UDF / toPandas boundary crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter semi-join pruning: a selective dim-side
        # filter is turned into a bloom filter applied at the fact-side
        # scan, cutting the shuffle before it happens. The default 10 GiB
        # application-side threshold means it only fires at real scale —
        # tests force the threshold down to assert the injection
        # (tests/test_plans_helpers.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- Parquet writer parity with the reference (SURVEY §4) ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.page.size", str(PARQUET_PAGE_SIZE))
        # No INT96 (reference: use_deprecated_int96_timestamps=False).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Read INT64 TIMESTAMP(NANOS) parquet (Spark has no nanos type and
        # errors by default); the catalog converts the long back to a
        # microsecond timestamp — see sources/catalog.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(_memory_limits()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
