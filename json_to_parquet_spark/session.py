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

File listing stays on the driver up to 64 paths per level
(``spark.sql.sources.parallelPartitionDiscovery.threshold``; Spark's
default is 32).  A file stream hands each micro-batch's new files to the
file index as explicit paths, and above the threshold Spark lists them
with a job of one task per file: a 55-file binaryFile batch paid a
55-task listing job before it decoded anything.  64 is the measured
traffic's bound, not a tuned value: the largest micro-batch any gate
stream hands over is x278's ⌈219 / 4⌉ = 55 media files at sf0.1, and the
largest directory level found (every gate store and testdata table at
sf0.001/sf0.01, the benchmark's and the IVF stores at sf0.1) is an IVF
store's 45 cell directories at sf0.1.  Those two are the only measured
reads that moved to the driver; a level above 64 paths (the IVF stores'
142 and 448 directories at sfx1 and sfx10, a cluster table with
hundreds of partitions) is still listed by a parallel job, as at Spark's
default.  The value is session-wide because a stream reads the session's conf
while it drains, not when it starts: setting the threshold before
``start()`` and restoring it right after left the listing job in place,
and only a value held until ``awaitTermination()`` returned removed it.
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

    Defaults target local mode for tests/bench; on a cluster
    ``master``/memory come from spark-submit.  The listing threshold is
    sized to the gate's measured file counts (module docstring); a
    deployment whose micro-batches or partition levels are larger sets
    its own through ``extra_conf``.
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
        # Micro-batch file lists are listed on the driver, not by a
        # one-task-per-file job (module docstring).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "64")
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
