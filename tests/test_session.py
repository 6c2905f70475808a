"""The session's driver-memory default (``session.driver_memory``): half
the box's smallest memory limit, capped at 48g (pure arithmetic, no
Spark), and the listing threshold ``build_session`` pins on the suite's
session."""

from __future__ import annotations

from json_to_parquet_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_memtotal():
    assert driver_memory([16 * GIB]) == "8192m"


def test_driver_memory_takes_the_smaller_cgroup_limit():
    assert driver_memory([64 * GIB, 6 * GIB]) == "3072m"


def test_driver_memory_ignores_an_unlimited_cgroup():
    # cgroup v1 reports "no limit" as a page-rounded 2**63 - 1
    assert driver_memory([16 * GIB, 9223372036854771712]) == "8192m"


def test_driver_memory_is_capped_at_48g():
    assert driver_memory([512 * GIB]) == "49152m"
    assert driver_memory([]) == "49152m"


def test_session_lists_micro_batch_files_on_the_driver(spark):
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(threshold) == "64"
