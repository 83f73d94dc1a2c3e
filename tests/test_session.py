"""The session factory's host-sized defaults."""

from __future__ import annotations

from mcp_iceberg_duckdb_spark.session import driver_memory

GB = 1 << 30


def test_driver_memory_is_half_of_ram_capped_at_16g():
    assert driver_memory(15 * GB) == "7680m"
    assert driver_memory(4 * GB) == "2048m"
    assert driver_memory(32 * GB) == "16384m"
    assert driver_memory(256 * GB) == "16384m"


def test_driver_memory_reads_the_host_ram():
    mb = int(driver_memory()[:-1])
    assert 0 < mb <= 16 * 1024
