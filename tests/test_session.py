"""Session defaults that are pure functions of the host."""

from __future__ import annotations

from dedupe_algo_spark.session import driver_memory


def test_driver_memory_is_a_quarter_of_ram_capped_at_16g():
    gib = 1024 * 1024  # kB per GiB, the unit of /proc/meminfo's MemTotal
    assert driver_memory(16 * gib) == "4096m"
    assert driver_memory(15_700_000) == "3833m"
    assert driver_memory(64 * gib) == "16384m"
    assert driver_memory(128 * gib) == "16384m"
    assert driver_memory(None) == "16384m"
