"""session.get_spark's default driver heap (no Spark is started)."""

from __future__ import annotations

from opensearch_jvector_plugin_spark.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_of_ram():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(64 * GIB) == "32768m"


def test_default_driver_memory_bounds():
    assert default_driver_memory(256 * GIB) == "49152m"  # 48g cap
    assert default_driver_memory(1 * GIB) == "1024m"  # 1g floor
