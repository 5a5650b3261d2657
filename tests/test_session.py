"""The local-mode heap default is derived from the host's memory."""

from __future__ import annotations

from biz_crawlers_spark.session import default_driver_mem

GIB_KIB = 1024 * 1024


def test_default_heap_is_40_percent_on_small_hosts():
    assert default_driver_mem(15 * GIB_KIB) == "6144m"


def test_default_heap_caps_at_48g():
    assert default_driver_mem(128 * GIB_KIB) == f"{48 * 1024}m"


def test_default_heap_unknown_memory_keeps_cap():
    assert default_driver_mem(None) == f"{48 * 1024}m"
