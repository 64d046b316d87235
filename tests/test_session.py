"""Session defaults that do not need a new SparkSession."""

from __future__ import annotations

import os

import pytest

from proxyfeatureextraction_spark import session


@pytest.mark.parametrize(
    "total, expected",
    [
        (16 * 2**30, "8192m"),  # half of RAM
        (15_989_936 * 1024, "7807m"),  # MemTotal of a "16 GB" host, rounded down
        (512 * 2**30, "65536m"),  # capped at 64g
        (None, "64g"),  # RAM unknown
    ],
)
def test_default_driver_memory(monkeypatch, total, expected):
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: total)
    assert session._default_driver_memory() == expected


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_mem_total_bytes_reads_meminfo():
    total = session._mem_total_bytes()
    assert total is not None and total > 2**20
