"""Driver heap default of ``session.get_spark``: half the host's physical
memory, clamped to [1g, 32g], from ``os.sysconf``."""

from __future__ import annotations

import os

import pytest

from stream2segment_spark.session import default_driver_mem

GIB = 2**30
PAGE = 4096


@pytest.mark.parametrize("host_bytes,want", [
    (15 * GIB + 512 * 2**20, "7g"),   # 15.5 GiB host
    (16 * GIB, "8g"),
    (128 * GIB, "32g"),               # capped
    (GIB, "1g"),                      # at least 1g
])
def test_default_driver_mem_is_half_the_host(monkeypatch, host_bytes, want):
    sizes = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": host_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert default_driver_mem() == want

