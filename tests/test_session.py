"""The session's host-sized defaults."""

from __future__ import annotations

import os

from b2b_data_pipeline_indiamart_spark import session


def _mb(spec: str) -> int:
    assert spec.endswith("m")
    return int(spec[:-1])


def test_default_driver_memory_fits_host_and_caps_at_16g(monkeypatch):
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = _mb(session.default_driver_memory())
    assert 0 < got <= ram_mb and got <= 16 * 1024

    page = 4096
    for ram_gb, want_mb in ((15.7, int(15.7 * 1024) // 2), (64, 16 * 1024), (1024, 16 * 1024)):
        pages = int(ram_gb * 2**30) // page
        fake = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
        monkeypatch.setattr(session.os, "sysconf", fake.__getitem__)
        assert _mb(session.default_driver_memory()) == want_mb
