"""The default driver heap is sized from the machine (no Spark session
needed): a fixed 48g heap on a smaller host let the JVM outgrow
physical memory until the kernel killed it."""

from __future__ import annotations

import os

from streamtasks_spark import session


def _mib(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_default_heap_fits_physical_memory():
    phys_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap = _mib(session.default_driver_memory())
    assert 0 < heap <= phys_mib // 2
    assert heap <= 48 * 1024


def test_default_heap_caps_at_48g(monkeypatch):
    page = 4096
    pages = (512 << 30) // page  # a 512 GiB machine
    monkeypatch.setattr(
        session.os, "sysconf",
        lambda name: {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}[name],
    )
    assert session.default_driver_memory() == f"{48 * 1024}m"
