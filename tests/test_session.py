"""Session defaults that must hold before any JVM starts."""

import os

import pytest

from wikdict_gen_spark import session


@pytest.mark.parametrize("gb", [1, 8, 15, 125])
def test_driver_heap_within_physical_ram(monkeypatch, gb):
    phys = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gb * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", phys.__getitem__)
    heap_mb = int(session._default_driver_mem().removesuffix("m"))
    assert 0 < heap_mb <= gb * 1024 // 2
