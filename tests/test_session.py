"""Session defaults that must hold before any JVM starts."""

import os

import pytest

from wikdict_gen_spark import session


def _host_gb(monkeypatch, gb):
    phys = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gb * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", phys.__getitem__)


@pytest.mark.parametrize("gb", [1, 8, 15, 125])
def test_driver_heap_within_physical_ram(monkeypatch, gb):
    _host_gb(monkeypatch, gb)
    heap_mb = int(session._default_driver_mem().removesuffix("m"))
    assert 0 < heap_mb <= gb * 1024 // 2


@pytest.mark.parametrize("gb,executors", [(8, 4), (15, 4), (15, 2), (125, 4)])
def test_local_cluster_executors_within_physical_ram(monkeypatch, gb, executors):
    _host_gb(monkeypatch, gb)
    budget_mb, heap_mb = session._local_cluster_mem(executors, None)
    assert executors * budget_mb <= gb * 1024
    assert budget_mb <= 20480
    assert 0 < heap_mb < budget_mb


def test_local_cluster_explicit_budget_kept():
    assert session._local_cluster_mem(4, 20480) == (20480, 18432)
