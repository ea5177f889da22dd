"""The local JVM heap default (no Spark session is started)."""

from __future__ import annotations

from evidence_datasource_parsers_spark import session


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_driver_memory_is_half_of_ram_up_to_32g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host(monkeypatch, 16)
    assert session.driver_memory() == "8192m"
    _host(monkeypatch, 64)
    assert session.driver_memory() == "32768m"
    _host(monkeypatch, 512)
    assert session.driver_memory() == "32768m"


def test_driver_memory_env_variable_wins(monkeypatch):
    _host(monkeypatch, 16)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"
