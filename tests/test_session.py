"""SparkSession defaults (session.py) that depend on the host."""

from __future__ import annotations

from hpc_hd_textreuse_etl_spark import session


def test_default_driver_memory_is_half_of_physical_capped(monkeypatch):
    conf = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    conf["SC_PHYS_PAGES"] = 15 * 2**30 // 4096  # 15 GiB host
    assert session.default_driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096  # capped at 16g
    assert session.default_driver_memory() == "16384m"


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert session.default_driver_memory() == "16g"
