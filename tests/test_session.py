"""Session defaults fit the machine the engine runs on."""

from __future__ import annotations

import os

from ta2_minmod_kg_spark import session


def _physical_ram() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_machine_defaults_stay_within_the_machine():
    cpus = session.machine_cpus()
    assert 1 <= cpus <= (os.cpu_count() or cpus)
    if hasattr(os, "sched_getaffinity"):
        assert cpus == len(os.sched_getaffinity(0))

    mem = session.machine_driver_memory()
    assert mem.endswith("g")
    gib = int(mem[:-1])
    assert gib >= 1
    if _physical_ram() >= 2**31:
        assert gib * 2**30 <= _physical_ram() // 2


class _Builder:
    """Records what get_spark configures instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _fake_session():
    return type("FakeSparkSession", (), {"builder": _Builder()})


def test_get_spark_defaults_without_environment(monkeypatch):
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_DRIVER_MEM"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "SparkSession", _fake_session())
    conf = session.get_spark()
    cpus = session.machine_cpus()
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cpus)
    assert conf["spark.driver.memory"] == session.machine_driver_memory()


def test_get_spark_environment_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    monkeypatch.setattr(session, "SparkSession", _fake_session())
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"
