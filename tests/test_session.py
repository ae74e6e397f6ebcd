"""`session.get_spark` defaults: the shuffle width follows the core count
read at call time, and the default driver heap fits the box."""

from __future__ import annotations

from types import SimpleNamespace

from etl_acordos_spark import session

GIB = 1 << 30


def _fake_sysconf(ram_bytes: int):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
    return lambda name: sizes[name]


def test_driver_memory_clamped_to_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(int(15.6 * GIB)))
    assert session._default_driver_memory() == "15g"
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(256 * GIB))
    assert session._default_driver_memory() == "48g"


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(4 * GIB))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "96g")
    assert session._default_driver_memory() == "96g"


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )


def test_shuffle_width_reads_cpus_at_call_time(monkeypatch):
    """A caller that sets SPARK_GRAFT_CPUS after importing the module
    gets the same width for master and shuffle partitions."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
