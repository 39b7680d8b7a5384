"""Session defaults fit the host: one task slot per core and a driver
heap below physical RAM, unless the environment pins them."""

import os

from tilemaker_spark import session


def _bytes(size: str) -> int:
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    return int(size[:-1]) * units[size[-1].lower()]


def test_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    conf = session.session_conf()
    assert conf["spark.master"] == f"local[{os.cpu_count()}]"
    assert conf["spark.sql.shuffle.partitions"] == str(os.cpu_count())
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _bytes(conf["spark.driver.memory"]) < ram
    assert _bytes(conf["spark.driver.memory"]) <= 16 * 2**30
    # no per-call Python call-site capture (Spark 4.1's default)
    assert conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"


def test_environment_pins_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    conf = session.session_conf(shuffle_partitions=7)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "7"
    assert conf["spark.driver.memory"] == "1g"
    assert session.session_conf(master="local[2]")["spark.master"] == "local[2]"
