"""``session.get_spark``'s default master, checked on a stand-in builder
so no second SparkSession starts."""

import os

import pytest

from kapra_spark import session


class _Builder:
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
        return self.conf


@pytest.fixture
def builder(monkeypatch):
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        type("SparkSession", (), {"builder": b}))
    return b


def test_default_master_is_the_usable_core_count(builder, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = session.get_spark("t")
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(8, n))


def test_default_master_follows_spark_graft_cpus(builder, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.get_spark("t")["master"] == "local[3]"
    assert session.get_spark("t", master="local[2]")["master"] == "local[2]"
