"""get_spark's parallelism defaults, checked against a recording builder so
no JVM starts."""

from __future__ import annotations

import os

from prql_query_spark.engine import session


class _Builder:
    def __init__(self):
        self.master_url = None
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _get_spark(monkeypatch, **kw):
    builder = _Builder()

    class _Session:
        pass

    _Session.builder = builder
    monkeypatch.setattr(session, "SparkSession", _Session)
    return session.get_spark(**kw)


def test_get_spark_defaults_to_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("PQ_SHUFFLE_PARTITIONS", raising=False)
    b = _get_spark(monkeypatch)
    cpus = len(os.sched_getaffinity(0))
    assert b.master_url == f"local[{cpus}]"
    assert b.conf["spark.sql.shuffle.partitions"] == str(cpus)


def test_get_spark_honours_cpu_env_and_arguments(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("PQ_SHUFFLE_PARTITIONS", raising=False)
    b = _get_spark(monkeypatch)
    assert b.master_url == "local[3]"
    assert b.conf["spark.sql.shuffle.partitions"] == "3"
    b = _get_spark(monkeypatch, master="local[2]", shuffle_partitions=5)
    assert b.master_url == "local[2]"
    assert b.conf["spark.sql.shuffle.partitions"] == "5"
