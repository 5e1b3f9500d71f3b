"""get_spark's defaults, checked against a stand-in builder: no session
starts."""

import os

import pytest

from terrier_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.settings = {}

    def master(self, value):
        self.settings["master"] = value
        return self

    def appName(self, value):
        return self

    def config(self, key, value):
        self.settings[key] = value
        return self

    def getOrCreate(self):
        return self.settings


@pytest.fixture
def fake_builder(monkeypatch):
    class FakeSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    return FakeSession.builder


def test_default_cpus_is_the_affinity_mask(monkeypatch, fake_builder):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = len(os.sched_getaffinity(0))
    got = session.get_spark()
    assert got["master"] == f"local[{cpus}]"
    assert got["spark.sql.shuffle.partitions"] == str(max(cpus, 8))


def test_cpus_from_env_and_argument(monkeypatch, fake_builder):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.get_spark()["master"] == "local[3]"
    assert session.get_spark(cpus=5)["master"] == "local[5]"
