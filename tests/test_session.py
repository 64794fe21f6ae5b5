"""Session posture, checked without a JVM: the conf table that
``get_spark`` and ``tune_session`` both read, and an empty
``SPARK_GRAFT_*`` value meaning "leave Spark's default"."""

from __future__ import annotations

import importlib
import os

import pytest

from universal_data_to_orc_converter_spark import session

_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_DRIVER_MEM",
)


class _Recorder:
    """Stands in for both ``SparkSession.builder`` and ``spark.conf``."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    set = config

    def getOrCreate(self):
        return self


@pytest.fixture
def posture(monkeypatch):
    """Reload ``session`` under the given env; return what
    ``get_spark`` passes to the builder and what ``tune_session`` sets."""

    def load(**env):
        for k in _ENV:
            monkeypatch.delenv(k, raising=False)
        for k, v in env.items():
            monkeypatch.setenv(k, v)
        mod = importlib.reload(session)
        builder = _Recorder()
        monkeypatch.setattr(mod, "SparkSession", type("S", (), {"builder": builder}))
        mod.get_spark("t")
        tuned = _Recorder()
        mod.tune_session(type("S", (), {"conf": tuned})())
        return builder.conf, tuned.conf

    yield load
    monkeypatch.undo()
    importlib.reload(session)


def test_default_posture(posture):
    built, tuned = posture()
    shared = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.orc.filterPushdown": "true",
        "spark.sql.orc.enableVectorizedReader": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.execution.arrow.localRelationThreshold": "0",
    }
    assert tuned == shared
    assert built == {
        **shared,
        "master": f"local[{os.cpu_count()}]",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "16g",
    }


def test_empty_max_partition_bytes_leaves_spark_default(posture):
    built, tuned = posture(SPARK_GRAFT_MAX_PARTITION_BYTES="")
    assert "spark.sql.files.maxPartitionBytes" not in built
    assert "spark.sql.files.maxPartitionBytes" not in tuned
    assert built["spark.sql.session.timeZone"] == "UTC"
