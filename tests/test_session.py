"""Session defaults: the codegen class cache holds a working set of
generated classes across reruns, and cores and driver heap follow the
host when no environment override is set."""

from __future__ import annotations

import types

from pyspark.sql import functions as F

from binance_data_pipeline_spark import session

#: First int literal of the probe queries, far from any literal other tests
#: inline, so each probe query generates classes of its own.
_LITERAL_BASE = 1_000_003


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one per codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _probe(spark, i: int) -> None:
    # The literal is inlined into the generated code: every i compiles
    # classes no other i shares.
    (spark.range(8).select((F.col("id") * (_LITERAL_BASE + i) + 7).alias("x"))
     .write.format("noop").mode("overwrite").save())


def test_warm_rerun_compiles_no_generated_classes(spark):
    """80 distinct queries generate ~160 classes, more than Spark's default
    100-entry cache keeps; rerunning the first 20 must compile nothing."""
    start = _compiles(spark)
    for i in range(80):
        _probe(spark, i)
    first = _compiles(spark)
    assert first - start >= 160  # each query brought its own classes
    for i in range(20):
        _probe(spark, i)
    assert _compiles(spark) == first


def _meminfo(tmp_path, available_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       99999999 kB\nMemAvailable:   {available_kb} kB\n")
    return str(p)


def test_host_sizing_without_env(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.local_cores() == 3

    # half of MemAvailable, kept within [1g, 16g]
    for available_kb, want in ((8_000_000, "3906m"), (64 * 2**20, "16384m"),
                               (500_000, "1024m")):
        monkeypatch.setattr(session, "MEMINFO", _meminfo(tmp_path, available_kb))
        assert session.driver_memory() == want


def test_host_sizing_env_overrides(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    monkeypatch.setattr(session, "MEMINFO", str(tmp_path / "absent"))
    assert session.local_cores() == 5
    assert session.driver_memory() == "2g"


class _Builder:
    """Records what ``get_spark`` configures instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def getOrCreate(self):
        return self.conf


def test_get_spark_conf_follows_host(monkeypatch, tmp_path):
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(session, "MEMINFO", _meminfo(tmp_path, 8_000_000))
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_Builder()))
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "3906m"
    assert conf["spark.sql.codegen.cache.maxEntries"] == "2048"
