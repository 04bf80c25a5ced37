"""Round-13 optimization internals: data-derived parallelism floor
(plans/tuning.py::ensure_parallelism) and the machine-derived local
driver heap (session.py local profile)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import ensure_parallelism


def _cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


def test_tiny_input_floors_at_eight_not_cores(spark):
    # A KB-sized frame must not be split core-count ways: the target
    # is clamp(size/64KB, min(8, cores), cores), so tiny data lands on
    # the floor. (On boxes with < 8 cores the floor IS the core count.)
    df = spark.range(0, 1000, 1, 1).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
    )
    out = ensure_parallelism(df, keys=["id"])
    expected = min(8, _cores(spark))
    assert out.rdd.getNumPartitions() == expected


def test_bytes_per_task_scales_target_to_cores(spark):
    # Forcing a 1-byte quantum makes any frame "large": the target
    # caps at the session's core count.
    df = spark.range(0, 1000, 1, 1)
    out = ensure_parallelism(df, keys=["id"], bytes_per_task=1)
    assert out.rdd.getNumPartitions() == _cores(spark)


def test_explicit_min_partitions_is_honored(spark):
    df = spark.range(0, 1000, 1, 1)
    out = ensure_parallelism(df, min_partitions=5, keys=["id"])
    assert out.rdd.getNumPartitions() == 5


def test_already_parallel_input_is_a_noop(spark):
    # The 100 TB case: a scan that already yields >= target partitions
    # must come back unchanged (no exchange inserted).
    n = _cores(spark) + 4
    df = spark.range(0, 1000, 1, n)
    out = ensure_parallelism(df, keys=["id"])
    assert out is df


def test_env_quantum_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_TASK_BYTES", "1")
    df = spark.range(0, 1000, 1, 1)
    out = ensure_parallelism(df, keys=["id"])
    assert out.rdd.getNumPartitions() == _cores(spark)


@pytest.mark.parametrize("value", ["abc", "0"])
def test_bad_env_quantum_falls_back_to_default(spark, monkeypatch, value):
    # A non-numeric or non-positive quantum must neither raise nor
    # divide by zero: the default applies, exactly as if unset.
    df = spark.range(0, 1000, 1, 1)
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_TASK_BYTES", raising=False)
    want = ensure_parallelism(df, keys=["id"]).rdd.getNumPartitions()
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_TASK_BYTES", value)
    out = ensure_parallelism(df, keys=["id"])
    assert out.rdd.getNumPartitions() == want


def test_local_session_heap_is_machine_derived(spark):
    # The local profile must not run on Spark's 1g default: the heap
    # is SPARK_LOCAL_DRIVER_MEM, else min(8g, machine memory / 4) (see
    # session.py; guide §5). Only a session this process built through
    # the local profile carries that value.
    from rdsa_utils_spark.session import _local_driver_memory

    if (
        os.environ.get("PYSPARK_GATEWAY_PORT")
        or spark.sparkContext.appName != "rdsa-utils-spark-tests"
    ):
        pytest.skip("session not built in-process by the local profile")
    assert spark.conf.get("spark.driver.memory") == _local_driver_memory()


@pytest.mark.parametrize("limit", [None, "max", str(6 * 1024 ** 3)])
def test_local_heap_honours_cgroup_limit(tmp_path, monkeypatch, limit):
    # Inside a container sysconf reports the host's RAM; the cgroup
    # limit, when lower, sizes the heap. An absent file or "max" is no
    # limit.
    from rdsa_utils_spark import session

    monkeypatch.delenv("SPARK_LOCAL_DRIVER_MEM", raising=False)
    path = tmp_path / "memory.max"
    if limit is not None:
        path.write_text(limit + "\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(path),))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = phys if limit in (None, "max") else min(phys, int(limit))
    assert session._local_driver_memory() == (
        f"{max(1, min(8, mem // (4 * 1024 ** 3)))}g"
    )
