"""session: the host-sizing rule, the generated-class cache bound and
run_concurrently, the pool that overlaps independent actions."""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
import time
from functools import partial

import pytest

from ecom_snowflake_duckdb_migration_spark.plans import codegen_compiles
from ecom_snowflake_duckdb_migration_spark.session import default_parallelism, run_concurrently

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shuffle_width_is_core_count(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(default_parallelism())


def test_default_parallelism_counts_affinity_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the width is the cores this process may
    run on (its affinity mask, as under ``taskset -c 0,1``), not the
    machine's core count; the variable still wins when set."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1}, raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert default_parallelism() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_generated_classes_survive_a_repeat_pass(spark):
    """150 distinct plan shapes outnumber Spark's default 100-entry codegen
    cache; with the factory's bound, a second pass compiles nothing."""
    exprs = [f"id * {i} + {i}" for i in range(150)]
    passes = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for expr in exprs:
            spark.range(8).selectExpr(expr).collect()
        passes.append(codegen_compiles(spark) - before)
    assert passes[0] >= len(exprs)
    assert passes[1] == 0


def test_bench_profile_follows_scale():
    """bench.py's session profile: AQE off and 16 MB splits below sf1, AQE
    on and 8 MB splits from sf1; width and local dir stay the factory's."""
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    small = bench.profile_conf("/data/sf0.1")
    big = bench.profile_conf("/data/sf4")
    assert small["spark.sql.adaptive.enabled"] == "false"
    assert small["spark.sql.files.maxPartitionBytes"] == str(16 * 2**20)
    assert big["spark.sql.adaptive.enabled"] == "true"
    assert big["spark.sql.files.maxPartitionBytes"] == str(8 * 2**20)
    for conf in (small, big):
        assert "spark.sql.shuffle.partitions" not in conf
        assert "spark.local.dir" not in conf


def test_results_in_submission_order(spark):
    # later thunks finish first
    thunks = [lambda i=i: (time.sleep(0.05 * (4 - i)), i)[1] for i in range(4)]
    assert run_concurrently(spark, thunks) == [0, 1, 2, 3]
    assert run_concurrently(spark, []) == []


def test_failure_surfaces_after_every_thunk_finishes(spark):
    finished = threading.Event()

    def slow():
        time.sleep(0.3)
        finished.set()

    def fail(msg, delay):
        time.sleep(delay)
        raise ValueError(msg)

    # the first failure in submission order wins, not the first to happen
    with pytest.raises(ValueError, match="late"):
        run_concurrently(spark, [slow, lambda: fail("late", 0.1), lambda: fail("early", 0)])
    assert finished.is_set()


def test_worker_local_properties_are_private(spark):
    """Each worker mutates its own copy of the caller's JVM local
    properties: no worker sees another's, and the caller sees none."""
    sc = spark.sparkContext
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)

    def own(i):
        sc.setLocalProperty("run_concurrently.test", str(i))
        time.sleep(0.01)
        return sc.getLocalProperty("run_concurrently.test")

    try:
        got = run_concurrently(spark, [partial(own, i) for i in range(16)])
    finally:
        sys.setswitchinterval(interval)
    assert got == [str(i) for i in range(16)]
    assert sc.getLocalProperty("run_concurrently.test") is None


def _run_in_group(spark, group: str, n: int) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, "run_concurrently test")
    try:
        run_concurrently(spark, [
            lambda: spark.range(4, numPartitions=1).collect() for _ in range(n)
        ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_jobs_carry_callers_job_group(spark):
    assert len(_run_in_group(spark, "rc-group", 3)) == 3


def test_job_call_site_names_callers_module(spark):
    tracker = spark.sparkContext.statusTracker()
    sites = [
        tracker.getStageInfo(stage).name
        for job in _run_in_group(spark, "rc-site", 3)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert len(sites) == 3
    for site in sites:
        assert os.path.basename(__file__) in site, site
