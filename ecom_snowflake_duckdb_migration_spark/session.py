"""SparkSession factory tuned for the engine.

Reference parity notes (SURVEY §1.2, §4):
- DuckDB staging models use TRY_CAST (malformed -> NULL); with
  ``spark.sql.ansi.enabled=false`` plain CAST matches that semantics engine-wide
  (Spark 4 defaults ANSI on, so we disable explicitly).
- DuckDB TIMESTAMP is timezone-naive; pinning the session to UTC makes Spark's
  TIMESTAMP_LTZ behave identically for parquet-borne microsecond timestamps.
- AQE is enabled so runtime stats drive broadcast/skew decisions at scale; the
  static broadcast threshold is raised because every reference dim table
  (region/nation/lookups) is tiny relative to facts.

Host sizing lives here and nowhere else. One rule: the shuffle width and
the bucketed fact cache's bucket count (``sources.bucketed``) are both
``default_parallelism()``, the host's core count (``SPARK_GRAFT_CPUS`` when
set); driver memory is ``default_driver_memory()``. There is no floor above
the core count: AQE only coalesces post-shuffle partitions, it never widens
them. On a real cluster pass ``shuffle_partitions`` at ~2-3x total executor
cores.

Generated-class cache: ``spark.sql.codegen.cache.maxEntries`` is a fixed
4096, not Spark's default 100. The engine's working set is far above 100:
one oracle-checked pass over all 132 catalog entries at sf0.01 compiles
1,910 classes in one session, one cold ``corpus_run`` compiles 118, and the
bucketed prep plus one verified pass over the ten headline queries compile
151-154. At 100 entries the cache evicts in LRU order, so the next pass
over the headliners recompiled 44-50 classes every time, and each
recompiled class is new code the JIT warms up again. Class bytecode
averages 3.3 KB (p95 9.1 KB, max 75 KB), so a full cache holds about
13 MB. ``plans.codegen_compiles`` counts compiles; it reads zero on a
repeat pass while the cache holds the working set. The conf is static,
read once per JVM at the first code generation, so it holds only where
``get_spark`` starts the JVM's session.

Independent actions: ``run_concurrently`` submits them from a small thread
pool, the local stand-in for dbt's ``threads: 4``. Many of the engine's
actions are one-task jobs (small reports, count checks, tiny splits), so
issued one at a time they leave most cores idle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on: its CPU affinity where the OS reports one (``taskset``, cgroup
    cpusets), which ``os.cpu_count()`` ignores."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Half the host's RAM, 1-24 GB: the driver JVM holds every executor in
    local mode, and the OS and the Python workers need the other half."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "24g"
    return f"{max(1, min(24, total // 2**31))}g"


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent Spark actions from a pool of
    ``min(len(thunks), default_parallelism())`` threads.

    Results come back in submission order. Every thunk runs to its end
    before anything is raised; then the first failure in submission order
    is re-raised, so no write is still in flight when the caller sees it.

    Each worker thread gets a copy of the caller's JVM local properties (job
    group, scheduler pool, job tags), so its jobs are attributed like the
    caller's own. Its call site starts as this call's line in the caller's
    module. PySpark's per-action call site (``collect at <file>:<line>``)
    replaces it only for an action that starts while no other thread is
    inside one, because PySpark counts call-site nesting process-wide.
    """
    thunks = list(thunks)
    if not thunks:
        return []
    jsc = spark.sparkContext._jsc
    props = jsc.sc().getLocalProperties()
    caller = sys._getframe(1)
    site = f"run_concurrently at {caller.f_code.co_filename}:{caller.f_lineno}"

    def run(thunk: Callable[[], T]) -> T:
        jsc.sc().setLocalProperties(props.clone())
        jsc.setCallSite(site)
        return thunk()

    # leaving the block waits for every thunk
    with ThreadPoolExecutor(min(len(thunks), default_parallelism())) as pool:
        futures = [pool.submit(run, thunk) for thunk in thunks]
    return [f.result() for f in futures]


def get_spark(
    app_name: str = "ecom-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Trust bucketed tables' sortBy order when each bucket holds one
        # file (sources.bucketed writes exactly that): windows/merge-joins
        # keyed on the sort columns then skip their SortExec entirely.
        # Spark re-verifies the one-file-per-bucket precondition at plan
        # time, so multi-file buckets still sort correctly.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    # Local-mode shuffle files on tmpfs: a single-JVM local master has no
    # network and spills/shuffles are transient, so RAM-backed local.dir
    # avoids this environment's slow disk path (measured 2x on shuffle-heavy
    # queries). Real-cluster deployments should override spark.local.dir to
    # fast node-local storage (NVMe) instead. A caller's spark.local.dir, or
    # SPARK_LOCAL_DIRS (which Spark prefers over it), wins, and then nothing
    # is created here.
    extra_conf = extra_conf or {}
    if (
        master.startswith("local")
        and "spark.local.dir" not in extra_conf
        and not os.environ.get("SPARK_LOCAL_DIRS")
        and os.path.isdir("/dev/shm")
    ):
        shm = "/dev/shm/spark-local"
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
