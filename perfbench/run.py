#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload olap_mixed --seed 1 --seconds 5 --trace 0

Workloads (see README.md for why each exists):

- ``olap_mixed``: the ten ``bench.py`` headline queries in seeded random
  order, each collected with ``toArrow()``; DuckDB runs the same oracle SQL
  right after each one. One op is one query.
- ``pipelines``: one ``corpus_run(near_dup="minhash")`` on a 300-document
  corpus, then the catalog slice of ``daily_run`` (land, upsert, models,
  quality) into an empty warehouse; a DuckDB pass over the headline oracle
  SQL runs around each. One op is one of the two.

Every workload reports its op times over DuckDB's, measured in the same run,
so a host that runs everything slower leaves the gated figure in place.
Inputs are derived from ``benchdata/sf1`` by the seed (``inputs.py``). Every
file a run writes lives under ``perfbench/_work/`` and is removed at exit.
The last line of standard output is the JSON result; the line before it
records the host facts, the raw op times and the observed output counts.
``--trace 1`` reports per-layer metrics instead of end-to-end ones
(``tracing.py``).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import platform
import random
import shutil
import sys
import time
import traceback

import inputs
from tracing import PER_LAYER_UNITS, EventLog, Tracer, geomean_of_medians, per_layer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ecom_snowflake_duckdb_migration_spark"
SF1 = os.path.join(ROOT, "benchdata", "sf1")
WORK = os.path.join(HERE, "_work")

# the bench.py headline set
HEADLINE = (
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_parts_by_revenue",
    "q05_nation_trade_roles",
    "q06_multikey_min_price_join",
    "q07_dedup_keep_newest",
    "q13_conditional_activity",
    "q22_count_distinct_quirk",
    "q24_grouped_column_reuse",
    "q40_dedup_exact",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_vs_duckdb": "x",
    "output_mb": "MB",
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for parent, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(parent, name))
            files += 1
    return size, files


class Run:
    """One benchmark process: its private work directory, its Spark session
    and its measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.work = os.path.join(WORK, f"{workload}-{os.getpid()}")
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
        self.master = f"local[{self.cores}]"
        # a quarter of host RAM, 1-4 GB: the session default (24g) is sized
        # for a bigger host than many this runs on
        self.driver_gb = max(1, min(4, int(host_ram_gb() // 4)))
        self.op_walls: list[tuple[str, float]] = []  # (kind, wall time)
        self.attempted = self.failed = 0
        self.output_bytes = 0
        self.output_files = 0
        self.spark = None
        self.jvm_pid = None
        self.extra: dict = {}  # printed beside the host facts

    def log(self, since: float, what: str) -> None:
        print(f"perfbench: {what} {time.perf_counter() - since:.1f} s", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, shuffle_partitions: int | None, conf: dict[str, str]):
        """Start the session through the engine's factory, with every file it
        writes kept under the run's work directory."""
        for d in ("local", "tmp", "warehouse", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        # Python workers import the package; they inherit this environment
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        conf = {
            "spark.driver.memory": f"{self.driver_gb}g",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            **conf,
        }
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.start"):
            from ecom_snowflake_duckdb_migration_spark.session import get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=self.master,
                shuffle_partitions=shuffle_partitions,
                extra_conf=conf,
            )
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def timed_op(self, kind: str, fn) -> bool:
        """Run one op; its wall time counts only when it returns."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            with self.tracer.op(f"op{self.attempted}", kind):
                fn()
        except Exception:  # the op failed; count it and keep measuring
            traceback.print_exc()
            self.failed += 1
            return False
        self.op_walls.append((kind, time.perf_counter() - start))
        return True

    def host_facts(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.tracer.enabled,
            "nproc": host_cores(),
            "ram_gb": round(host_ram_gb(), 1),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": self.master,
            "driver_memory": f"{self.driver_gb}g",
            "spark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
        }

    def finish(self, setup_s: float, duck_walls: list[tuple[str, float]]) -> dict:
        """Stop the session and build the result object. ``duck_walls`` are
        the run's DuckDB reference timings."""
        rss = peak_rss_mb(os.getpid()) + (peak_rss_mb(self.jvm_pid) if self.jvm_pid else 0.0)
        stop_start = time.perf_counter()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            # end the driver JVM too, and wait for it: it exits once its
            # stdin closes
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        self.log(stop_start, "session and JVM stopped in")
        ops = len(self.op_walls)
        op_geomean = geomean_of_medians(self.op_walls) if ops else float("nan")
        duck_geomean = geomean_of_medians(duck_walls)
        self.extra.update({"op_geomean_s": op_geomean, "duckdb_geomean_s": duck_geomean})
        if self.tracer.enabled:
            values = per_layer(self.tracer, EventLog.read(self.path("events")))
            values["output_files"] = self.output_files / max(ops, 1)
            values["driver.peak_rss_mb"] = rss
            units = PER_LAYER_UNITS
        else:
            values = {
                "setup_s": setup_s,
                "op_vs_duckdb": op_geomean / duck_geomean,
                "output_mb": self.output_bytes / max(ops, 1) / 1e6,
            }
            units = END_TO_END_UNITS
        return {
            "correct": self.failed == 0 and ops > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }


def duckdb_pass(con, specs: dict, names, walls: list) -> dict[str, tuple]:
    """Run the oracle SQL of ``names`` in DuckDB, appending (name, wall) to
    ``walls``; returns each result's row count and sorted column names."""
    shapes = {}
    for name in names:
        t0 = time.perf_counter()
        table = con.execute(specs[name].oracle).fetch_arrow_table()
        walls.append((name, time.perf_counter() - t0))
        shapes[name] = (table.num_rows, sorted(table.column_names))
    return shapes


def olap_mixed(run: Run) -> dict:
    sf = inputs.derive_tables(SF1, os.path.join(WORK, "inputs"), run.seed)
    setup_start = time.perf_counter()
    # the bench.py session profile: AQE off, 16 MB splits, uncompressed shuffle
    spark = run.start_spark(run.cores, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(16 * 2**20),
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    })
    run.log(setup_start, "session started after")
    from ecom_snowflake_duckdb_migration_spark.oracle import compare_to_oracle, duckdb_connection
    from ecom_snowflake_duckdb_migration_spark.queries import all_queries
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import ensure_bucketed_facts

    with run.tracer.span("sources.bucketed_prep"):
        # one bucket per core, like the shuffle width: bench.py's 16 is a
        # constant from a 32-core host
        ensure_bucketed_facts(spark, sf, buckets=run.cores)
    run.log(setup_start, "bucketed facts ready after")
    specs = all_queries()
    rng = random.Random(run.seed)

    # warm-up: one untimed pass that hash-compares every result to DuckDB's
    verified = set()
    for name in rng.sample(HEADLINE, len(HEADLINE)):
        spec = specs[name]
        result = compare_to_oracle(name, spec.fn(spark, sf), spec.oracle, sf)
        if result:
            verified.add(name)
        else:
            print(f"{name}: {result.detail}", file=sys.stderr)
    con = duckdb_connection(sf)
    setup_s = time.perf_counter() - setup_start
    run.log(setup_start, "results verified after")

    # the DuckDB reference: two passes over the same oracle SQL before each
    # Spark pass and after the last, so host speed is sampled around every
    # pass without DuckDB running in Spark's wake
    duck_walls = []
    start = time.perf_counter()
    while run.attempted == 0 or time.perf_counter() - start < run.seconds:
        shapes = duckdb_pass(con, specs, HEADLINE * 2, duck_walls)
        # whole passes, each a fresh seeded order: every query weighs the same
        for name in rng.sample(HEADLINE, len(HEADLINE)):
            spec = specs[name]
            got = {}

            def op(spec=spec, got=got):
                with run.tracer.span("queries.build"):
                    df = spec.fn(spark, sf)
                with run.tracer.span("queries.collect"):
                    got["table"] = df.toArrow()

            if not run.timed_op(name, op):
                continue
            table = got["table"]
            run.output_bytes += table.nbytes
            if name not in verified or (table.num_rows, sorted(table.column_names)) != shapes[name]:
                print(f"{name}: result differs from DuckDB's", file=sys.stderr)
                run.failed += 1
    duckdb_pass(con, specs, HEADLINE * 2, duck_walls)
    con.close()
    run.log(start, f"{run.attempted} ops measured in")
    return run.finish(setup_s, duck_walls)


SEQ_BUDGET = 2048


def check_corpus(manifest: dict, out_dir: str) -> list[str]:
    """Check a corpus_run manifest against the files it describes, read back
    with DuckDB: per-split counts, and packs as consecutive budget-sized
    slices of the token stream (every item starts inside its pack, and no
    two items of a pack start at the same offset)."""
    import duckdb

    problems = []
    con = duckdb.connect()
    try:
        for split, stats in manifest["splits"].items():
            docs, chunks, packs, tokens, slots, bad_offsets = con.execute(
                "SELECT count(DISTINCT doc_id), count(*), count(DISTINCT pack_id), "
                "sum(chunk_tokens), count(DISTINCT (pack_id, pack_offset)), "
                "count(*) FILTER (WHERE pack_offset < 0 OR pack_offset >= ?) "
                "FROM read_parquet(?)",
                [SEQ_BUDGET, f"{out_dir}/split={split}/*.parquet"],
            ).fetchone()
            if (docs, chunks, packs, tokens) != (
                stats["docs"], stats["chunks"], stats["packs"], stats["tokens"]
            ):
                problems.append(f"{split}: manifest {stats} != files {(docs, chunks, packs, tokens)}")
            if bad_offsets or slots != chunks:
                problems.append(f"{split}: {bad_offsets} offsets outside a pack, "
                                f"{chunks - slots} items share a pack offset")
    finally:
        con.close()
    return problems


def check_expected(run: Run, kind: str, observed: dict) -> list[str]:
    """Compare an op's output counts to the committed ones for the seed's
    input block (``expected.json``); the observed counts go on the host-facts
    line either way."""
    block = str(run.seed % inputs.BLOCKS)
    run.extra.setdefault("observed", {})[kind] = observed
    with open(os.path.join(HERE, "expected.json")) as f:
        want = json.load(f)[kind].get(block)
    if want is None:
        return [f"{kind}: expected.json has no entry for block {block}"]
    if want != observed:
        return [f"{kind}: counts {observed} != expected {want}"]
    return []


# the catalog subject area of daily_run: three raw feeds, the intermediate
# models built only from them, and the quality tests on those models
CATALOG_PRODUCTS = 200  # daily_run's product count at its default 200 customers
CATALOG_MODELS = ("brands", "categories_enriched", "subcategories_enriched")
CATALOG_TESTED = ("stg_products", "stg_categories", "stg_subcategories") + CATALOG_MODELS
FIRST_DAY = datetime.date(2026, 1, 1)


def catalog_elt(run: Run, spark, warehouse: str, day: datetime.date) -> dict:
    """One day of the catalog slice of ``ecom.orchestrate.daily_run``, through
    the same public calls: generate, land as envelope JSON and read back,
    dedup and upsert into the raw layer, materialize the models, test them.
    Returns the error-severity quality failures."""
    from ecom_snowflake_duckdb_migration_spark.ecom import generate
    from ecom_snowflake_duckdb_migration_spark.ecom.orchestrate import RAW_PRIMARY_KEYS
    from ecom_snowflake_duckdb_migration_spark.ecom.quality import DEFAULT_SUITE, run_suite
    from ecom_snowflake_duckdb_migration_spark.ecom.registry import PipelineRunner
    from ecom_snowflake_duckdb_migration_spark.ecom.schemas import RAW_SCHEMAS
    from ecom_snowflake_duckdb_migration_spark.sources import (
        dedup_keep_newest,
        read_envelope_json,
        upsert_parquet,
        write_envelope_json,
    )

    seed = 42 + day.toordinal()  # daily_run's per-day generator seed
    run_ts = datetime.datetime.combine(day, datetime.time())
    feed = {
        "categories": generate.generate_categories(spark, seed),
        "subcategories": generate.generate_subcategories(spark, seed),
        "products": generate.generate_products(spark, CATALOG_PRODUCTS, seed),
    }
    raw = {}
    for table, df in feed.items():
        landing = f"{warehouse}/landing/{day.isoformat()}/{table}"
        keys = RAW_PRIMARY_KEYS[table]
        with run.tracer.span("sources.land"):
            write_envelope_json(df, landing, table, run_ts=run_ts)
            landed = read_envelope_json(
                spark, landing + "/*.txt", data_schema=RAW_SCHEMAS[table], validate_count=True
            )
        target = f"{warehouse}/ecom_raw/{table}"
        with run.tracer.span("sources.upsert"):
            upsert_parquet(spark, target, dedup_keep_newest(landed, keys, "loaded_at"), keys)
        raw[table] = spark.read.parquet(target)
    runner = PipelineRunner(spark, raw, warehouse_dir=warehouse, run_ts=run_ts)
    with run.tracer.span("ecom.models"):
        for name in CATALOG_MODELS:
            runner.run(select=name)
    with run.tracer.span("ecom.quality"):
        results = run_suite(runner.ref, [t for t in DEFAULT_SUITE if t[0] in CATALOG_TESTED])
    return [r for r in results if not r.passed and r.severity == "error"]


def catalog_counts(warehouse: str) -> dict:
    """Row counts of the catalog slice's raw tables and models, read back
    from the warehouse files with DuckDB."""
    import duckdb

    dirs = {f"raw.{t}": f"ecom_raw/{t}" for t in ("categories", "subcategories", "products")}
    dirs.update({m: f"ecom_intermediate/{m}" for m in CATALOG_MODELS})
    con = duckdb.connect()
    try:
        return {
            name: con.execute(
                "SELECT count(*) FROM read_parquet(?)", [f"{warehouse}/{d}/*.parquet"]
            ).fetchone()[0]
            for name, d in dirs.items()
        }
    finally:
        con.close()


def pipelines(run: Run) -> dict:
    sf = inputs.derive_tables(SF1, os.path.join(WORK, "inputs"), run.seed)
    setup_start = time.perf_counter()
    spark = run.start_spark(run.cores, {})
    from ecom_snowflake_duckdb_migration_spark import corpus_pipeline
    from ecom_snowflake_duckdb_migration_spark.operators import sampling, text
    from ecom_snowflake_duckdb_migration_spark.oracle import duckdb_connection
    from ecom_snowflake_duckdb_migration_spark.queries import all_queries

    if run.tracer.enabled:
        for module, attr in (
            (text, "curate"), (text, "chunk_documents"), (text, "pack_sequences"),
            (sampling, "shuffle_split"),
        ):
            run.tracer.wrap(module, attr, "operators.plan")
    docs = spark.read.parquet(f"{sf}/corpus_docs.parquet")
    benchmark = spark.read.parquet(f"{sf}/corpus_benchmark.parquet")
    specs = all_queries()
    con = duckdb_connection(sf)
    setup_s = time.perf_counter() - setup_start

    # the DuckDB reference: two passes over the headline oracle SQL before
    # each op and after the last, so host speed is sampled around every op
    duck_walls = []
    day = FIRST_DAY + datetime.timedelta(days=run.seed % inputs.BLOCKS)
    start = time.perf_counter()
    rounds = 0
    while rounds == 0 or time.perf_counter() - start < run.seconds:
        rounds += 1
        out_dir = run.path(f"round{rounds}", "corpus_out")
        warehouse = run.path(f"round{rounds}", "warehouse")  # starts empty
        got = {}

        def corpus():
            with run.tracer.span("corpus_pipeline.run"):
                got["manifest"] = corpus_pipeline.corpus_run(
                    spark, docs, out_dir, benchmark=benchmark, near_dup="minhash",
                    seq_budget=SEQ_BUDGET,
                )

        def elt():
            got["errors"] = catalog_elt(run, spark, warehouse, day)

        duckdb_pass(con, specs, HEADLINE * 2, duck_walls)
        if run.timed_op("corpus_run", corpus):
            manifest = got["manifest"]
            problems = check_corpus(manifest, out_dir) + check_expected(run, "corpus_run", {
                split: [s[k] for k in ("docs", "chunks", "packs", "tokens")]
                for split, s in sorted(manifest["splits"].items())
            })
            if problems:
                print("\n".join(problems), file=sys.stderr)
                run.failed += 1
        duckdb_pass(con, specs, HEADLINE * 2, duck_walls)
        if run.timed_op("catalog_elt", elt):
            problems = [f"quality: {r}" for r in got["errors"]]
            problems += check_expected(run, "catalog_elt", catalog_counts(warehouse))
            if problems:
                print("\n".join(problems), file=sys.stderr)
                run.failed += 1
        size, files = dir_usage(run.path(f"round{rounds}"))
        run.output_bytes += size
        run.output_files += files
    duckdb_pass(con, specs, HEADLINE * 2, duck_walls)
    con.close()
    run.log(start, f"{run.attempted} ops measured in")
    return run.finish(setup_s, duck_walls)


WORKLOADS = {"olap_mixed": olap_mixed, "pipelines": pipelines}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    missing = [p for p in (os.path.join(ROOT, PACKAGE), SF1) if not os.path.isdir(p)]
    if missing:
        print(f"perfbench: not in a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({"host": run.host_facts(), **run.extra}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
