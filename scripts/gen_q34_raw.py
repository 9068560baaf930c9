"""One-time: materialize the seeded ecom raw extract for the q34 driver
oracle to benchdata/q34_raw/<table>/ (committed to the repo).

Both sides of the q34 gate read these SAME files: the Spark fn runs the
37-model pipeline over them; the DuckDB oracle runs the hand-compiled
reference SQL chain over them. Committing the extract makes the oracle
order-independent (no runtime temp paths).

Run: python scripts/gen_q34_raw.py
"""
import os
import shutil

from _repo import ROOT
from ecom_snowflake_duckdb_migration_spark.ecom.generate import generate_all
from ecom_snowflake_duckdb_migration_spark.session import get_spark

OUT = os.path.join(ROOT, "benchdata", "q34_raw")

spark = get_spark(app_name="gen-q34-raw")
raw = generate_all(spark, n_customers=100)
if os.path.isdir(OUT):
    shutil.rmtree(OUT)
for name, df in raw.items():
    df.coalesce(1).write.mode("overwrite").parquet(f"{OUT}/{name}")
    # drop Spark bookkeeping files so only deterministic parquet is committed
    for f in os.listdir(f"{OUT}/{name}"):
        if not f.endswith(".parquet"):
            os.remove(f"{OUT}/{name}/{f}")
print("tables:", sorted(raw))
spark.stop()
