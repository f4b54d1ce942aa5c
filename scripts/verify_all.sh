#!/bin/bash
# One-command verification of the whole repo, in the order the driver
# checks it: (1) the 193-gate oracle replica at sf0.01 (every
# queries() entry vs its DuckDB twin, rows+schema+value), (2) the full
# pytest suite as the ROADMAP Tier-1 command, (3) the entry() smoke
# at sf0.001, (4) one bench JSON line at $SPARK_GRAFT_SF_DIR (default
# sf0.1). Exits non-zero on the first failure. Run each step exclusively — concurrent load skews
# the bench and can starve Spark local[32].
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== [1/4] oracle gate (sf0.01) =="
python3 tools/check_oracles.py

echo "== [2/4] pytest (Tier-1) =="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== [3/4] entry() smoke (sf0.001) =="
python3 - <<'EOF'
import importlib.util
from pyspark.sql import SparkSession
spec = importlib.util.spec_from_file_location("e", "__spark_entry__.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
df = m.entry(spark)
n = df.count()
assert n > 0, "entry() returned no rows"
print(f"entry rows: {n}  schema: {df.schema.simpleString()}")
spark.stop()
EOF

echo "== [4/4] bench =="
python3 bench.py
