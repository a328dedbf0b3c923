#!/bin/bash
# Full verification recipe (see .claude/skills/verify/SKILL.md):
# unit+parity suite, DuckDB correctness gate, entry smoke, headline bench.
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
echo "== pytest =="
python -m pytest tests/ -q
echo "== oracle SQL is process-independent (PYTHONHASHSEED) =="
# kernel-generated message literals embedded in oracle_sql() must not
# depend on Python set iteration order: the driver may run queries() and
# oracle_sql() in different processes
h1=$(PYTHONHASHSEED=101 python -c "import hashlib, __spark_entry__ as m; print(hashlib.md5('\x1e'.join(sorted(m.oracle_sql().values())).encode()).hexdigest())")
h2=$(PYTHONHASHSEED=202 python -c "import hashlib, __spark_entry__ as m; print(hashlib.md5('\x1e'.join(sorted(m.oracle_sql().values())).encode()).hexdigest())")
if [ "$h1" != "$h2" ]; then
  echo "FAIL: oracle_sql() text differs across PYTHONHASHSEED ($h1 vs $h2)"
  exit 1
fi
echo "oracle text hash stable: $h1"
echo "== correctness gate (sf0.01) =="
timeout 1200 python tools/check_oracle.py
echo "== entry smoke =="
python - <<'PY'
from pyspark.sql import SparkSession
import __spark_entry__ as m
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = m.entry(spark)
print("entry rows:", df.count(), df.schema.simpleString())
spark.stop()
PY
echo "== bench (sf0.1) =="
python bench.py
echo "== build spark-submit py-files artifact =="
# dist/valideer_spark.zip is built from the verified source tree, never
# committed (a stale zip means spark-submit deployments run old code)
python tools/package_pyfiles.py
echo "ALL VERIFY STEPS PASSED"
