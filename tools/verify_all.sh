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
echo "== plan text is process-independent and cache-independent =="
# the lowered plan text keys Spark's codegen cache and makes plans
# comparable across processes; lambda variable names (x_12) come from a
# JVM-wide counter, so they are normalised before comparing. The
# violations tree of a cached plan must read like one lowered afresh.
# Checked: the flagship predicate and violations tree, and the typed
# schema's violations tree (its AnyOf, Mapping, ChainOf and
# HeterogeneousSequence, and AnyOf's bare-message trees).
predicate_hash() {
  PYTHONHASHSEED=$1 python - <<'PY' 2>/dev/null | tail -1
import hashlib, re
from pyspark.sql import SparkSession
from valideer_spark.flagship import doc_schema
from valideer_spark.plans import compile_plan, frame
from valideer_spark.sources import DOCS_SCHEMA
from valideer_spark.sources.typed import typed_rows, typed_schema
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
df = spark.createDataFrame([], DOCS_SCHEMA)
norm = lambda col: re.sub(r"\b([a-z])_\d+\b", r"\1", str(col))
typed = typed_rows(spark, 0)
first = compile_plan(doc_schema(), DOCS_SCHEMA)
text = norm(first.is_valid_col(df))
first.violations_col(df)
t_first = compile_plan(typed_schema(), typed)
t_first.violations_col(typed)
# cache hits: the violations trees the first compiles built
cached = compile_plan(doc_schema(), DOCS_SCHEMA)
hit = norm(cached.violations_col(df))
t_cached = compile_plan(typed_schema(), typed)
t_hit = norm(t_cached.violations_col(typed))
frame._plans.clear()
fresh = norm(compile_plan(doc_schema(), DOCS_SCHEMA).violations_col(df))
t_fresh = norm(compile_plan(typed_schema(), typed).violations_col(typed))
spark.stop()
if cached is not first or t_cached is not t_first or (hit, t_hit) != (fresh, t_fresh):
    print("cache-dependent")
else:
    print(hashlib.md5("\x1e".join([text, hit, t_hit]).encode()).hexdigest())
PY
}
p1=$(predicate_hash 101)
p2=$(predicate_hash 202)
if [ "$p1" = "cache-dependent" ] || [ "$p2" = "cache-dependent" ]; then
  echo "FAIL: an equal flagship or typed schema missed the plan cache, or its cached violations tree differs from a fresh lowering"
  exit 1
fi
if [ -z "$p1" ] || [ "$p1" != "$p2" ]; then
  echo "FAIL: flagship predicate/violations or typed violations text differs across PYTHONHASHSEED ($p1 vs $p2)"
  exit 1
fi
echo "predicate and violations text hashes stable: $p1"
echo "== operator census matches PLANS.md (PYTHONHASHSEED=202) =="
# pytest checked the census in its own process; a run under a fixed
# hash seed shows it does not depend on Python's string hash order
PYTHONHASHSEED=202 python tools/plan_census.py --check
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
echo "== quarantine layout under a wide shuffle =="
# bucketed writes repartition by _part_id alone, so their width follows
# spark.sql.shuffle.partitions; one file per bucket must hold at 64 too
python - <<'PY'
import glob, os, shutil, sys, tempfile
from pyspark.sql import SparkSession, functions as F
from valideer_spark.engine import ValidationEngine, write_quarantine
from valideer_spark.flagship import doc_schema
from valideer_spark.sources import synth_docs
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.shuffle.partitions", "64").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
N_DOCS = 2000
docs = synth_docs(spark, N_DOCS)
report = ValidationEngine(doc_schema(), buckets=4).check(docs)
n_violations = report.verdicts().agg(F.sum("n_violations")).collect()[0][0]
report.unpersist()
out = tempfile.mkdtemp(prefix="quarantine-layout-")
valid, bad = os.path.join(out, "valid"), os.path.join(out, "bad")
write_quarantine(report, valid, bad)
errors = []
for sink in (valid, bad):
    for d in sorted(glob.glob(os.path.join(sink, "_part_id=*"))):
        n = len(glob.glob(os.path.join(d, "*.parquet")))
        if n != 1:
            errors.append("%s holds %d files" % (d, n))
n_valid = spark.read.parquet(valid).count()
quarantined = spark.read.parquet(bad)
n_invalid = quarantined.select("doc_id").distinct().count()
n_rows = quarantined.count()
spark.stop()
shutil.rmtree(out)
print("valid %d + quarantined docs %d of %d; quarantine rows %d of %d violations"
      % (n_valid, n_invalid, N_DOCS, n_rows, n_violations))
if n_valid + n_invalid != N_DOCS or n_rows != n_violations:
    errors.append("sink rows do not add up to the input")
if errors:
    print("FAIL: " + "; ".join(errors))
    sys.exit(1)
PY
echo "== bench (sf0.1) =="
python bench.py
echo "== build spark-submit py-files artifact =="
# dist/valideer_spark.zip is built from the verified source tree, never
# committed (a stale zip means spark-submit deployments run old code)
python tools/package_pyfiles.py
echo "ALL VERIFY STEPS PASSED"
