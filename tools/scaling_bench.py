"""Two-cluster-size scaling evidence (BASELINE.md sandbox protocol).

Validates the SAME parquet docs table at several parallelism levels in
separate JVMs and reports validated docs/sec per level plus scaling
efficiencies for N->4N core pairs (2->8 and 8->32). Fresh DataFrame
lineage per iteration (no shuffle-stage reuse), best-of-K to absorb host
noise. Also measures the single-threaded row-kernel rate -- the per-value
reference architecture's ceiling on this machine.

Usage: python tools/scaling_bench.py [N_DOCS] [CPU_LIST]
       (defaults: 10000000 and 2,8,32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli_args():
    # parsed lazily so `from scaling_bench import kernel_rate` (the
    # dedup_bench window bracket) does not trip over THIS script's argv
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cpu_list = [
        int(x)
        for x in (sys.argv[2] if len(sys.argv) > 2 else "2,8,32").split(",")
    ]
    return n_docs, cpu_list
# per-JVM timed iterations; total per level = SCALING_ITERS x
# SCALING_ROUNDS (interleaved), so 2x2 keeps the old best-of-4 budget
ITERS = int(os.environ.get("SCALING_ITERS", "2"))

PREP_TEMPLATE = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from valideer_spark.sources import synth_docs
synth_docs(spark, {n_docs}).repartition(64).write.mode("overwrite").parquet("{parquet_dir}")
spark.stop()
"""

RUN_TEMPLATE = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from valideer_spark.conf import recommended_conf
builder = (SparkSession.builder.master("local[{cpus}]")
           .config("spark.sql.shuffle.partitions", "{cpus}")
           .config("spark.driver.memory", "24g")
           .config("spark.ui.enabled", "false"))
for k, v in recommended_conf().items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from valideer_spark.engine import ValidationEngine
from valideer_spark.flagship import doc_schema
engine = ValidationEngine(doc_schema())

def fresh():
    return spark.read.parquet("{parquet_dir}")

n = fresh().count()
# warm-up: codegen + JIT for both jobs
engine.check(fresh()).verdicts().agg(F.sum("n_docs")).collect()
engine.check(fresh()).violation_rows().count()

best_v = best_f = None
for _ in range({iters}):
    t0 = time.time()
    engine.check(fresh()).verdicts().agg(F.sum("n_docs"), F.sum("n_valid")).collect()
    dt = time.time() - t0
    best_v = dt if best_v is None or dt < best_v else best_v
    t0 = time.time()
    engine.check(fresh()).violation_rows().count()
    dt = time.time() - t0
    best_f = dt if best_f is None or dt < best_f else best_f
print(json.dumps({{
    "cpus": {cpus}, "n": n,
    "verdict_secs": round(best_v, 2),
    "violations_secs": round(best_f, 2),
    "verdict_docs_per_sec": round(n / best_v),
    "full_docs_per_sec": round(n / (best_v + best_f)),
}}))
spark.stop()
"""


def prepare_input(n_docs: int, parquet_dir: str) -> None:
    code = PREP_TEMPLATE.format(n_docs=n_docs, parquet_dir=parquet_dir, repo=REPO)
    subprocess.run([sys.executable, "-c", code], check=True, timeout=1800,
                   capture_output=True)


def run(cpus: int, parquet_dir: str) -> dict:
    code = RUN_TEMPLATE.format(
        cpus=cpus, parquet_dir=parquet_dir, iters=ITERS, repo=REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def kernel_rate(n_docs: int = 20_000) -> float:
    sys.path.insert(0, REPO)
    from valideer_spark.flagship import doc_schema

    schema = doc_schema()
    kinds = ["text", "image", "audio", "video", "table"]
    docs = []
    for i in range(n_docs):
        spans = []
        for j in range(i % 8 + 1):
            kind = kinds[(i + 2 * j) % 5]
            s = {"kind": kind, "offset": j * (i % 17 + 1)}
            if kind == "text":
                s["text"] = f"txt-{i}-{j} snippet"
            else:
                s["media_ref"] = f"media://{(i*97+j) % 4294967296:08x}/{(i+j) % 9999 + 1}"
            spans.append(s)
        docs.append({"doc_id": "doc-%012d" % i, "spans": spans})
    t0 = time.time()
    for d in docs:
        schema.is_valid(d)
    return n_docs / (time.time() - t0)


def main() -> None:
    N_DOCS, CPU_LIST = _cli_args()
    parquet_dir = "/tmp/vsbench_docs_%d" % N_DOCS
    if not os.path.exists(os.path.join(parquet_dir, "_SUCCESS")):
        prepare_input(N_DOCS, parquet_dir)
    # Interleaved rounds (round 5 protocol hardening): running all
    # iterations of level A before level B lets shared-host load drift
    # hit one level asymmetrically and corrupt the RATIO — observed as a
    # 0.83-measuring pair reading 0.61 while the single-thread kernel
    # control dropped 34% mid-session. Alternating the level order per
    # round and taking best-of PER LEVEL across rounds makes the ratio
    # robust to monotone drift; the kernel control before/after is the
    # stability gate (>15% drift = do not trust this window's pair).
    k_before = kernel_rate()
    rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
    results: dict = {}
    for r in range(rounds):
        order = list(CPU_LIST) if r % 2 == 0 else list(reversed(CPU_LIST))
        for c in order:
            res = run(c, parquet_dir)
            prev = results.get(c)
            if prev is None:
                results[c] = res
            else:
                for key in ("verdict_secs", "violations_secs"):
                    prev[key] = min(prev[key], res[key])
                prev["verdict_docs_per_sec"] = round(
                    prev["n"] / prev["verdict_secs"]
                )
                prev["full_docs_per_sec"] = round(
                    prev["n"] / (prev["verdict_secs"] + prev["violations_secs"])
                )
    results = {c: results[c] for c in CPU_LIST}
    k_after = kernel_rate()

    def eff(lo: int, hi: int, key: str):
        if lo in results and hi in results:
            return round((results[hi][key] / results[lo][key]) / (hi / lo), 3)
        return None

    out = {"n_docs": N_DOCS, "levels": list(results.values())}
    # every N -> 4N pair present in the measured levels
    for lo in CPU_LIST:
        hi = lo * 4
        if hi in results:
            out[f"efficiency_{lo}_to_{hi}_verdict"] = eff(
                lo, hi, "verdict_docs_per_sec"
            )
            out[f"efficiency_{lo}_to_{hi}_full"] = eff(
                lo, hi, "full_docs_per_sec"
            )
    out["kernel_single_thread_docs_per_sec"] = round(k_before, 1)
    out["kernel_after_docs_per_sec"] = round(k_after, 1)
    drift = abs(k_after - k_before) / max(k_after, k_before)
    out["kernel_drift"] = round(drift, 3)
    out["window_stable"] = drift <= 0.15
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
