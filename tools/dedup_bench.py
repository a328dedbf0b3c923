"""Dedup-at-scale benchmark: linearity + skew stress for the LSH path.

Reusable form of the round-3/4 ad-hoc measurements (BENCH.md):

* ``--docs N`` corpus: N synthetic docs (60 pseudo-words from a 50k
  vocabulary, xxhash64-derived — no Python string loops), plus
  ``--dup-fraction`` seeded exact duplicates (ids +10^9) whose recall the
  verify stage must reproduce exactly.
* ``--hot H`` adds one pathological cluster: H docs with IDENTICAL text
  and a hot id prefix — every band bucket of the cluster is H wide, the
  adversarial input for banded LSH. With ``--max-bucket`` the candidates
  stage star-links those buckets (bounded); without it the cluster
  explodes quadratically (only run uncapped with small H).

Stages are forced-evaluated separately (noop count over a
fully-evaluated projection) so per-stage attribution is honest; the e2e
number is a single cold pass. ALWAYS qualify the window with
``python tools/dram_probe.py 4`` first (shared-host bandwidth varies).

Usage:
  python tools/dedup_bench.py --docs 1100000
  python tools/dedup_bench.py --docs 5500000 --cpus 32
  python tools/dedup_bench.py --docs 1000000 --hot 50000 --max-bucket 64
  python tools/dedup_bench.py --docs 1000000 --hot 2000   # uncapped control
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50_000
WORDS_PER_DOC = 60
HOT_BASE = 2_000_000_000
DUP_BASE = 1_000_000_000


def build_corpus(
    spark: SparkSession, n_docs: int, dup_fraction: float, hot: int,
    words: int = WORDS_PER_DOC,
) -> DataFrame:
    """(doc_id long, text) — base docs + seeded exact dups + hot cluster.
    Text is derived per doc from xxhash64(doc_id, position) % VOCAB, all
    JVM-side (zero Python in corpus generation)."""
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(words)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id"), j), F.lit(VOCAB)).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    n_dupes = int(n_docs * dup_fraction)
    dupes = base.filter(F.col("doc_id") < n_dupes).select(
        (F.col("doc_id") + DUP_BASE).alias("doc_id"), "text"
    )
    corpus = base.unionAll(dupes)
    if hot > 0:
        hot_df = spark.range(hot).select(
            (F.col("id") + HOT_BASE).alias("doc_id"),
            F.lit(" ".join("hotword%d" % i for i in range(words))).alias("text"),
        )
        corpus = corpus.unionAll(hot_df)
    return corpus


def kernel_bracket():
    """Single-thread row-kernel control (scaling_bench.kernel_rate):
    measures host CPU weather, which dram_probe's streaming-efficiency
    RATIO does not catch. Returned closure appends a fresh reading;
    call before the first timed pass and after every timed pass, then
    report max drift — >15% between any two readings means external
    contention moved DURING the run and the numbers are rejects."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scaling_bench import kernel_rate

    kernel_rate(5_000)  # warm-up, discarded (first call reads ~25% cold)
    readings: list = []

    def sample() -> float:
        r = kernel_rate()
        readings.append(round(r, 1))
        return r

    def drift() -> float:
        return round(1.0 - min(readings) / max(readings), 3)

    return sample, drift, readings


def force(df: DataFrame, cols) -> int:
    """Force FULL evaluation of the listed array/scalar columns (memory
    gotcha: element_at probes get pruned by Catalyst — xor-fold instead)."""
    aggs = []
    for c, kind in cols:
        if kind == "arr":
            aggs.append(
                F.max(F.aggregate(F.col(c), F.lit(0).cast("long"),
                                  lambda a, x: a.bitwiseXOR(x)))
            )
        else:
            aggs.append(F.max(F.col(c)))
    return df.agg(*aggs).collect()[0][0]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--dup-fraction", type=float, default=0.1)
    ap.add_argument("--hot", type=int, default=0)
    ap.add_argument("--max-bucket", type=int, default=None)
    ap.add_argument("--num-hashes", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--words", type=int, default=WORDS_PER_DOC,
                    help="words per synthetic doc (doc LENGTH is the "
                         "universal-vs-oph signature crossover axis)")
    ap.add_argument("--method", choices=["universal", "oph"],
                    default="universal")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="default: max(32, cpus); raise for large corpora "
                         "(the banded explode is bands*n rows)")
    ap.add_argument("--stages", action="store_true",
                    help="also time each stage separately (extra passes)")
    ap.add_argument("--sig-compare", action="store_true",
                    help="time universal vs oph SIGNATURE stage in one "
                         "JVM, alternating rounds (drift-robust), at "
                         "--docs/--words; reports best-of per method")
    ap.add_argument("--verify-compare", action="store_true",
                    help="time the verify stage pruned vs unpruned in one "
                         "JVM over the SAME persisted candidate table, "
                         "alternating rounds; run at --dup-fraction 0.1 "
                         "(sparse coverage) AND 1.0 (dense) before "
                         "changing the prune default")
    ap.add_argument("--linearity", type=str, default=None,
                    help="comma-separated doc counts, e.g. 1000000,5000000: "
                         "run e2e at each size IN ONE JVM (first size is "
                         "also run once untimed as JIT warm-up), report "
                         "docs/s per size + scaling ratio — the only "
                         "protocol that survives shared-host weather")
    ap.add_argument("--retries", type=int, default=3,
                    help="--linearity: max attempts per size until the "
                         "pass's own kernel bracket is stable (<=15%)")
    ap.add_argument("--shuffle-compare", type=str, default=None,
                    help="comma-separated partition counts, e.g. 32,128: "
                         "run e2e at --docs once per setting IN ONE JVM "
                         "(shuffle.partitions is runtime-settable), "
                         "alternating rounds, best-of per setting — the "
                         "banded explode is bands*n rows, so partition "
                         "count is the 5M+ scaling lever")
    ap.add_argument("--e2e-compare", action="store_true",
                    help="time the FULL LSH→verify e2e universal vs oph "
                         "in one JVM, alternating rounds, at "
                         "--docs/--words; reports seed recall for both "
                         "in the JSON (no assertion)")
    args = ap.parse_args()
    if args.retries < 1:
        ap.error("--retries must be >= 1 (the linearity loop body must "
                 "run at least once)")

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.driver.memory", "100g")
        .config(
            "spark.sql.shuffle.partitions",
            str(args.shuffle_partitions or max(32, args.cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from valideer_spark.operators.dedup import (
        jaccard_verify_candidates,
        minhash_lsh_candidates,
        minhash_signatures,
        minhash_signatures_oph,
        shingle_hash_frame,
    )
    sig_fn = minhash_signatures_oph if args.method == "oph" else minhash_signatures

    def run_e2e(corpus, n_docs, method=None):
        cand = minhash_lsh_candidates(
            corpus, "text", "doc_id",
            num_hashes=args.num_hashes, bands=args.bands,
            max_bucket=args.max_bucket, method=method or args.method,
        )
        verified = jaccard_verify_candidates(
            corpus, cand, "text", "doc_id", 3, threshold_num=1, threshold_den=1
        )
        n_seed = int(n_docs * args.dup_fraction)
        t0 = time.time()
        agg = verified.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (
                    (F.col("b_id") - F.col("a_id") == DUP_BASE)
                    & (F.col("a_id") < n_seed)
                ).cast("long")
            ).alias("n_seed_found"),
        ).collect()[0]
        return time.time() - t0, agg, n_seed

    if args.sig_compare:
        corpus = build_corpus(
            spark, args.docs, args.dup_fraction, args.hot, args.words
        ).persist()
        n_total = corpus.count()
        fns = {"universal": minhash_signatures, "oph": minhash_signatures_oph}
        for fn in fns.values():  # JIT/codegen warm-up, untimed
            force(fn(corpus, "text", "doc_id", args.num_hashes),
                  [("signature", "arr")])
        best: dict = {}
        for r in range(3):
            order = list(fns) if r % 2 == 0 else list(reversed(list(fns)))
            for name in order:
                t0 = time.time()
                force(fns[name](corpus, "text", "doc_id", args.num_hashes),
                      [("signature", "arr")])
                dt = time.time() - t0
                best[name] = min(best.get(name, dt), dt)
        print(json.dumps({
            "mode": "sig_compare", "docs": args.docs, "n_total": n_total,
            "words": args.words, "num_hashes": args.num_hashes,
            "cpus": args.cpus,
            "universal_s": round(best["universal"], 1),
            "oph_s": round(best["oph"], 1),
            "speedup_oph": round(best["universal"] / best["oph"], 2),
        }))
        spark.stop()
        return

    if args.verify_compare:
        corpus = build_corpus(
            spark, args.docs, args.dup_fraction, args.hot, args.words
        ).persist()
        n_total = corpus.count()
        cand = minhash_lsh_candidates(
            corpus, "text", "doc_id",
            num_hashes=args.num_hashes, bands=args.bands,
            max_bucket=args.max_bucket, method=args.method,
        ).persist()
        n_cand = cand.count()  # materialize candidates outside timed region
        n_touched = (
            cand.select(F.col("a_id").alias("id"))
            .union(cand.select(F.col("b_id").alias("id")))
            .distinct()
            .count()
        )

        def run_verify(prune: bool) -> float:
            verified = jaccard_verify_candidates(
                corpus, cand, "text", "doc_id", 3,
                threshold_num=1, threshold_den=1, prune=prune,
            )
            t0 = time.time()
            n = verified.count()
            return time.time() - t0, n

        counts = {}
        for p in (False, True):  # JIT/codegen warm-up, untimed
            _, counts[p] = run_verify(p)
        assert counts[False] == counts[True], counts  # identical output
        best: dict = {}
        for r in range(3):
            order = [False, True] if r % 2 == 0 else [True, False]
            for p in order:
                dt, _ = run_verify(p)
                best[p] = min(best.get(p, dt), dt)
        print(json.dumps({
            "mode": "verify_compare", "docs": args.docs,
            "dup_fraction": args.dup_fraction, "n_total": n_total,
            "n_candidates": n_cand, "n_touched_ids": n_touched,
            "touched_coverage": round(n_touched / n_total, 3),
            "cpus": args.cpus, "verified_pairs": counts[False],
            "unpruned_s": round(best[False], 2),
            "pruned_s": round(best[True], 2),
            "speedup_pruned": round(best[False] / best[True], 2),
        }))
        spark.stop()
        return

    if args.shuffle_compare:
        settings = [int(x) for x in args.shuffle_compare.split(",")]
        corpus = build_corpus(
            spark, args.docs, args.dup_fraction, args.hot, args.words
        ).persist()
        n_total = corpus.count()
        sample, drift, readings = kernel_bracket()
        run_e2e(corpus, args.docs)  # JIT/codegen warm-up, untimed
        sample()
        best: dict = {}
        recall = {}
        for r in range(3):
            order = settings if r % 2 == 0 else list(reversed(settings))
            for p in order:
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                dt, agg, n_seed = run_e2e(corpus, args.docs)
                best[p] = min(best.get(p, dt), dt)
                recall[p] = round((agg["n_seed_found"] or 0) / max(1, n_seed), 6)
            sample()
        print(json.dumps({
            "mode": "shuffle_compare", "docs": args.docs,
            "n_total": n_total, "cpus": args.cpus,
            "num_hashes": args.num_hashes, "bands": args.bands,
            "exploded_rows": args.bands * n_total,
            # AQE can coalesce post-shuffle partitions and blunt the
            # 32-vs-128 lever being compared; record the adaptive settings
            # so readers can interpret the numbers (r5 ADVICE)
            "aqe": {
                k: spark.conf.get(k, None)
                for k in (
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.enabled",
                    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                )
            },
            "results": [
                {"shuffle_partitions": p, "e2e_s": round(best[p], 1),
                 "docs_per_sec": round(n_total / best[p], 1),
                 "seed_recall": recall[p]}
                for p in settings
            ],
            "kernel_docs_per_sec": readings,
            "kernel_drift": drift(),
            "window_stable": drift() <= 0.15,
        }))
        spark.stop()
        return

    if args.e2e_compare:
        corpus = build_corpus(
            spark, args.docs, args.dup_fraction, args.hot, args.words
        ).persist()
        n_total = corpus.count()
        methods = ["universal", "oph"]
        sample, drift, readings = kernel_bracket()
        for m in methods:  # JIT/codegen warm-up, untimed
            run_e2e(corpus, args.docs, method=m)
        sample()
        best: dict = {}
        recall = {}
        pairs = {}
        for r in range(3):
            order = methods if r % 2 == 0 else list(reversed(methods))
            for m in order:
                dt, agg, n_seed = run_e2e(corpus, args.docs, method=m)
                best[m] = min(best.get(m, dt), dt)
                recall[m] = round((agg["n_seed_found"] or 0) / max(1, n_seed), 6)
                pairs[m] = agg["n_pairs"]
            sample()
        print(json.dumps({
            "mode": "e2e_compare", "docs": args.docs, "n_total": n_total,
            "words": args.words, "num_hashes": args.num_hashes,
            "bands": args.bands, "cpus": args.cpus,
            "universal": {"e2e_s": round(best["universal"], 1),
                          "seed_recall": recall["universal"],
                          "n_pairs": pairs["universal"]},
            "oph": {"e2e_s": round(best["oph"], 1),
                    "seed_recall": recall["oph"],
                    "n_pairs": pairs["oph"]},
            "speedup_oph": round(best["universal"] / best["oph"], 2),
            "kernel_docs_per_sec": readings,
            "kernel_drift": drift(),
            "window_stable": drift() <= 0.15,
        }))
        spark.stop()
        return

    if args.linearity:
        sizes = [int(x) for x in args.linearity.split(",")]
        sample, drift, readings = kernel_bracket()
        results = []
        for i, n in enumerate(sizes):
            corpus = build_corpus(spark, n, args.dup_fraction, args.hot, args.words)
            corpus = corpus.persist()
            n_total = corpus.count()
            if i == 0:
                run_e2e(corpus, n)  # JIT/codegen warm-up, untimed
            # per-size validity: each timed pass is bracketed by its OWN
            # kernel readings; a contention burst invalidates only the
            # pass it hit, which is retried (same JVM) instead of
            # poisoning the whole curve — shared-host bursts observed
            # here drop the kernel 8x for under a minute.
            for attempt in range(args.retries):
                k0 = sample()
                wall, agg, n_seed = run_e2e(corpus, n)
                k1 = sample()
                local_drift = 1.0 - min(k0, k1) / max(k0, k1)
                if local_drift <= 0.15:
                    break
            results.append({
                "docs": n, "n_total": n_total, "e2e_s": round(wall, 1),
                "docs_per_sec": round(n_total / wall, 1),
                "seed_recall": round((agg["n_seed_found"] or 0) / max(1, n_seed), 6),
                "kernel_bracket": [round(k0, 1), round(k1, 1)],
                "pass_drift": round(local_drift, 3),
                "pass_stable": local_drift <= 0.15,
                "attempts": attempt + 1,
            })
            corpus.unpersist()
        base_rate = results[0]["docs_per_sec"]
        print(json.dumps({
            "mode": "linearity", "cpus": args.cpus,
            "words": args.words, "method": args.method,
            "shuffle_partitions": args.shuffle_partitions or max(32, args.cpus),
            "num_hashes": args.num_hashes, "bands": args.bands,
            "sizes": results,
            "rate_ratio_vs_first": [
                round(r["docs_per_sec"] / base_rate, 3) for r in results
            ],
            "kernel_docs_per_sec": readings,
            "kernel_drift": drift(),
            "window_stable": all(r["pass_stable"] for r in results),
        }))
        spark.stop()
        return

    corpus = build_corpus(spark, args.docs, args.dup_fraction, args.hot, args.words)
    corpus = corpus.persist()
    n_total = corpus.count()  # materialize outside the timed region
    out = {
        "docs": args.docs, "n_total": n_total, "hot": args.hot,
        "words": args.words, "method": args.method,
        "max_bucket": args.max_bucket, "num_hashes": args.num_hashes,
        "bands": args.bands, "cpus": args.cpus,
    }

    if args.stages:
        t0 = time.time()
        force(shingle_hash_frame(corpus, "text", "doc_id", 3), [("sh", "arr")])
        out["stage_shingle_hashes_s"] = round(time.time() - t0, 1)

        t0 = time.time()
        force(
            sig_fn(corpus, "text", "doc_id", args.num_hashes),
            [("signature", "arr")],
        )
        out["stage_signatures_s"] = round(time.time() - t0, 1)

        t0 = time.time()
        cand = minhash_lsh_candidates(
            corpus, "text", "doc_id",
            num_hashes=args.num_hashes, bands=args.bands,
            max_bucket=args.max_bucket, method=args.method,
        )
        out["n_candidates"] = cand.count()
        out["stage_candidates_s"] = round(time.time() - t0, 1)

    # end-to-end cold pass (the headline number)
    t0 = time.time()
    cand = minhash_lsh_candidates(
        corpus, "text", "doc_id",
        num_hashes=args.num_hashes, bands=args.bands,
        max_bucket=args.max_bucket, method=args.method,
    )
    verified = jaccard_verify_candidates(
        corpus, cand, "text", "doc_id", 3, threshold_num=1, threshold_den=1
    )
    n_seed = int(args.docs * args.dup_fraction)
    agg = verified.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (
                (F.col("b_id") - F.col("a_id") == DUP_BASE)
                & (F.col("a_id") < n_seed)
            ).cast("long")
        ).alias("n_seed_found"),
    ).collect()[0]
    wall = time.time() - t0
    out["e2e_s"] = round(wall, 1)
    out["docs_per_sec"] = round(n_total / wall, 1)
    out["n_verified_pairs"] = agg["n_pairs"]
    out["seed_recall"] = round((agg["n_seed_found"] or 0) / max(1, n_seed), 6)
    if args.hot > 0:
        hot_pairs = verified.filter(F.col("a_id") >= HOT_BASE).count()
        out["hot_pairs"] = hot_pairs
        out["hot_expected"] = (
            args.hot - 1 if args.max_bucket else args.hot * (args.hot - 1) // 2
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
