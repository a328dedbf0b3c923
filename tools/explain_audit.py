"""Physical-plan audit → PLANS.md (the .explain("formatted") evidence for
the scale-design claims: pushdown, pruning, broadcast, partial aggs)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from valideer_spark.conf import recommended_conf

    b = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false"))
    for k, v in recommended_conf(target_partitions=8).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from valideer_spark.engine import ValidationEngine
    from valideer_spark.flagship import doc_schema
    from valideer_spark.operators import column_profile, duplicate_keys, orphan_keys
    from valideer_spark.sources import synth_docs
    from valideer_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs_path = "/tmp/plans_audit_docs"
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        synth_docs(spark, 5000).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    li = load_table(spark, "lineitem", sf)
    part = load_table(spark, "part", sf)

    from valideer_spark.engine import write_partitioned
    from valideer_spark.operators.dedup import (
        jaccard_verify_candidates,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from valideer_spark.operators.similarity import cosine_self_join_topk

    documents = load_table(spark, "documents", sf)
    embs = load_table(spark, "embeddings", sf)

    bucketed_path = "/tmp/plans_audit_docs_bucketed"
    if not os.path.exists(os.path.join(bucketed_path, "_SUCCESS")):
        write_partitioned(docs, bucketed_path, buckets=8)
    bucketed = spark.read.parquet(bucketed_path).filter(
        ~F.col("_part_id").isin([0, 1, 2])
    )

    engine = ValidationEngine(doc_schema())
    sections = [
        ("Flagship verdicts (single scan, partial+final hash agg, no Python nodes)",
         engine.check(docs).verdicts()),
        ("Column profile (column pruning must reach the parquet scan)",
         column_profile(li, ["l_quantity", "l_discount"], approx_distinct=False)),
        ("Filter pushdown (PushedFilters in the scan)",
         li.filter(F.col("l_quantity") > 45).select("l_orderkey")),
        ("Referential anti-join (BroadcastHashJoin LeftAnti)",
         orphan_keys(li, "l_partkey", part.filter(F.col("p_partkey") % 7 != 0),
                     "p_partkey")),
        ("Uniqueness (single-phase hash agg — COUNT partial-aggregates"
         " map-side, so the salted two-phase plan was removed in round 6;"
         " salt args route here too)",
         duplicate_keys(docs, "doc_id", salt=8)),
        ("n-gram Jaccard with shingle DF cap (bounded self-join buckets: the"
         " dfreq HAVING filter precedes the pair join, so no bucket exceeds"
         " max_shingle_df rows)",
         ngram_jaccard_pairs(documents, max_shingle_df=20)),
        ("MinHash LSH candidates + linear exact-Jaccard verify (the 100 TB"
         " dedup path: no shingle self-join, candidate-bounded work)",
         jaccard_verify_candidates(
             documents, minhash_lsh_candidates(documents),
             threshold_num=1, threshold_den=1)),
        ("Banded ANN kNN self-join (per-(band,bucket) count filter caps the"
         " quadratic join; planes are one array literal, not dim*planes"
         " scalars)",
         cosine_self_join_topk(embs, k=3, n_planes=8, n_bands=4,
                               max_bucket=100)),
        ("Checkpoint resume on the write_partitioned layout (completed"
         " _part_id buckets pruned at the SOURCE — see PartitionFilters)",
         bucketed.select("doc_id")),
    ]

    from valideer_spark.operators.similarity import cosine_near_dup_pairs

    sections.append(
        ("Embedding near-dup pairs (banded-LSH candidates, per-bucket cap,"
         " exact-cosine verify — candidate-bounded, no all-pairs join)",
         cosine_near_dup_pairs(embs, threshold=0.999, max_bucket=100))
    )

    # round 5: skew-guarded LSH candidates — one bucket-stats agg on the
    # SAME key as the self-join (exchange reused), wide buckets demoted
    # to star linking, narrow buckets keep exact all-pairs semantics
    sections.append(
        ("Skew-guarded MinHash LSH candidates (round-6 bounded form:"
         " whole-partition window tags rows with bucket count/min in a"
         " spillable buffer; under-cap rows keep the bounded collect_list"
         " path, over-cap rows emit star edges row-wise — no aggregation"
         " row ever exceeds max_bucket ids)",
         minhash_lsh_candidates(documents, max_bucket=50))
    )

    # round 3: caller-supplied partition_expr (externally-computable
    # bucketing) must produce the SAME single-scan partial+final agg plan
    # as the xxhash64 default — only the bucket expression changes
    engine_mod = ValidationEngine(
        doc_schema(), buckets=64,
        partition_expr=lambda c: F.pmod(
            F.substring(c, 5, 12).cast("long"), F.lit(64)).cast("int"))
    sections.append(
        ("Custom partition_expr verdicts (numeric-suffix mod bucketing —"
         " identical single-scan partial+final agg shape as the xxhash64"
         " default; only the bucket key expression differs)",
         engine_mod.check(docs).verdicts())
    )

    out = ["# PLANS — physical-plan audit (`.explain(\"formatted\")`)", "",
           "Generated by `python tools/explain_audit.py`. Long expression",
           "trees elided by Spark's formatter; the structural claims are the",
           "point: scans prune columns, filters push down, reference sides",
           "broadcast, aggregations are partial+final, and no Python eval",
           "nodes appear in any check plan.", ""]
    for title, df in sections:
        plan = formatted(df)
        # keep the operator tree + scan details, cap the expression dump
        lines = plan.splitlines()
        head = []
        for line in lines:
            head.append(line)
            if len(head) > 120:
                head.append("… (elided)")
                break
        out += [f"## {title}", "", "```", *head, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
