"""Named engine queries + DuckDB oracle SQL (the driver correctness gate).

Every entry pairs a Spark implementation (idiomatic DataFrame ops over the
driver test tables and the deterministic synthetic docs table) with an
ANSI-SQL equivalent DuckDB runs on the same inputs. Outputs avoid computed
floats where possible so order-insensitive value hashes are stable; column
names are aliased identically on both sides.

Flagship queries rebuild the synthetic docs table inside the oracle SQL
(:func:`valideer_spark.sources.docs.synth_docs_sql`) — deterministic
modular arithmetic, no RNG — so DuckDB checks the *validation semantics*,
not just aggregates.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import ValidationEngine
from .flagship import DOC_ID_PATTERN, MEDIA_REF_PATTERN, SPAN_KINDS, doc_schema
from .operators import column_profile, duplicate_keys, orphan_keys
from .sources import synth_docs, synth_docs_sql, synth_media_catalog
from .sources.tables import load_table

FLAGSHIP_N_DOCS = 5000

_KINDS_SQL = ", ".join("'%s'" % k for k in SPAN_KINDS)
_MEDIA_FULL = "media://[a-z0-9]{8}/[0-9]{1,4}"

# span-level validity used by several oracles (mirrors the flagship schema)
_SPAN_OK = f"""(
  s.kind IN ({_KINDS_SQL})
  AND s."offset" >= 0
  AND (s.media_ref IS NULL OR regexp_full_match(s.media_ref, '{_MEDIA_FULL}'))
  AND ((s.text IS NOT NULL) = (s.kind = 'text'))
  AND ((s.media_ref IS NOT NULL) = (s.kind <> 'text'))
)"""


def _docs(spark: SparkSession) -> DataFrame:
    return synth_docs(spark, FLAGSHIP_N_DOCS)


def _flagship_engine(buckets: int = 256) -> ValidationEngine:
    return ValidationEngine(doc_schema(), buckets=buckets)


def _typed_engine() -> ValidationEngine:
    from .sources.typed import typed_schema

    return ValidationEngine(typed_schema(), id_col="rec_id")


def _docs_cte() -> str:
    return "WITH docs AS (%s)" % synth_docs_sql(FLAGSHIP_N_DOCS)


# ---------------------------------------------------------------------------
# flagship validation queries (schema-driven check plans)
# ---------------------------------------------------------------------------

def q_flagship_violation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    report = _flagship_engine().check(_docs(spark))
    return (
        report.metrics()
        .select(F.col("constraint"), F.col("count").alias("n"))
        .orderBy("constraint")
    )


ORACLE_FLAGSHIP_VIOLATION_METRICS = _docs_cte() + f"""
, spans AS (SELECT doc_id, unnest(spans) AS s, len(spans) AS n_spans FROM docs)
, per_constraint AS (
  SELECT 'enum' AS "constraint", count(*) AS n FROM spans WHERE s.kind NOT IN ({_KINDS_SQL})
  UNION ALL
  SELECT 'pattern', count(*) FROM spans
    WHERE s.media_ref IS NOT NULL AND NOT regexp_full_match(s.media_ref, '{_MEDIA_FULL}')
  UNION ALL
  SELECT 'range.min', count(*) FROM spans WHERE s."offset" < 0
  UNION ALL
  SELECT 'condition:span_text_consistency', count(*) FROM spans
    WHERE NOT ((s.text IS NOT NULL) = (s.kind = 'text'))
  UNION ALL
  SELECT 'condition:span_media_consistency', count(*) FROM spans
    WHERE NOT ((s.media_ref IS NOT NULL) = (s.kind <> 'text'))
  UNION ALL
  SELECT 'sequence.min_length', count(*) FROM docs WHERE len(spans) < 1
)
SELECT "constraint", n FROM per_constraint WHERE n > 0 ORDER BY "constraint"
"""


def q_flagship_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    report = _flagship_engine().check(_docs(spark))
    return report.annotated.select(
        F.col("doc_id"), F.col("_valid").alias("valid")
    )


ORACLE_FLAGSHIP_DOC_VERDICTS = _docs_cte() + f"""
SELECT doc_id,
  (regexp_full_match(doc_id, 'doc-\\d{{12}}')
   AND len(spans) >= 1
   AND coalesce(list_aggregate(list_transform(spans, s -> {_SPAN_OK}), 'bool_and'), TRUE)
  ) AS valid
FROM docs
"""


def _flagship_mod64_engine() -> ValidationEngine:
    """Gate engine with an externally-computable bucketing (numeric
    doc_id suffix mod 64) so DuckDB can rebuild per-partition rows."""
    return ValidationEngine(
        doc_schema(),
        buckets=64,
        partition_expr=lambda c: F.pmod(
            F.substring(c, 5, 12).cast("long"), F.lit(64)
        ).cast("int"),
    )


def q_flagship_partition_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition verdict rollup, FULLY oracled: the gate engine uses
    an externally-computable bucket function (numeric doc_id suffix mod
    64) via the engine's ``partition_expr`` hook, so DuckDB can rebuild
    every per-partition row. Production default stays xxhash64 (uniform
    for arbitrary ids); the rollup/checkpoint machinery is agnostic to
    which deterministic bucketing is used — that is exactly what this
    gate proves."""
    report = _flagship_mod64_engine().check(_docs(spark))
    return report.verdicts().select(
        F.col("_part_id").alias("part_id"),
        "n_docs",
        "n_valid",
        F.col("pass"),
    ).orderBy("part_id")


def q_flagship_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(partition, constraint) violation metrics — the checkpoint
    design's hotspot-debugging rows — FULLY oracled via the
    externally-computable mod-64 bucketing: DuckDB recomputes every
    (bucket, constraint, count) triple from flagship semantics."""
    report = _flagship_mod64_engine().check(_docs(spark))
    return report.partition_metrics().orderBy("part_id", "constraint")


ORACLE_FLAGSHIP_PARTITION_METRICS = _docs_cte() + f"""
, spans AS (
  SELECT doc_id,
    CAST(TRY_CAST(substr(doc_id, 5, 12) AS BIGINT) % 64 AS INTEGER) AS part_id,
    unnest(spans) AS s
  FROM docs
), per_doc AS (
  SELECT doc_id,
    CAST(TRY_CAST(substr(doc_id, 5, 12) AS BIGINT) % 64 AS INTEGER) AS part_id,
    len(spans) AS n_spans
  FROM docs
), per_constraint AS (
  SELECT part_id, 'enum' AS "constraint", count(*) AS n
  FROM spans WHERE s.kind NOT IN ({_KINDS_SQL}) GROUP BY part_id
  UNION ALL
  SELECT part_id, 'pattern', count(*) FROM spans
    WHERE s.media_ref IS NOT NULL AND NOT regexp_full_match(s.media_ref, '{_MEDIA_FULL}')
    GROUP BY part_id
  UNION ALL
  SELECT part_id, 'range.min', count(*) FROM spans WHERE s."offset" < 0 GROUP BY part_id
  UNION ALL
  SELECT part_id, 'condition:span_text_consistency', count(*) FROM spans
    WHERE NOT ((s.text IS NOT NULL) = (s.kind = 'text')) GROUP BY part_id
  UNION ALL
  SELECT part_id, 'condition:span_media_consistency', count(*) FROM spans
    WHERE NOT ((s.media_ref IS NOT NULL) = (s.kind <> 'text')) GROUP BY part_id
  UNION ALL
  SELECT part_id, 'sequence.min_length', count(*) FROM per_doc
    WHERE n_spans < 1 GROUP BY part_id
)
SELECT part_id, "constraint", CAST(n AS BIGINT) AS n
FROM per_constraint WHERE n > 0 ORDER BY part_id, "constraint"
"""

ORACLE_FLAGSHIP_PARTITION_VERDICTS = _docs_cte() + f"""
, verdicts AS (
  SELECT CAST(TRY_CAST(substr(doc_id, 5, 12) AS BIGINT) % 64 AS INTEGER) AS part_id,
    (regexp_full_match(doc_id, 'doc-\\d{{12}}')
     AND len(spans) >= 1
     AND coalesce(list_aggregate(list_transform(spans, s -> {_SPAN_OK}), 'bool_and'), TRUE)
    ) AS valid
  FROM docs
)
SELECT part_id, count(*) AS n_docs,
       CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       (count(*) = sum(CASE WHEN valid THEN 1 ELSE 0 END)) AS pass
FROM verdicts GROUP BY part_id ORDER BY part_id
"""


def q_uniqueness_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase uniqueness over BOTH key shapes in one gate
    (merged docs_uniqueness + orders_uniqueness, r5): the synthetic docs
    frame's string key and the orders table's numeric key with seeded
    read-time duplicates (keys divisible by 97 re-appended)."""
    d = duplicate_keys(_docs(spark), "doc_id", salt=8).select(
        F.lit("docs").alias("source"),
        F.col("doc_id").cast("string").alias("key"),
        "dup_count",
    )
    orders = load_table(spark, "orders", sf_dir)
    with_dupes = orders.select("o_orderkey").unionAll(
        orders.select("o_orderkey").filter(F.col("o_orderkey") % 97 == 0)
    )
    o = duplicate_keys(with_dupes, "o_orderkey", salt=8).select(
        F.lit("orders").alias("source"),
        F.col("o_orderkey").cast("string").alias("key"),
        "dup_count",
    )
    return d.unionAll(o).orderBy("source", "key")


ORACLE_UNIQUENESS_KEYS = _docs_cte() + """
, owd AS (
  SELECT o_orderkey FROM orders
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
)
SELECT 'docs' AS source, doc_id AS key, count(*) AS dup_count
FROM docs GROUP BY doc_id HAVING count(*) >= 2
UNION ALL
SELECT 'orders' AS source, CAST(o_orderkey AS VARCHAR) AS key, count(*) AS dup_count
FROM owd GROUP BY o_orderkey HAVING count(*) >= 2
ORDER BY source, key
"""


def q_docs_referential_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark)
    catalog = synth_media_catalog(spark, FLAGSHIP_N_DOCS)
    refs = docs.select(F.explode("spans").alias("s")).select(
        F.col("s.media_ref").alias("media_ref")
    )
    return orphan_keys(refs, "media_ref", catalog, "media_ref").orderBy("media_ref")


ORACLE_DOCS_REFERENTIAL_MEDIA = _docs_cte() + f"""
, all_refs AS (
  SELECT s.media_ref AS media_ref
  FROM (SELECT unnest(spans) AS s FROM docs)
  WHERE s.media_ref IS NOT NULL
), catalog AS (
  SELECT DISTINCT s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) AS s FROM docs)
  WHERE NOT (CAST(substr(doc_id, 5) AS BIGINT) % 131 = 0 AND CAST(substr(doc_id, 5) AS BIGINT) <> 0)
    AND s.media_ref IS NOT NULL
    AND regexp_full_match(s.media_ref, '{_MEDIA_FULL}')
)
SELECT media_ref, count(*) AS n_rows
FROM all_refs
WHERE media_ref NOT IN (SELECT media_ref FROM catalog)
GROUP BY media_ref ORDER BY media_ref
"""


# ---------------------------------------------------------------------------
# table constraints over the driver test tables
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    prof = column_profile(li, _PROFILE_COLS, approx_distinct=False)
    # min/max as decimal STRINGS on both sides: computed floats are not
    # value-hash-stable across engines (driver hash is stricter than a
    # 9-digit rounding); TPC-H numeric columns are exact at 2 decimals.
    return prof.select(
        "column",
        "n_rows",
        "n_null",
        F.col("min_value").cast("decimal(18,2)").cast("string").alias("min_value"),
        F.col("max_value").cast("decimal(18,2)").cast("string").alias("max_value"),
    ).orderBy("column")


ORACLE_LINEITEM_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(CAST(min({c}) AS DECIMAL(18,2)) AS VARCHAR) AS min_value,
       CAST(CAST(max({c}) AS DECIMAL(18,2)) AS VARCHAR) AS max_value
       FROM lineitem"""
    for c in _PROFILE_COLS
) + "\nORDER BY \"column\""


def q_orders_status_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.filter(~F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


ORACLE_ORDERS_STATUS_ENUM = """
SELECT o_orderstatus, count(*) AS n FROM orders
WHERE o_orderstatus NOT IN ('O', 'F')
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_lineitem_quantity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


ORACLE_LINEITEM_QUANTITY_RANGE = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity < 1 OR l_quantity > 45
"""


def q_lineitem_part_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_partkey") % 7 != 0)
    return orphan_keys(li, "l_partkey", part, "p_partkey").orderBy("l_partkey")


ORACLE_LINEITEM_PART_REFERENTIAL = """
SELECT l_partkey, count(*) AS n_rows FROM lineitem
WHERE l_partkey IS NOT NULL
  AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 0)
GROUP BY l_partkey ORDER BY l_partkey
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "flagship_violation_metrics": q_flagship_violation_metrics,
    "flagship_doc_verdicts": q_flagship_doc_verdicts,
    "flagship_partition_verdicts": q_flagship_partition_verdicts,
    "flagship_partition_metrics": q_flagship_partition_metrics,
    "uniqueness_keys": q_uniqueness_keys,
    "docs_referential_media": q_docs_referential_media,
    "lineitem_profile": q_lineitem_profile,
    "orders_status_enum": q_orders_status_enum,
    "lineitem_quantity_range": q_lineitem_quantity_range,
    "lineitem_part_referential": q_lineitem_part_referential,
}

ORACLES: Dict[str, str] = {
    "flagship_violation_metrics": ORACLE_FLAGSHIP_VIOLATION_METRICS,
    "flagship_doc_verdicts": ORACLE_FLAGSHIP_DOC_VERDICTS,
    "flagship_partition_verdicts": ORACLE_FLAGSHIP_PARTITION_VERDICTS,
    "flagship_partition_metrics": ORACLE_FLAGSHIP_PARTITION_METRICS,
    "uniqueness_keys": ORACLE_UNIQUENESS_KEYS,
    "docs_referential_media": ORACLE_DOCS_REFERENTIAL_MEDIA,
    "lineitem_profile": ORACLE_LINEITEM_PROFILE,
    "orders_status_enum": ORACLE_ORDERS_STATUS_ENUM,
    "lineitem_quantity_range": ORACLE_LINEITEM_QUANTITY_RANGE,
    "lineitem_part_referential": ORACLE_LINEITEM_PART_REFERENTIAL,
}


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

# DuckDB twin of operators.dedup.normalized_text
_NORM_SQL = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def _documents_with_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return docs.unionAll(dupes)


_DOCS_DUPES_SQL = """
docs_with_dupes AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
)
"""


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import normalized_text

    df = _documents_with_dupes(spark, sf_dir)
    return (
        df.groupBy(normalized_text(F.col("text")).alias("content"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("content")
    )


ORACLE_DEDUP_EXACT_DOCUMENTS = f"""
WITH {_DOCS_DUPES_SQL}
SELECT {_NORM_SQL.format(col='text')} AS content, count(*) AS n_docs
FROM docs_with_dupes
GROUP BY 1 HAVING count(*) >= 2 ORDER BY content
"""


# shingle document-frequency cap used by the gate query AND its oracle:
# stop-shingles in more than this many docs are dropped before the
# self-join (bounds every join bucket; see operators.dedup docstring)
_JACCARD_MAX_DF = 20


def _documents_with_midsim_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-gate corpus with MID-similarity seeds: base documents,
    exact duplicates (doc_id+1000000 for doc_id%10==0, shingle Jaccard
    s=1), and mutants (doc_id+2000000 for doc_id%10==5) built by keeping
    the first k = floor((2n+2)/3) normalized tokens and replacing the
    tail with unique filler — by construction their shingle Jaccard
    against the base doc is ~0.5 (exactly 0.5 when shingles are distinct
    and 3 | 2n+2), i.e. pairs AT the LSH design threshold, where banding
    recall is weakest. DuckDB rebuilds the identical corpus."""
    from .operators.dedup import normalized_text

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    toks = F.split(normalized_text(F.col("text")), " ")
    n = F.size(toks)
    k = F.floor((n * 2 + 2) / F.lit(3)).cast("int")
    mid_id = F.col("doc_id") + 2000000
    filler = F.when(
        n >= k + 1,
        F.transform(
            F.sequence(k + 1, n),
            lambda j: F.concat_ws(
                "", F.lit("zf"), mid_id.cast("string"), F.lit("x"), j.cast("string")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    mut = F.array_join(F.concat(F.slice(toks, F.lit(1), k), filler), " ")
    midsim = docs.filter(F.col("doc_id") % 10 == 5).select(
        mid_id.alias("doc_id"), mut.alias("text")
    )
    return docs.unionAll(exact).unionAll(midsim)


_MIDSIM_DOCS_SQL = f"""
jdocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
    array_to_string(
      list_concat(
        t[1:k],
        list_transform(range(k + 1, n + 1),
          j -> 'zf' || CAST(doc_id + 2000000 AS VARCHAR) || 'x' || CAST(j AS VARCHAR))
      ), ' ') AS text
  FROM (
    SELECT doc_id, t, len(t) AS n,
           CAST(floor((len(t) * 2 + 2) / 3) AS INTEGER) AS k
    FROM (SELECT doc_id, string_split({_NORM_SQL.format(col='text')}, ' ') AS t
          FROM documents WHERE doc_id % 10 = 5)
  )
)
"""


def q_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY Jaccard path = the 100 TB path: banded MinHash-LSH
    candidate generation followed by linear exact-Jaccard verification,
    gated against full uncapped exact-join oracles — on a corpus that
    seeds pairs AT the 0.5 design threshold (see
    :func:`_documents_with_midsim_dupes`), where banding recall is
    weakest, not just identical-text pairs. Two MINHASH_PRESETS run:

    * ``strict-0.5`` (k=128, 64 bands x 2 rows), verify threshold 1/2 —
      P(miss) at s=0.5 is (1-0.25)^64 ~ 1e-8, so every >=0.5 pair
      (exact AND mid-similarity) must match the exact oracle;
    * ``exact-dup`` (k=32, 16 bands x 2 rows), verify threshold 1/1 —
      recall at s=1 is STRUCTURAL (identical sets => identical
      signatures at any k), proving the smallest preset loses nothing
      for seeded-duplicate removal at ~1.6x less signature cost
      (MINHASH_PRESETS).

    The capped inverted-index exact join remains the small-corpus twin
    (jaccard_pairs_inverted)."""
    from .operators.dedup import (
        MINHASH_PRESETS,
        jaccard_verify_candidates,
        minhash_lsh_candidates,
    )

    df = _documents_with_midsim_dupes(spark, sf_dir)
    parts = []
    for preset, thr_num, thr_den in (("strict-0.5", 1, 2), ("exact-dup", 1, 1)):
        p = MINHASH_PRESETS[preset]
        cand = minhash_lsh_candidates(
            df, "text", "doc_id", num_hashes=p["num_hashes"], bands=p["bands"]
        )
        parts.append(
            jaccard_verify_candidates(
                df, cand, "text", "doc_id", n=3,
                threshold_num=thr_num, threshold_den=thr_den,
            ).select(F.lit(preset).alias("preset"), "a_id", "b_id",
                     "n_common", "n_a", "n_b")
        )
    return parts[0].unionAll(parts[1]).orderBy("preset", "a_id", "b_id")


def q_jaccard_pairs_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-corpus twin: exact n-gram Jaccard via the document-frequency
    capped inverted-index join (the cap bounds every join bucket by
    construction — the property that makes even the exact variant safe
    to run wide)."""
    from .operators.dedup import ngram_jaccard_pairs

    df = _documents_with_dupes(spark, sf_dir)
    return ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold_num=1, threshold_den=2,
        max_shingle_df=_JACCARD_MAX_DF,
    ).orderBy("a_id", "b_id")


_JACCARD_SHINGLE_CTES = f"""
toks AS (
  SELECT doc_id, string_split({_NORM_SQL.format(col='text')}, ' ') AS t
  FROM docs_with_dupes
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(0, greatest(len(t) - 2, 0)),
                  j -> array_to_string(t[j+1:j+3], ' '))) AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0
)"""

# primary-path oracle: UNCAPPED exact Jaccard over the midsim-seeded
# corpus, one branch per gate preset — strict-0.5 must reproduce every
# pair with J >= 1/2 (including the seeded ~0.5 mutants), exact-dup every
# identical-shingle-set pair (threshold 1/1)
ORACLE_JACCARD_PAIRS_PRIMARY = f"""
WITH {_MIDSIM_DOCS_SQL},
{_JACCARD_SHINGLE_CTES.replace("docs_with_dupes", "jdocs")},
sized AS (
  SELECT doc_id, count(*) AS n_sh FROM inv GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), joined AS (
  SELECT p.a_id, p.b_id, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM pairs p
  JOIN sized sa ON sa.doc_id = p.a_id
  JOIN sized sb ON sb.doc_id = p.b_id
)
SELECT 'strict-0.5' AS preset, a_id, b_id, n_common, n_a, n_b
FROM joined WHERE n_common * 2 >= 1 * (n_a + n_b - n_common)
UNION ALL
SELECT 'exact-dup' AS preset, a_id, b_id, n_common, n_a, n_b
FROM joined WHERE n_common * 1 >= 1 * (n_a + n_b - n_common)
ORDER BY preset, a_id, b_id
"""

ORACLE_JACCARD_PAIRS_DOCUMENTS = f"""
WITH {_DOCS_DUPES_SQL},
{_JACCARD_SHINGLE_CTES},
dfreq AS (
  SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {_JACCARD_MAX_DF}
), kept AS (
  SELECT i.doc_id, i.shingle FROM inv i JOIN dfreq d USING (shingle)
), sized AS (
  SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.a_id, p.b_id, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
FROM pairs p
JOIN sized sa ON sa.doc_id = p.a_id
JOIN sized sb ON sb.doc_id = p.b_id
WHERE p.n_common * 2 >= 1 * (sa.n_sh + sb.n_sh - p.n_common)
ORDER BY a_id, b_id
"""


# --- LSH skew stress (r5) ---------------------------------------------------
# one hot cluster: H identical-text docs with a hot id prefix. Identical
# text => identical signatures => EVERY band bucket of the cluster is H
# members wide — the adversarial input for banded LSH (all-pairs would
# emit bands * H*(H-1)/2 join rows). max_bucket switches those buckets to
# star linking (k-1 edges to the min id), so the oracle can pin the EXACT
# star shape: a hash match proves the cap engaged AND that the midsim
# pairs' recall is unharmed by the hot cluster's presence.
_SKEW_HOT_N = 200
_SKEW_HOT_BASE = 9000000
_SKEW_HOT_TEXT = (
    "skewhot alpha bravo charlie delta echo foxtrot golf hotel india "
    "juliett kilo"
)
_SKEW_MAX_BUCKET = 50


def _documents_with_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    hot = spark.range(_SKEW_HOT_N).select(
        (F.lit(_SKEW_HOT_BASE) + F.col("id")).alias("doc_id"),
        F.lit(_SKEW_HOT_TEXT).alias("text"),
    )
    return _documents_with_midsim_dupes(spark, sf_dir).unionAll(hot)


def q_lsh_skew_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-stress gate for the 100 TB dedup path: the midsim corpus plus
    a 200-doc identical-text hot cluster, run through strict-0.5 banded
    LSH with ``max_bucket=50`` and exact-Jaccard verification.

    The oracle pins (a) every exact-Jaccard >= 0.5 pair among the
    non-pathological corpus — recall unharmed by the hot cluster — and
    (b) the hot cluster's candidates as EXACTLY the 199 star edges
    (min id -> member): an uncapped run would emit all 19900 intra-
    cluster pairs and hash-mismatch, so the match is direct evidence the
    skew guard engaged while preserving the duplicate cluster as one
    connected component."""
    from .operators.dedup import (
        MINHASH_PRESETS,
        jaccard_verify_candidates,
        minhash_lsh_candidates,
    )

    df = _documents_with_skew(spark, sf_dir)
    p = MINHASH_PRESETS["strict-0.5"]
    cand = minhash_lsh_candidates(
        df, "text", "doc_id",
        num_hashes=p["num_hashes"], bands=p["bands"],
        max_bucket=_SKEW_MAX_BUCKET,
    )
    return (
        jaccard_verify_candidates(
            df, cand, "text", "doc_id", n=3, threshold_num=1, threshold_den=2
        )
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    )


ORACLE_LSH_SKEW_STRESS = f"""
WITH {_MIDSIM_DOCS_SQL},
{_JACCARD_SHINGLE_CTES.replace("docs_with_dupes", "jdocs")},
sized AS (
  SELECT doc_id, count(*) AS n_sh FROM inv GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.a_id, p.b_id
FROM pairs p
JOIN sized sa ON sa.doc_id = p.a_id
JOIN sized sb ON sb.doc_id = p.b_id
WHERE p.n_common * 2 >= 1 * (sa.n_sh + sb.n_sh - p.n_common)
UNION ALL
SELECT CAST({_SKEW_HOT_BASE} AS BIGINT) AS a_id,
       CAST({_SKEW_HOT_BASE} + j AS BIGINT) AS b_id
FROM range(1, {_SKEW_HOT_N}) t(j)
ORDER BY a_id, b_id
"""


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup path end-to-end: MinHash banded-LSH candidate
    generation + linear exact-Jaccard verification, gated against a full
    DuckDB oracle. Threshold 1/1 (identical shingle sets) makes LSH recall
    exact, not probabilistic: identical sets => identical signatures =>
    every band agrees => guaranteed candidate."""
    from .operators.dedup import jaccard_verify_candidates, minhash_lsh_candidates

    df = _documents_with_dupes(spark, sf_dir)
    cand = minhash_lsh_candidates(df, "text", "doc_id")
    return jaccard_verify_candidates(
        df, cand, "text", "doc_id", n=3, threshold_num=1, threshold_den=1
    ).orderBy("a_id", "b_id")


ORACLE_MINHASH_VERIFIED_PAIRS = f"""
WITH {_DOCS_DUPES_SQL},
{_JACCARD_SHINGLE_CTES},
sized AS (
  SELECT doc_id, count(*) AS n_sh FROM inv GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.a_id, p.b_id, p.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
FROM pairs p
JOIN sized sa ON sa.doc_id = p.a_id
JOIN sized sb ON sb.doc_id = p.b_id
WHERE p.n_common >= sa.n_sh + sb.n_sh - p.n_common
ORDER BY a_id, b_id
"""


def q_text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class stats + BPE-ish token estimate per document, both
    text operators joined on doc_id into one gate row (absorbs the former
    token_count_documents gate; token_count's own n_tokens is kept as
    tc_n_tokens so both operators' outputs stay independently gated)."""
    from .operators.text import text_stats, token_count

    docs = load_table(spark, "documents", sf_dir)
    tc = token_count(docs).select(
        "doc_id",
        F.col("n_tokens").alias("tc_n_tokens"),
        "n_subwords",
    )
    return text_stats(docs).join(tc, "doc_id").orderBy("doc_id")


ORACLE_TEXT_STATS_DOCUMENTS = f"""
WITH toks AS (
  SELECT doc_id, text, string_split({_NORM_SQL.format(col='text')}, ' ') AS t
  FROM documents
)
SELECT doc_id,
  length(text) AS n_chars,
  length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
  length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
  length(text) - length(regexp_replace(text, '[\\.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS n_punct,
  len(t) AS n_tokens,
  CAST(len(t) AS BIGINT) AS tc_n_tokens,
  CAST(len(t)
    + length(regexp_replace(text, '[^\\.,;:!?]', '', 'g'))
    + list_sum(list_transform(t, x -> CASE WHEN length(x) > 6 THEN length(x) // 6 ELSE 0 END))
    AS BIGINT) AS n_subwords
FROM toks ORDER BY doc_id
"""


def _quality_oracle() -> str:
    from .operators.text import STOPWORDS

    stop_sql = ", ".join(
        "'%s'" % w for ws in STOPWORDS.values() for w in ws
    )
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split({_NORM_SQL.format(col='text')}, ' ') AS t
  FROM documents
), feat AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n,
    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE) AS n_alpha,
    CAST(len(list_filter(t, x -> x IN ({stop_sql}))) AS BIGINT) AS stop_hits,
    CAST(len(t) AS BIGINT) AS n_toks,
    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS tok_chars
  FROM toks
), comp AS (
  SELECT doc_id,
    CASE WHEN n > 0 THEN n_alpha / n ELSE 0.0 END AS alpha_ratio,
    CASE WHEN n_toks > 0 THEN CAST(stop_hits AS DOUBLE) / n_toks ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_toks > 0 THEN CAST(tok_chars AS DOUBLE) / n_toks ELSE 0.0 END AS mean_wordlen,
    CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.3 END AS len_band,
    n, n_toks
  FROM feat
)
SELECT doc_id,
  CAST(CAST(round(
    0.35 * len_band
    + 0.25 * least(alpha_ratio * 1.25, 1.0)
    + 0.2 * least(stop_ratio * 5.0, 1.0)
    + 0.2 * (CASE WHEN mean_wordlen >= 3 AND mean_wordlen <= 12 THEN 1.0 ELSE 0.4 END)
  , 4) AS DECIMAL(9,4)) AS VARCHAR) AS quality
FROM comp ORDER BY doc_id
"""


def q_quality_language_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + language guess joined on doc_id into one gate
    (absorbs the former separate quality_score_documents /
    language_guess_documents gates; both operators' outputs stay fully
    oracled)."""
    from .operators.text import language_guess, quality_score

    docs = load_table(spark, "documents", sf_dir)
    q = quality_score(docs).select(
        "doc_id",
        F.col("quality").cast("decimal(9,4)").cast("string").alias("quality"),
    )
    return q.join(language_guess(docs), "doc_id").orderBy("doc_id")


def _quality_language_oracle() -> str:
    return f"""
SELECT q.doc_id, q.quality, l.lang_guess
FROM ({_quality_oracle()}) q
JOIN ({_lang_oracle()}) l ON q.doc_id = l.doc_id
ORDER BY q.doc_id
"""


def _lang_oracle() -> str:
    from .operators.text import STOPWORDS

    hit_exprs = {
        lang: "len(list_filter(t, x -> x IN (%s)))"
        % ", ".join("'%s'" % w for w in ws)
        for lang, ws in STOPWORDS.items()
    }
    # same strict-> argmax order as the Spark loop (dict insertion order)
    langs = list(hit_exprs)
    case = "CASE"
    # replicate sequential max: best = first lang with strictly more hits
    # than all previous bests; build nested comparison
    expr = "'unknown'"
    best = "0"
    for lang in langs:
        h = hit_exprs[lang]
        expr = f"CASE WHEN {h} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest({h}, {best})"
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split({_NORM_SQL.format(col='text')}, ' ') AS t
  FROM documents
)
SELECT doc_id,
  CASE WHEN 2 * (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))) >= length(text)
       THEN 'zh' ELSE {expr} END AS lang_guess
FROM toks ORDER BY doc_id
"""


def q_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_topk

    embs = load_table(spark, "embeddings", sf_dir)
    query = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = cosine_topk(embs.filter(F.col("vec_id") != 0), query, k=20)
    from pyspark.sql.window import Window

    return top.select(
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("id"))).alias("rank"),
        F.col("id").alias("vec_id"),
    )


ORACLE_COSINE_TOPK_EMBEDDINGS = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS score
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank, vec_id
FROM scored ORDER BY score DESC, vec_id ASC LIMIT 20
"""


def q_minhash_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-recall oracle on the RAW banded-LSH candidate generator
    (pre-verify): identical text => identical shingle set => identical
    MinHash signature => every band collides, so each seeded duplicate
    pair MUST appear with n_bands_hit == bands (16). DuckDB enumerates
    the expected pairs from the base table. (The raw candidate set for
    non-identical pairs is hash-seeded — its semantics are gated
    end-to-end by minhash_verified_pairs.)"""
    from .operators.dedup import minhash_lsh_candidates

    df = _documents_with_dupes(spark, sf_dir)
    cands = minhash_lsh_candidates(df, "text", "doc_id")
    return (
        cands.filter(F.col("b_id") == F.col("a_id") + 1000000)
        .select("a_id", "b_id", "n_bands_hit")
        .orderBy("a_id")
    )


ORACLE_MINHASH_LSH_DOCUMENTS = """
SELECT doc_id AS a_id, doc_id + 1000000 AS b_id, CAST(16 AS BIGINT) AS n_bands_hit
FROM documents WHERE doc_id % 10 = 0 ORDER BY a_id
"""


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-group oracle on SimHash exact-fingerprint grouping:
    identical text => identical simhash, so every seeded (base, base+1e6)
    pair must land in one fingerprint group. Joining the exploded group
    members back onto themselves surfaces exactly those pairs; DuckDB
    enumerates the expectation. (Raw fingerprint values are
    xxhash64-seeded — Spark-specific by design.)"""
    from .operators.dedup import simhash_duplicates

    df = _documents_with_dupes(spark, sf_dir)
    # gate-only: lift the production id-sample cap — a fingerprint group
    # with >= cap members would truncate away the (+1000000, sort-last)
    # dup ids and falsely redden the seeded-containment check. Gate-scale
    # corpora are small; production keeps the default bounded sample.
    members = simhash_duplicates(df, max_sample_ids=10_000_000).select(
        "simhash", F.explode("ids").alias("id")
    )
    base = members.filter(F.col("id") < 1000000).alias("a")
    dup = members.filter(F.col("id") >= 1000000).alias("b")
    return (
        base.join(
            dup,
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("b.id") == F.col("a.id") + 1000000),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .orderBy("a_id")
    )


ORACLE_SIMHASH_DOCUMENTS = """
SELECT doc_id AS a_id, doc_id + 1000000 AS b_id
FROM documents WHERE doc_id % 10 = 0 ORDER BY a_id
"""


def q_ann_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for banded-LSH ANN: the ANN top-20 must contain >= 18
    of the exact top-20 (whose own oracle is green in
    cosine_topk_embeddings). Seeded hyperplanes + fixed data make the
    outcome deterministic; the oracle asserts the claimed recall holds.
    16 planes / 8 bands is calibrated for this unstructured corpus (top
    cosine ~0.37); structured corpora with real near-dups take more bits
    per band for selectivity."""
    from .operators.similarity import ann_lsh_topk, cosine_topk

    embs = load_table(spark, "embeddings", sf_dir)
    query = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    base = embs.filter(F.col("vec_id") != 0)
    exact = cosine_topk(base, query, k=20).select("id")
    ann = ann_lsh_topk(base, query, k=20, n_planes=16, n_bands=8).select("id")
    return ann.join(exact, "id").agg(
        F.count(F.lit(1)).alias("n_hits")
    ).select(
        F.lit(20).alias("k"),
        (F.col("n_hits") >= 18).alias("recall_ok"),
    )


ORACLE_ANN_LSH_EMBEDDINGS = "SELECT 20 AS k, TRUE AS recall_ok"


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-oracled multimodal decode plumbing: the mapInPandas decode
    stub derives (content_hash, width, height, duration_ms) from the
    payload's sha256, which DuckDB recomputes byte-for-byte (sha256 +
    hex-digit arithmetic). This pins the Arrow-batched UDF path
    end-to-end per media object — schema, batching, binary round-trip —
    with zero tolerance — per-object rows subsume the old aggregate
    byte-count gate (media_metadata, folded into this one)."""
    from .operators.multimodal import extract_media_metadata, synth_media_payloads

    docs = _docs(spark)
    meta = extract_media_metadata(synth_media_payloads(docs))
    return meta.select(
        "media_ref",
        "media_kind",
        "n_bytes",
        "content_hash",
        "width",
        "height",
        F.col("duration_ms").cast("long").alias("duration_ms"),
    ).orderBy("media_ref", "media_kind")


def _hexbyte(sha: str, i: int) -> str:
    """DuckDB expression for byte i (0-based) of a lowercase hex digest."""
    h1 = f"(strpos('0123456789abcdef', substr({sha}, {2*i+1}, 1)) - 1)"
    h2 = f"(strpos('0123456789abcdef', substr({sha}, {2*i+2}, 1)) - 1)"
    return f"(16 * {h1} + {h2})"


ORACLE_MEDIA_DECODE = _docs_cte() + f"""
, media AS (
  SELECT DISTINCT s.media_ref AS media_ref, s.kind AS media_kind
  FROM (SELECT unnest(spans) AS s FROM docs)
  WHERE s.media_ref IS NOT NULL
), p AS (
  SELECT media_ref, media_kind,
         'payload:' || media_ref || ':' || repeat(media_kind, 8) AS payload
  FROM media
), h AS (
  SELECT media_ref, media_kind, payload, sha256(payload) AS sha FROM p
)
SELECT media_ref, media_kind,
  CAST(length(payload) AS BIGINT) AS n_bytes,
  substr(sha, 1, 16) AS content_hash,
  CAST(CASE WHEN media_kind IN ('image', 'video')
       THEN 64 + {_hexbyte('sha', 0)} % 192 ELSE 0 END AS INTEGER) AS width,
  CAST(CASE WHEN media_kind IN ('image', 'video')
       THEN 64 + {_hexbyte('sha', 1)} % 192 ELSE 0 END AS INTEGER) AS height,
  CAST(CASE WHEN media_kind IN ('audio', 'video')
       THEN 256 * {_hexbyte('sha', 2)} + {_hexbyte('sha', 3)}
       ELSE 0 END AS BIGINT) AS duration_ms
FROM h ORDER BY media_ref, media_kind
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (1:1 mapInPandas, binary in/out) fully oracled at
    a small 8x8 target: the stub's output buffer is the payload's sha256
    digest tiled to w*h*3 bytes, which DuckDB rebuilds by hex-domain
    string tiling (byte tiling == hex tiling for even-length hex); the
    non-image passthrough branch is verified byte-for-byte as well."""
    from .operators.multimodal import resize_images, synth_media_payloads

    docs = _docs(spark)
    resized = resize_images(synth_media_payloads(docs), 8, 8)
    return resized.select(
        "media_ref",
        "width",
        "height",
        F.length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex("payload")).alias("payload_hex"),
    ).orderBy("media_ref", "payload_hex")


ORACLE_MEDIA_RESIZE = _docs_cte() + """
, media AS (
  SELECT DISTINCT s.media_ref AS media_ref, s.kind AS media_kind
  FROM (SELECT unnest(spans) AS s FROM docs)
  WHERE s.media_ref IS NOT NULL
), p AS (
  SELECT media_ref, media_kind,
         'payload:' || media_ref || ':' || repeat(media_kind, 8) AS payload
  FROM media
), h AS (
  SELECT media_ref, media_kind, payload, sha256(payload) AS sha FROM p
)
SELECT media_ref,
  CASE WHEN media_kind = 'image' THEN 8 ELSE 0 END AS width,
  CASE WHEN media_kind = 'image' THEN 8 ELSE 0 END AS height,
  CAST(CASE WHEN media_kind = 'image' THEN 192
       ELSE length(payload) END AS BIGINT) AS n_bytes,
  CASE WHEN media_kind = 'image' THEN substr(repeat(sha, 7), 1, 384)
       ELSE lower(hex(CAST(payload AS BLOB))) END AS payload_hex
FROM h ORDER BY media_ref, payload_hex
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (1:N mapInPandas row expansion) oracled
    on its scalar outputs: per video, n_frames = min(8, max(1,
    duration_ms // 1000)) with duration derived from the payload sha256
    — DuckDB regenerates every (media_ref, frame_idx, ts_ms) row.
    (Frame BYTES are sha256-over-bytes, which DuckDB cannot compute —
    sha256(VARCHAR) only — so they stay pytest-covered.)"""
    from .operators.multimodal import sample_frames, synth_media_payloads

    docs = _docs(spark)
    frames = sample_frames(synth_media_payloads(docs), every_ms=1000, max_frames=8)
    return frames.select(
        "media_ref",
        "frame_idx",
        F.col("ts_ms").cast("long").alias("ts_ms"),
    ).orderBy("media_ref", "frame_idx")


ORACLE_MEDIA_FRAMES = _docs_cte() + f"""
, media AS (
  SELECT DISTINCT s.media_ref AS media_ref, s.kind AS media_kind
  FROM (SELECT unnest(spans) AS s FROM docs)
  WHERE s.media_ref IS NOT NULL
), p AS (
  SELECT media_ref, media_kind,
         'payload:' || media_ref || ':' || repeat(media_kind, 8) AS payload
  FROM media WHERE media_kind = 'video'
), h AS (
  SELECT media_ref, sha256(payload) AS sha FROM p
), d AS (
  SELECT media_ref,
         256 * {_hexbyte('sha', 2)} + {_hexbyte('sha', 3)} AS duration_ms
  FROM h
), n AS (
  SELECT media_ref,
         least(8, greatest(1, duration_ms // 1000)) AS n_frames
  FROM d
)
SELECT media_ref,
       CAST(f.i AS INTEGER) AS frame_idx,
       CAST(f.i * 1000 AS BIGINT) AS ts_ms
FROM n, LATERAL (SELECT unnest(range(0, CAST(n_frames AS BIGINT))) AS i) f
ORDER BY media_ref, frame_idx
"""




def q_drift_documents_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch drift with a BOUND oracle (the approx_distinct_bound
    pattern): each approx quantile's RANK in the exact data must satisfy
    the GK guarantee |rank - p*n| <= eps*n (+1 for rank-convention slack).
    Spark computes the exact ranks of the sketch outputs (cnt_lt/cnt_le,
    plain aggregations); DuckDB independently recomputes the side sizes
    and pins every per-prob check to true. Values themselves are fully
    oracled by the exact-percentile twin (drift_documents_exact)."""
    from .operators.drift import quantile_drift

    accuracy = 10000
    docs = load_table(spark, "documents", sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    dr = quantile_drift(a, b, "n_chars", accuracy=accuracy)

    def rank_stats(side, qcol):
        j = side.select(F.col("n_chars").alias("x")).crossJoin(
            F.broadcast(dr.select("prob", "q_a", "q_b"))
        )
        return j.groupBy("prob").agg(
            F.sum((F.col("x") < F.col(qcol)).cast("long")).alias(f"lt{qcol[-2:]}"),
            F.sum((F.col("x") <= F.col(qcol)).cast("long")).alias(f"le{qcol[-2:]}"),
            F.count(F.lit(1)).alias(f"n{qcol[-2:]}"),
        )

    sa = rank_stats(a, "q_a")
    sb = rank_stats(b, "q_b")
    joined = sa.join(sb, "prob")
    p = F.col("prob")

    def ok(side_sfx):
        lt, le, n = (F.col(f"{c}{side_sfx}") for c in ("lt", "le", "n"))
        slack = F.lit(1.0) + n.cast("double") / accuracy
        target = p * n.cast("double")
        return (lt.cast("double") <= target + slack) & (
            le.cast("double") >= target - slack
        )

    return joined.select(
        p.cast("decimal(4,2)").cast("string").alias("prob"),
        F.col("n_a"),
        F.col("n_b"),
        ok("_a").alias("ok_a"),
        ok("_b").alias("ok_b"),
    ).orderBy("prob")


ORACLE_DRIFT_DOCUMENTS_NCHARS = "\nUNION ALL\n".join(
    f"""SELECT CAST(CAST({p} AS DECIMAL(4,2)) AS VARCHAR) AS prob,
      (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_a,
      (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS n_b,
      true AS ok_a, true AS ok_b"""
    for p in [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]
) + "\nORDER BY prob"


_DRIFT_PROBS = [0.01, 0.25, 0.5, 0.75, 0.99]


def q_drift_documents_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-percentile drift (F.percentile == DuckDB quantile_cont, both
    linear interpolation at rank (n-1)*q) — the fully-oracled twin of the
    GK-sketch drift query; outputs decimal strings for hash stability."""
    docs = load_table(spark, "documents", sf_dir)

    def side(pred, name):
        return docs.filter(pred).agg(
            F.percentile("n_chars", F.lit(_DRIFT_PROBS)).alias(name)
        )

    joined = side(F.col("doc_id") % 2 == 0, "qa").crossJoin(
        side(F.col("doc_id") % 2 == 1, "qb")
    )
    z = F.arrays_zip(
        F.lit([str(p) for p in _DRIFT_PROBS]).alias("prob"),
        F.col("qa").alias("q_a"),
        F.col("qb").alias("q_b"),
    )
    return joined.select(F.explode(z).alias("z")).select(
        F.col("z.prob").alias("prob"),
        F.col("z.q_a").cast("decimal(18,4)").cast("string").alias("q_a"),
        F.col("z.q_b").cast("decimal(18,4)").cast("string").alias("q_b"),
    ).orderBy("prob")


ORACLE_DRIFT_DOCUMENTS_EXACT = "\nUNION ALL\n".join(
    f"""SELECT '{p}' AS prob,
      CAST(CAST((SELECT quantile_cont(n_chars, {p}) FROM documents WHERE doc_id % 2 = 0) AS DECIMAL(18,4)) AS VARCHAR) AS q_a,
      CAST(CAST((SELECT quantile_cont(n_chars, {p}) FROM documents WHERE doc_id % 2 = 1) AS DECIMAL(18,4)) AS VARCHAR) AS q_b"""
    for p in _DRIFT_PROBS
) + "\nORDER BY prob"


QUERIES.update(
    {
        "dedup_exact_documents": q_dedup_exact_documents,
        "jaccard_pairs_documents": q_jaccard_pairs_documents,
        "lsh_skew_stress": q_lsh_skew_stress,
        "jaccard_pairs_inverted": q_jaccard_pairs_inverted,
        "minhash_verified_pairs": q_minhash_verified_pairs,
        "text_stats_documents": q_text_stats_documents,
        "quality_language_documents": q_quality_language_documents,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "minhash_lsh_documents": q_minhash_lsh_documents,
        "simhash_documents": q_simhash_documents,
        "ann_lsh_embeddings": q_ann_lsh_embeddings,
        "media_decode": q_media_decode,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "drift_documents_nchars": q_drift_documents_nchars,
        "drift_documents_exact": q_drift_documents_exact,
    }
)

ORACLES.update(
    {
        "dedup_exact_documents": ORACLE_DEDUP_EXACT_DOCUMENTS,
        "jaccard_pairs_documents": ORACLE_JACCARD_PAIRS_PRIMARY,
        "lsh_skew_stress": ORACLE_LSH_SKEW_STRESS,
        "jaccard_pairs_inverted": ORACLE_JACCARD_PAIRS_DOCUMENTS,
        "minhash_verified_pairs": ORACLE_MINHASH_VERIFIED_PAIRS,
        "text_stats_documents": ORACLE_TEXT_STATS_DOCUMENTS,
        "quality_language_documents": _quality_language_oracle(),
        "cosine_topk_embeddings": ORACLE_COSINE_TOPK_EMBEDDINGS,
        "ann_lsh_embeddings": ORACLE_ANN_LSH_EMBEDDINGS,
        "media_decode": ORACLE_MEDIA_DECODE,
        "media_resize": ORACLE_MEDIA_RESIZE,
        "media_frames": ORACLE_MEDIA_FRAMES,
        "drift_documents_exact": ORACLE_DRIFT_DOCUMENTS_EXACT,
        "drift_documents_nchars": ORACLE_DRIFT_DOCUMENTS_NCHARS,
        "minhash_lsh_documents": ORACLE_MINHASH_LSH_DOCUMENTS,
        "simhash_documents": ORACLE_SIMHASH_DOCUMENTS,
    }
)


def q_constraint_suite_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative engine constraints over the docs table: uniqueness +
    referential, reported as per-constraint verdicts."""
    from .constraints import ConstraintSuite, References, Unique

    docs = _docs(spark)
    catalog = synth_media_catalog(spark, FLAGSHIP_N_DOCS)
    suite = ConstraintSuite(
        [
            Unique("doc_id", salt=8),
            References(
                column="media_ref", ref=catalog, ref_column="media_ref",
                explode_from="spans",
            ),
        ]
    )
    return suite.check(docs).verdicts().orderBy("constraint")


ORACLE_CONSTRAINT_SUITE_DOCS = _docs_cte() + f"""
, uniq AS (
  SELECT count(*) AS n FROM (
    SELECT doc_id FROM docs GROUP BY doc_id HAVING count(*) >= 2
  )
), refs AS (
  SELECT count(*) AS n FROM (
    SELECT s.media_ref
    FROM (SELECT doc_id, unnest(spans) AS s FROM docs)
    WHERE s.media_ref IS NOT NULL AND s.media_ref NOT IN (
      SELECT DISTINCT s2.media_ref
      FROM (SELECT doc_id, unnest(spans) AS s2 FROM docs)
      WHERE NOT (CAST(substr(doc_id, 5) AS BIGINT) % 131 = 0
                 AND CAST(substr(doc_id, 5) AS BIGINT) <> 0)
        AND s2.media_ref IS NOT NULL
        AND regexp_full_match(s2.media_ref, '{_MEDIA_FULL}')
    )
    GROUP BY s.media_ref
  )
)
SELECT 'references:media_ref' AS "constraint", n AS n_violations, n = 0 AS pass FROM refs
UNION ALL
SELECT 'unique:doc_id', n, n = 0 FROM uniq
ORDER BY "constraint"
"""

QUERIES["constraint_suite_docs"] = q_constraint_suite_docs
ORACLES["constraint_suite_docs"] = ORACLE_CONSTRAINT_SUITE_DOCS


def q_domain_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-snapshot enum-domain comparison: order priorities seen
    in even- vs odd-keyed orders (+ a seeded synthetic domain shift)."""
    from .operators.setops import domain_diff

    orders = load_table(spark, "orders", sf_dir)
    snap_a = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderpriority")
    snap_b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        # seeded shift: rename one domain value in snapshot B
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("0-CRITICAL"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority")
    )
    return domain_diff(snap_a, snap_b, "o_orderpriority").orderBy("status", "value")


ORACLE_DOMAIN_DIFF_ORDERS = """
WITH a AS (
  SELECT DISTINCT o_orderpriority AS value FROM orders WHERE o_orderkey % 2 = 0
), b AS (
  SELECT DISTINCT CASE WHEN o_orderpriority = '1-URGENT' THEN '0-CRITICAL'
                       ELSE o_orderpriority END AS value
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT value, 'added' AS status FROM b WHERE value NOT IN (SELECT value FROM a)
UNION ALL
SELECT value, 'removed' FROM a WHERE value NOT IN (SELECT value FROM b)
ORDER BY status, value
"""

QUERIES["domain_diff_orders"] = q_domain_diff_orders
ORACLES["domain_diff_orders"] = ORACLE_DOMAIN_DIFF_ORDERS


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract gate over hamming-banded SimHash candidate pairs, one row
    per seeded pair: every seeded exact duplicate (doc_id + 1000000,
    identical text, hamming 0) MUST be surfaced by the pigeonhole banding
    — DuckDB enumerates the expected pairs — and each row also carries
    the operator's global invariants (hamming bounded by max_hamming,
    canonical a<b ordering, no duplicate pairs), computed over the FULL
    pair set by a 1-row aggregate. (Absorbs the former
    simhash_seeded_recall gate: row enumeration subsumes the old count.
    The non-seeded pair set is xxhash64-fingerprint-dependent,
    Spark-specific by design.)"""
    from .operators.dedup import simhash_candidates

    df = _documents_with_dupes(spark, sf_dir)
    pairs = simhash_candidates(df, max_hamming=3)
    invariants = pairs.agg(
        (F.max("hamming") <= 3).alias("hamming_bounded"),
        (F.sum((F.col("a_id") >= F.col("b_id")).cast("long")) == 0).alias("order_ok"),
        (
            F.count_distinct(F.col("a_id"), F.col("b_id")) == F.count(F.lit(1))
        ).alias("pairs_distinct"),
    )
    seeded = pairs.filter(F.col("b_id") == F.col("a_id") + 1000000).select(
        "a_id", "b_id", "hamming"
    )
    # 1-row x N-row cross join: broadcasts the invariant scalars onto the
    # seeded enumeration (same pattern as the drift bound gates)
    return seeded.crossJoin(F.broadcast(invariants)).orderBy("a_id")


ORACLE_SIMHASH_NEAR_DUPS = """
SELECT doc_id AS a_id, doc_id + 1000000 AS b_id, 0 AS hamming,
       true AS hamming_bounded, true AS order_ok, true AS pairs_distinct
FROM documents WHERE doc_id % 10 = 0 ORDER BY a_id
"""


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing invariant gate: n_grams (recomputed from text, checked
    against DuckDB's identical tokenization) plus the Schleimer bounds on
    the fingerprint-set size, evaluated Spark-side:
    n_grams=0 -> 0 fingerprints; 1..window-1 grams -> exactly 1;
    else 1 <= n_fp <= n_grams - window + 1 (distinct window minima)."""
    from .operators.dedup import normalized_text, winnowing_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    fp = winnowing_fingerprints(docs, kgram=5, window=4).select(
        "id", F.size("fingerprints").alias("n_fp")
    )
    stats = docs.select(
        F.col("doc_id").alias("id"),
        F.greatest(
            F.size(F.split(normalized_text(F.col("text")), " ")) - 4, F.lit(0)
        ).alias("n_grams"),
    )
    joined = fp.join(stats, "id")
    within = (
        F.when(F.col("n_grams") == 0, F.col("n_fp") == 0)
        .when(F.col("n_grams") <= 3, F.col("n_fp") == 1)
        .otherwise(
            (F.col("n_fp") >= 1) & (F.col("n_fp") <= F.col("n_grams") - 3)
        )
    )
    return joined.select(
        "id", "n_grams", within.alias("within_bounds")
    ).orderBy("id")


ORACLE_WINNOWING_FINGERPRINTS = f"""
SELECT doc_id AS id,
  greatest(len(string_split({_NORM_SQL.format(col='text')}, ' ')) - 4, 0) AS n_grams,
  TRUE AS within_bounds
FROM documents ORDER BY id
"""


def q_verdict_rollup_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregation paths against one document-level truth (absorbs
    the former partition_verdict_totals gate): the ``rollup(_part_id)``
    grouping-sets grand-total row (is_total=1) AND the sum over the
    per-partition verdicts() rows must both reproduce the global
    doc/valid counts and overall pass DuckDB recomputes from flagship
    validation semantics."""
    report = _flagship_engine(buckets=64).check(_docs(spark))
    rollup = (
        report.verdict_rollup()
        .filter(F.col("is_total") == 1)
        .select(
            F.lit("rollup_total").alias("source"),
            "n_docs",
            "n_valid",
            F.col("pass"),
        )
    )
    summed = report.verdicts().agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_valid").alias("n_valid"),
        F.bool_and("pass").alias("pass"),
    ).select(F.lit("verdicts_sum").alias("source"), "n_docs", "n_valid", "pass")
    return rollup.unionAll(summed).orderBy("source")


ORACLE_VERDICT_ROLLUP_TOTAL = _docs_cte() + f"""
, verdicts AS (
  SELECT (regexp_full_match(doc_id, 'doc-\\d{{12}}')
   AND len(spans) >= 1
   AND coalesce(list_aggregate(list_transform(spans, s -> {_SPAN_OK}), 'bool_and'), TRUE)
  ) AS valid
  FROM docs
), total AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         bool_and(valid) AS pass
  FROM verdicts
)
SELECT 'rollup_total' AS source, n_docs, n_valid, pass FROM total
UNION ALL
SELECT 'verdicts_sum' AS source, n_docs, n_valid, pass FROM total
ORDER BY source
"""

QUERIES["verdict_rollup_total"] = q_verdict_rollup_total
ORACLES["verdict_rollup_total"] = ORACLE_VERDICT_ROLLUP_TOTAL


def q_first_violating_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function gate (SURVEY §2.5): first violating span per doc —
    posexplode + the compiled span predicate + row_number. The window
    orders by (span_idx, kind) so the seeded duplicate doc_id (hot key)
    resolves deterministically on both engines."""
    from pyspark.sql.window import Window

    from .flagship import span_schema
    from .plans.lowering import lower
    from .sources.docs import SPAN_SCHEMA

    node = lower(span_schema(), SPAN_SCHEMA)
    exploded = _docs(spark).select(
        "doc_id", F.posexplode("spans").alias("span_idx", "s")
    )
    bad = exploded.filter(~node.predicate(F.col("s")))
    w = Window.partitionBy("doc_id").orderBy("span_idx", F.col("s.kind"))
    return (
        bad.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "span_idx", F.col("s.kind").alias("kind"))
        .orderBy("doc_id")
    )


ORACLE_FIRST_VIOLATING_SPAN = _docs_cte() + f"""
, spans_idx AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS span_idx, u.s AS s
  FROM docs, LATERAL (
    SELECT unnest(spans) AS s, generate_subscripts(spans, 1) AS i
  ) u
)
SELECT doc_id, span_idx, s.kind AS kind
FROM spans_idx
WHERE NOT {_SPAN_OK}
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY span_idx, s.kind) = 1
ORDER BY doc_id
"""

QUERIES["first_violating_span"] = q_first_violating_span
ORACLES["first_violating_span"] = ORACLE_FIRST_VIOLATING_SPAN


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall gate: k-means coarse quantizer (seeded,
    deterministic), probe the 6 nearest of 16 inverted lists, score
    exactly; assert the deterministic recall vs the oracled exact top-20.
    This corpus is UNSTRUCTURED (top cosine ~0.37, neighbors spread
    across lists), so the calibrated floor is 15/20 — on clustered
    embeddings the same index reaches ~1.0 recall with fewer probes
    (tests/test_training_ops.py::test_ivf_clustered_recall)."""
    from .operators.similarity import cosine_topk, ivf_index, ivf_topk

    embs = load_table(spark, "embeddings", sf_dir)
    query = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    base = embs.filter(F.col("vec_id") != 0)
    assigned, centers = ivf_index(base, n_lists=16, seed=42)
    ann = ivf_topk(assigned, centers, query, k=20, n_probe=8).select("id")
    exact = cosine_topk(base, query, k=20).select("id")
    return ann.join(exact, "id").agg(F.count(F.lit(1)).alias("n_hits")).select(
        F.lit(20).alias("k"),
        (F.col("n_hits") >= 15).alias("recall_ok"),
    )


ORACLE_IVF_TOPK_EMBEDDINGS = "SELECT 20 AS k, TRUE AS recall_ok"

QUERIES["ivf_topk_embeddings"] = q_ivf_topk_embeddings
ORACLES["ivf_topk_embeddings"] = ORACLE_IVF_TOPK_EMBEDDINGS


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup under a FULL oracle: seed exact
    duplicate vectors (vec_id + 1000000 for vec_id % 10 == 0), find pairs
    with cosine >= 0.999 via banded-LSH candidates + exact verify.
    Identical vectors share every band key, so recall on the seeded pairs
    is guaranteed, and this corpus's natural max cosine (~0.37) keeps the
    threshold unambiguous — DuckDB recomputes the exact pair set."""
    from .operators.similarity import cosine_near_dup_pairs

    embs = load_table(spark, "embeddings", sf_dir)
    dupes = embs.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    df = embs.unionAll(dupes)
    # dim=64 is the testdata embedding width — passing it skips the
    # one-row dim-probe job (similarity._infer_dim fallback).
    return cosine_near_dup_pairs(df, threshold=0.999, dim=64).orderBy("a_id", "b_id")


ORACLE_EMBEDDING_NEAR_DUPS = """
WITH vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
), norms AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM vecs
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM norms a JOIN norms b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (a.nrm * b.nrm) >= 0.999
ORDER BY a_id, b_id
"""

QUERIES["embedding_near_dups"] = q_embedding_near_dups
ORACLES["embedding_near_dups"] = ORACLE_EMBEDDING_NEAR_DUPS


def q_fingerprint_seeded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_fingerprint gate: every seeded duplicate pair must agree on
    both the content hash and the min k-gram hash; DuckDB enumerates the
    expected pairs from the base table."""
    from .operators.text import doc_fingerprint

    df = _documents_with_dupes(spark, sf_dir)
    fp = doc_fingerprint(df)
    a = fp.select(
        F.col("doc_id").alias("a_id"),
        F.col("content_hash").alias("ch_a"),
        F.col("min_kgram_hash").alias("mk_a"),
    )
    b = fp.select(
        (F.col("doc_id") - 1000000).alias("a_id"),
        F.col("content_hash").alias("ch_b"),
        F.col("min_kgram_hash").alias("mk_b"),
    ).filter(F.col("a_id") >= 0)
    joined = a.join(b, "a_id")
    return joined.select(
        "a_id",
        (F.col("ch_a") == F.col("ch_b")).alias("content_hash_match"),
        (
            F.col("mk_a").eqNullSafe(F.col("mk_b"))
        ).alias("min_kgram_match"),
    ).orderBy("a_id")


ORACLE_FINGERPRINT_SEEDED_PAIRS = """
SELECT doc_id AS a_id, TRUE AS content_hash_match, TRUE AS min_kgram_match
FROM documents WHERE doc_id % 10 = 0 ORDER BY a_id
"""

QUERIES["fingerprint_seeded_pairs"] = q_fingerprint_seeded_pairs
ORACLES["fingerprint_seeded_pairs"] = ORACLE_FINGERPRINT_SEEDED_PAIRS


# ---------------------------------------------------------------------------
# event-stream analytics over the events table (time windows, JSON, lag)
# ---------------------------------------------------------------------------

def q_events_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type (the batch twin
    of the Structured Streaming windowed agg). Sums are integer CENTS so
    the parallel double-sum ordering cannot perturb the hash."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").cast("string").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_WINDOW_COUNTS = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface: extract props.k and aggregate."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("k_sum"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_JSON_PROPS = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + running sum (30-minute inactivity gap):
    per-user session counts and the largest session size — the classic
    event-stream window pattern, identical SQL on both engines."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap on the NTZ timestamps (no timezone anywhere;
    # second-level truncation differs between engines' diff semantics)
    with_prev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1000000), 1).otherwise(0)
    sessions = with_prev.withColumn("session_idx", F.sum(new_session).over(w))
    per_session = sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


ORACLE_EVENTS_SESSIONIZATION = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM gaps
), per_session AS (
  SELECT user_id, session_idx, count(*) AS n_events
  FROM sessions GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def q_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ accuracy gate: approx_count_distinct at rsd=0.05 must land
    within 5x the rsd of the exact distinct count (a deterministic sketch
    for fixed input); the oracle recomputes the exact count and asserts
    the bound the engine claims."""
    li = load_table(spark, "lineitem", sf_dir)
    agg = li.agg(
        F.approx_count_distinct("l_partkey", 0.05).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return agg.select(
        F.lit("l_partkey").alias("column"),
        "exact",
        (
            F.abs(F.col("approx") - F.col("exact"))
            <= 0.25 * F.col("exact")
        ).alias("within_bound"),
    )


ORACLE_APPROX_DISTINCT_BOUND = """
SELECT 'l_partkey' AS "column",
       count(DISTINCT l_partkey) AS exact,
       TRUE AS within_bound
FROM lineitem
"""

def q_lineitem_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_quantity (10 bins over (0.5, 50.5) —
    bin edges fall BETWEEN the integer quantities, so the two engines'
    width_bucket formulas cannot disagree on boundary rounding)."""
    from .operators.stats import column_histogram

    li = load_table(spark, "lineitem", sf_dir)
    return column_histogram(li, "l_quantity", bins=10, min_value=0.5,
                            max_value=50.5).orderBy("bucket")


ORACLE_LINEITEM_HISTOGRAM = """
SELECT CASE WHEN l_quantity < 0.5 THEN 0
            WHEN l_quantity >= 50.5 THEN 11
            ELSE CAST(floor((l_quantity - 0.5) / 50.0 * 10) AS BIGINT) + 1 END AS bucket,
       count(*) AS n
FROM lineitem WHERE l_quantity IS NOT NULL
GROUP BY 1 ORDER BY bucket
"""


def q_lineitem_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 most frequent l_quantity values (ties by value)."""
    from .operators.stats import top_values

    li = load_table(spark, "lineitem", sf_dir)
    return top_values(li, "l_quantity", k=10).select(
        F.col("value").cast("decimal(18,2)").cast("string").alias("value"), "n"
    )


ORACLE_LINEITEM_TOP_VALUES = """
SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS value, count(*) AS n
FROM lineitem WHERE l_quantity IS NOT NULL
GROUP BY l_quantity ORDER BY n DESC, l_quantity ASC LIMIT 10
"""

def q_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunctionalDependency constraint under the gate: l_orderkey ->
    l_orderkey%1000 holds trivially; l_orderkey -> ship date does NOT
    (multi-line orders ship on different dates, plus a seeded +500-day
    corruption on one mod-class); the oracle recomputes the exact
    violating-order count for both."""
    from .constraints import ConstraintSuite, FunctionalDependency

    li = load_table(spark, "lineitem", sf_dir)
    mixed = li.withColumn(
        "l_ship_mixed",
        F.when(
            (F.col("l_orderkey") % 50 == 0) & (F.col("l_linenumber") == 1),
            F.date_add(F.col("l_shipdate").cast("date"), 500),
        ).otherwise(F.col("l_shipdate").cast("date")),
    ).withColumn("l_ordermod", F.col("l_orderkey") % 1000)
    suite = ConstraintSuite(
        [
            FunctionalDependency("l_orderkey", "l_ordermod"),   # holds
            FunctionalDependency("l_orderkey", "l_ship_mixed"),  # seeded breaks
        ]
    )
    report = suite.check(mixed)
    return report.verdicts().orderBy("constraint")


ORACLE_FUNCTIONAL_DEPENDENCY = """
WITH mixed AS (
  SELECT l_orderkey,
    CASE WHEN l_orderkey % 50 = 0 AND l_linenumber = 1
         THEN CAST(l_shipdate AS DATE) + 500
         ELSE CAST(l_shipdate AS DATE) END AS l_ship_mixed
  FROM lineitem
), fd2 AS (
  SELECT count(*) AS n FROM (
    SELECT l_orderkey FROM mixed GROUP BY l_orderkey
    HAVING count(DISTINCT l_ship_mixed) > 1
  )
)
SELECT 'fd:l_orderkey->l_ordermod' AS "constraint",
       0 AS n_violations, TRUE AS pass
UNION ALL
SELECT 'fd:l_orderkey->l_ship_mixed', n, n = 0 FROM fd2
ORDER BY "constraint"
"""

QUERIES["functional_dependency"] = q_functional_dependency
ORACLES["functional_dependency"] = ORACLE_FUNCTIONAL_DEPENDENCY

QUERIES["lineitem_histogram"] = q_lineitem_histogram
ORACLES["lineitem_histogram"] = ORACLE_LINEITEM_HISTOGRAM
QUERIES["lineitem_top_values"] = q_lineitem_top_values
ORACLES["lineitem_top_values"] = ORACLE_LINEITEM_TOP_VALUES

QUERIES["events_window_counts"] = q_events_window_counts
ORACLES["events_window_counts"] = ORACLE_EVENTS_WINDOW_COUNTS


def q_events_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-RUNTIME event-time windowed aggregation, BOTH output
    modes, gated against DuckDB:

    * ``complete`` — the events table split into three parquet slices
      (event_id mod 3; batch order irrelevant in complete mode),
      streamed one file per trigger (availableNow), so the cross-batch
      windowed state must reproduce the full batch aggregation.
    * ``append`` — WATERMARK EMISSION semantics, deterministically: the
      table is sliced into three ascending day ranges (mtime-ordered, so
      the file source replays them in event-time order) plus one LATE
      batch (day-1 events re-keyed) arriving last. Append mode only
      emits a window once the watermark (max seen ts - 30 min) passes
      its end, and drops rows behind the watermark — so the emitted set
      is exactly the hour windows with window_end <= max(ts) - 30 min
      (the final no-data micro-batch flushes against the last watermark)
      with counts from on-time rows only; every late row is behind the
      watermark by construction and must be dropped. DuckDB recomputes
      both the emitted-window frontier and the counts.
    """
    # watermarks require TIMESTAMP (instant) columns; the parquet ts is
    # NTZ. The cast interprets the naive value in the session timezone
    # and the output renders it back in the same zone — an exact
    # round-trip for whole-hour-offset zones (the sandbox runs UTC)
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )

    def windowed(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "total_cents"
                ),
            )
        )

    def shape(out: DataFrame, mode: str) -> DataFrame:
        return out.select(
            F.lit(mode).alias("mode"),
            F.col("window").getField("start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "total_cents",
        )

    complete = _replay_stream_to_table(
        spark,
        [ev.filter(F.col("event_id") % 3 == k) for k in range(3)],
        windowed,
        output_mode="complete",  # batch order irrelevant: no sleeps needed
        name_prefix="events_stream_windows",
    )

    day = F.dayofmonth("ts")
    late = ev.filter(day <= 1).withColumn(
        "event_id", F.col("event_id") + 10000000
    )
    append = _replay_stream_to_table(
        spark,
        [
            ev.filter(day <= 10),
            ev.filter((day > 10) & (day <= 20)),
            ev.filter(day > 20),
            late,
        ],
        windowed,
        output_mode="append",
        name_prefix="events_stream_append",
        sleep_between=1.1,  # mtime order = arrival order for file sources
    )
    return (
        shape(complete, "complete")
        .unionAll(shape(append, "append"))
        .orderBy("mode", "window_start", "event_type")
    )


ORACLE_EVENTS_STREAM_WINDOWS = """
WITH agg AS (
  SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM events
  GROUP BY 1, 2, 3
), wm AS (
  SELECT max(ts) - INTERVAL 30 MINUTE AS m FROM events
)
SELECT 'complete' AS mode, window_start, event_type, n, total_cents FROM agg
UNION ALL
SELECT 'append' AS mode, window_start, event_type, n, total_cents
FROM agg, wm WHERE agg.window_end <= wm.m
ORDER BY mode, window_start, event_type
"""

QUERIES["events_stream_windows"] = q_events_stream_windows
ORACLES["events_stream_windows"] = ORACLE_EVENTS_STREAM_WINDOWS
QUERIES["events_json_props"] = q_events_json_props
ORACLES["events_json_props"] = ORACLE_EVENTS_JSON_PROPS
QUERIES["events_sessionization"] = q_events_sessionization
ORACLES["events_sessionization"] = ORACLE_EVENTS_SESSIONIZATION
QUERIES["approx_distinct_bound"] = q_approx_distinct_bound
ORACLES["approx_distinct_bound"] = ORACLE_APPROX_DISTINCT_BOUND

_STREAM_GATE_SEQ = [0]


def _replay_stream_to_table(
    spark: SparkSession,
    slices,
    stream_builder,
    output_mode: str,
    name_prefix: str,
    sleep_between: float = 0.0,
) -> DataFrame:
    """Shared streaming-gate harness: write each slice DataFrame as one
    parquet directory under a temp source (ascending mtimes when
    ``sleep_between`` > 0 — the file stream source processes oldest
    first), stream the source back ONE FILE PER TRIGGER (availableNow,
    so state really crosses micro-batches), run ``stream_builder(stream)``
    into a memory sink, and return the sink table DETACHED from the
    sink/source (collect + recreate) so the temp dirs can be removed.

    Raises on awaitTermination timeout instead of comparing partial
    state (and instead of deleting sources under a live query)."""
    import os
    import shutil
    import tempfile
    import time as _time

    base = tempfile.mkdtemp(prefix=f"{name_prefix}_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    for k, sl in enumerate(slices):
        sl.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"slice={k}")
        )
        if sleep_between:
            _time.sleep(sleep_between)

    stream = (
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "slice=*"))
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"{name_prefix}_out_{_STREAM_GATE_SEQ[0]}"
    q = (
        stream_builder(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        shutil.rmtree(base, ignore_errors=True)
        raise RuntimeError(f"streaming gate {qname} did not finish in 600s")
    out = spark.table(qname)
    out = spark.createDataFrame(out.collect(), out.schema)  # detach from sink
    spark.catalog.dropTempView(qname)  # memory sink registers a temp view; don't leak it
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_dedup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cross-batch dedup (applyInPandasWithState) replayed over
    a 3-micro-batch file source: documents (with seeded dupes) are
    written as three parquet slices in ascending id ranges with ascending
    mtimes, streamed back one file per trigger (availableNow), and
    deduplicated by the stateful first-seen operator. Batch order follows
    id order, so the first-seen winner per normalized-content key is the
    global min id — which DuckDB recomputes exactly. This gates the
    custom stateful streaming operator end-to-end (state surviving
    across micro-batches: later batches hold the seeded +1000000 copies,
    which must all be dropped)."""
    from .streaming.stateful import dedup_stream

    all_docs = _documents_with_dupes(spark, sf_dir).select("doc_id", "text")
    n = all_docs.agg(F.max("doc_id")).first()[0]
    cuts = [n // 3, 2 * n // 3]
    slices = [
        all_docs.filter(F.col("doc_id") <= cuts[0]),
        all_docs.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        all_docs.filter(F.col("doc_id") > cuts[1]),
    ]
    out = _replay_stream_to_table(
        spark,
        slices,
        lambda stream: dedup_stream(stream, "text", "doc_id"),
        output_mode="append",
        name_prefix="dedup_stream_replay",
        sleep_between=1.1,  # distinct mtimes => deterministic batch order
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id")
    ).orderBy("doc_id")


ORACLE_DEDUP_STREAM_REPLAY = f"""
WITH {_DOCS_DUPES_SQL}
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
FROM docs_with_dupes
GROUP BY {_NORM_SQL.format(col='text')}
ORDER BY doc_id
"""

QUERIES["dedup_stream_replay"] = q_dedup_stream_replay
ORACLES["dedup_stream_replay"] = ORACLE_DEDUP_STREAM_REPLAY

QUERIES["simhash_near_dups"] = q_simhash_near_dups
QUERIES["winnowing_fingerprints"] = q_winnowing_fingerprints
ORACLES["simhash_near_dups"] = ORACLE_SIMHASH_NEAR_DUPS
ORACLES["winnowing_fingerprints"] = ORACLE_WINNOWING_FINGERPRINTS


# ---------------------------------------------------------------------------
# M2 typed-matrix gate: every §2.1–2.4 validator family under the oracle
# (mirrors the reference flagship complex validator,
#  /root/reference/valideer/tests/test_validators.py:33-45)
# ---------------------------------------------------------------------------

TYPED_N_ROWS = 4000


def _typed(spark: SparkSession) -> DataFrame:
    from .sources.typed import typed_rows

    return typed_rows(spark, TYPED_N_ROWS)


def _typed_cte() -> str:
    from .sources.typed import typed_rows_sql

    return "WITH typed AS (%s)" % typed_rows_sql(TYPED_N_ROWS)


def _kernel_msg(validator, value) -> str:
    """Exact first-violation message the row kernel produces for ``value``
    — the oracle embeds these as literals. Round 3: kernel messages are
    process-independent (Enum sorts values by repr; Object lists missing
    required keys in declaration order), so the driver may build
    oracle_sql() and run queries() in DIFFERENT processes —
    verify_all.sh asserts the oracle text is PYTHONHASHSEED-stable."""
    from .core import ValidationError

    try:
        validator.validate(value)
    except ValidationError as e:
        return str(e)
    raise AssertionError("typed-matrix oracle: expected %r to be invalid" % (value,))


def _sq(s: str) -> str:
    """SQL single-quote escape (DuckDB standard strings: no backslash
    processing, so only quotes need doubling)."""
    return s.replace("'", "''")


def _typed_expected() -> list:
    """(class residue, path, constraint, kernel message) per violation
    class — the message literals are recomputed from the row kernel."""
    from . import core as V
    from .sources.typed import CODE_PATTERN, EMAIL_PATTERN, NUM_PATTERN, STATUSES

    chain = V.ChainOf(V.AdaptTo(int), V.Range("integer", min_value=0))
    return [
        (1, "name", "string.min_length",
         _kernel_msg(V.String(min_length=3, max_length=12), "ab")),
        (2, "name", "string.max_length",
         _kernel_msg(V.String(min_length=3, max_length=12), "abcdefghijklm")),
        (3, "age", "range.min",
         _kernel_msg(V.Range("integer", min_value=0, max_value=150), -5)),
        (4, "age", "range.max",
         _kernel_msg(V.Range("integer", min_value=0, max_value=150), 200)),
        (5, "status", "enum", _kernel_msg(V.Enum(STATUSES), "deleted")),
        (6, "email", "pattern", _kernel_msg(V.Pattern(EMAIL_PATTERN), "bad-email")),
        (7, "", "object.required", None),  # row-repr message: separate gate
        (8, "tags['neg']", "range.min",
         _kernel_msg(V.Range("integer", min_value=0), -3)),
        (9, "pair[1]", "range.min",
         _kernel_msg(V.Range("integer", min_value=1), 0)),
        (10, "codes[0]", "pattern", _kernel_msg(V.Pattern(CODE_PATTERN), "x-abc")),
        (11, "codes", "sequence.min_length",
         _kernel_msg(V.HomogeneousSequence(V.Pattern(CODE_PATTERN), min_length=1), [])),
        (12, "raw_num", "adapt_to:int", _kernel_msg(chain, "abc")),
        (13, "raw_num", "range.min", _kernel_msg(chain, "-7")),
        (14, "maybe_num", "any_of",
         _kernel_msg(V.AnyOf(V.Pattern(NUM_PATTERN), V.Enum(["N/A"])), "??")),
        (15, "level", "range.max",
         _kernel_msg(V.AllOf("integer", V.Range("integer", min_value=1, max_value=5)), 9)),
    ]


# validity recomputed from the REBUILT VALUES (not the class residue):
# a generator or engine bug on "clean" rows surfaces as a verdict mismatch
_TYPED_VALID_SQL = r"""(
  length(name) BETWEEN 3 AND 12
  AND age BETWEEN 0 AND 150
  AND status IN ('active', 'inactive', 'banned')
  AND regexp_full_match(email, '[a-z][a-z0-9]*@[a-z]+\.[a-z]{2,3}')
  AND flag IS NOT NULL
  AND len(list_filter(map_values(tags), v -> v < 0)) = 0
  AND pair.weight >= 1
  AND len(codes) >= 1
  AND len(list_filter(codes, c -> NOT regexp_full_match(c, 'c-\d{3}'))) = 0
  AND TRY_CAST(raw_num AS BIGINT) IS NOT NULL
  AND TRY_CAST(raw_num AS BIGINT) >= 0
  AND (regexp_full_match(maybe_num, '\d+') OR maybe_num = 'N/A')
  AND level BETWEEN 1 AND 5
)"""


def q_typed_matrix_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row verdict + first-violation (path, constraint, MESSAGE) over
    the typed-matrix table — every M2 validator family in one lowered
    plan. The message column is byte-exact for every property-level
    violation class and masked to NULL for object.required (path = ''),
    whose full-row-repr message is gated separately on a narrow frame by
    typed_required_missing. (Absorbs the former typed_matrix_messages
    gate so the driver's 50-query sample covers the whole surface.)"""
    from .sources.typed import typed_schema

    report = _typed_engine().check(_typed(spark))
    first = F.try_element_at("_violations", F.lit(1))
    return report.annotated.select(
        "rec_id",
        F.col("_valid").alias("valid"),
        first.getField("path").alias("path"),
        first.getField("constraint").alias("constraint"),
        F.when(
            first.getField("path") != "", first.getField("message")
        ).alias("message"),
    )


def _oracle_typed_matrix_verdicts() -> str:
    path_case = "CASE cls %s END" % " ".join(
        "WHEN %d THEN '%s'" % (c, _sq(path)) for c, path, _, _ in _typed_expected()
    )
    con_case = "CASE cls %s END" % " ".join(
        "WHEN %d THEN '%s'" % (c, _sq(con)) for c, _, con, _ in _typed_expected()
    )
    msg_case = "CASE cls %s END" % " ".join(
        "WHEN %d THEN '%s'" % (c, _sq(msg))
        for c, _, _, msg in _typed_expected()
        if msg is not None
    )
    return _typed_cte() + f"""
SELECT rec_id,
  {_TYPED_VALID_SQL} AS valid,
  {path_case} AS path,
  {con_case} AS "constraint",
  {msg_case} AS message
FROM typed
"""


def q_typed_required_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object.required message gate on a narrow (id, flag) frame, where
    the reference's full-row-repr message is SQL-reproducible: NULL struct
    fields are absent properties, so the repr shows only {'id': ...}."""
    df = _typed(spark).select(F.col("rec_id").alias("id"), "flag")
    report = ValidationEngine(
        {"+id": "string", "+flag": "boolean"}, id_col="id"
    ).check(df)
    first = F.try_element_at("_violations", F.lit(1))
    return (
        report.annotated.filter(~F.col("_valid"))
        .select(
            "id",
            first.getField("constraint").alias("constraint"),
            first.getField("message").alias("message"),
        )
        .orderBy("id")
    )


ORACLE_TYPED_REQUIRED_MISSING = (
    _typed_cte()
    + """
SELECT rec_id AS id,
  'object.required' AS "constraint",
  'Invalid value {''id'': ''' || rec_id
    || '''} (dict): missing required properties: [''flag'']' AS message
FROM typed WHERE cls = 7 ORDER BY id
"""
)


def q_typed_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapted outputs on valid rows: Nullable default fill (nick ->
    'anon'), ChainOf(AdaptTo(int)) coercion (raw_num string -> long),
    AnyOf first-match passthrough (maybe_num)."""
    from .sources.typed import typed_schema

    report = _typed_engine().check(_typed(spark), adapt=True)
    adapted = report.adapted()
    return adapted.select(
        "rec_id",
        "nick",
        F.col("raw_num").cast("long").alias("raw_num"),
        "maybe_num",
        "level",
    ).orderBy("rec_id")


def _oracle_typed_adapted() -> str:
    return _typed_cte() + f"""
SELECT rec_id,
  coalesce(nick, 'anon') AS nick,
  CAST(raw_num AS BIGINT) AS raw_num,
  maybe_num,
  level
FROM typed WHERE {_TYPED_VALID_SQL}
ORDER BY rec_id
"""


def q_open_extras_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema extras (SURVEY §1.2): dynamically-keyed extra
    properties live in the _extras MapType side channel; the Object's
    additional-property schema (Range >= 0) validates each ENTRY. The
    oracle recomputes validity from the rebuilt map values."""
    from . import core as V

    n = 2000
    df = spark.range(n).select(
        F.format_string("x-%06d", F.col("id")).alias("id"),
        F.when(
            F.col("id") % 13 == 0,
            F.create_map(F.lit("bad"), F.lit(-2).cast("long")),
        )
        .when(
            F.col("id") % 3 == 0,
            F.create_map(
                F.lit("a"), (F.col("id") % 7).cast("long"),
                F.lit("b"), F.lit(1).cast("long"),
            ),
        )
        .otherwise(
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<long>")
            )
        )
        .alias("_extras"),
    )
    schema = V.Object(
        required={"id": V.Pattern(r"x-\d{6}$")},
        additional=V.Range("integer", min_value=0),
    )
    report = ValidationEngine(schema, id_col="id").check(df)
    first = F.try_element_at("_violations", F.lit(1))
    return report.annotated.select(
        "id",
        F.col("_valid").alias("valid"),
        first.getField("path").alias("path"),
        first.getField("constraint").alias("constraint"),
    )


ORACLE_OPEN_EXTRAS_VERDICTS = """
WITH t AS (
  SELECT format('x-{:06d}', i) AS id,
    CASE WHEN i % 13 = 0 THEN MAP {'bad': -2}
         WHEN i % 3 = 0 THEN MAP {'a': i % 7, 'b': 1}
         ELSE MAP {} END AS extras
  FROM range(2000) r(i)
)
SELECT id,
  len(list_filter(map_values(extras), v -> v < 0)) = 0 AS valid,
  CASE WHEN len(list_filter(map_values(extras), v -> v < 0)) > 0
       THEN 'bad' END AS path,
  CASE WHEN len(list_filter(map_values(extras), v -> v < 0)) > 0
       THEN 'range.min' END AS "constraint"
FROM t
"""


QUERIES["open_extras_verdicts"] = q_open_extras_verdicts
ORACLES["open_extras_verdicts"] = ORACLE_OPEN_EXTRAS_VERDICTS

QUERIES["typed_matrix_verdicts"] = q_typed_matrix_verdicts
QUERIES["typed_required_missing"] = q_typed_required_missing
QUERIES["typed_adapted"] = q_typed_adapted
ORACLES["typed_matrix_verdicts"] = _oracle_typed_matrix_verdicts()
ORACLES["typed_required_missing"] = ORACLE_TYPED_REQUIRED_MISSING
ORACLES["typed_adapted"] = _oracle_typed_adapted()


# ---------------------------------------------------------------------------
# PSI drift (fixed-bucket population stability index — exact oracle)
# ---------------------------------------------------------------------------

_PSI_BREAKS = [100, 150, 200, 250, 300, 350, 400, 450, 500]


def q_psi_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the even/odd doc_id halves of documents.n_chars over
    fixed breaks (operators/drift.py::psi_drift). The psi term is emitted
    as round(term * 1e8) BIGINT: the shares and their difference are
    IEEE-identical in both engines, and the integer rounding absorbs the
    last-ulp divergence ln() is allowed across libms."""
    from .operators import psi_drift

    docs = load_table(spark, "documents", sf_dir)
    out = psi_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        _PSI_BREAKS,
    )
    return out.select(
        "bucket",
        "n_a",
        "n_b",
        F.round(F.col("psi_term") * F.lit(1e8)).cast("long").alias("psi_e8"),
    ).orderBy("bucket")


_PSI_BUCKET_SQL = " + ".join(
    f"CAST(n_chars > {c} AS INT)" for c in _PSI_BREAKS
)

ORACLE_PSI_DRIFT_DOCUMENTS = f"""
WITH a AS (
  SELECT ({_PSI_BUCKET_SQL}) AS bucket, count(*) AS n_a
  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1
), b AS (
  SELECT ({_PSI_BUCKET_SQL}) AS bucket, count(*) AS n_b
  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1
), buckets AS (
  SELECT CAST(range AS INT) AS bucket FROM range({len(_PSI_BREAKS) + 1})
), j AS (
  SELECT bucket, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM buckets LEFT JOIN a USING (bucket) LEFT JOIN b USING (bucket)
), shares AS (
  SELECT bucket, n_a, n_b,
    greatest(CAST(n_a AS DOUBLE) / CAST(SUM(n_a) OVER () AS DOUBLE), 1e-6) AS pa,
    greatest(CAST(n_b AS DOUBLE) / CAST(SUM(n_b) OVER () AS DOUBLE), 1e-6) AS pb
  FROM j
)
SELECT bucket, n_a, n_b,
  CAST(round(((pa - pb) * ln(pa / pb)) * 1e8) AS BIGINT) AS psi_e8
FROM shares ORDER BY bucket
"""

QUERIES["psi_drift_documents"] = q_psi_drift_documents
ORACLES["psi_drift_documents"] = ORACLE_PSI_DRIFT_DOCUMENTS


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters (bound-style oracle, like approx_distinct)
# ---------------------------------------------------------------------------

def q_cms_event_type_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates for every distinct events.event_type vs exact
    counts (operators/stats.py::count_min_table). The sketch NEVER
    underestimates (deterministic), and with depth 5 overestimates by
    more than (e/width)·N with probability < e^-5 — with the fixed seeds
    and deterministic test data the bound either holds or it does not,
    so the booleans are a stable oracle (same pattern as
    approx_distinct_bound)."""
    import math

    from pyspark.sql import Window

    from .operators import count_min_estimates, count_min_table

    depth, width = 5, 2048
    events = load_table(spark, "events", sf_dir)
    cms = count_min_table(events, "event_type", depth=depth, width=width)
    exact = (
        events.filter(F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("value"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    est = count_min_estimates(
        cms,
        exact.select(F.col("value").alias("event_type")),
        "event_type",
        depth=depth,
        width=width,
    )
    total = F.sum("exact_n").over(Window.partitionBy())
    slack = F.ceil(total * F.lit(math.e / width))
    return (
        exact.join(est, "value")
        .select(
            "value",
            "exact_n",
            (F.col("est") >= F.col("exact_n")).alias("never_under"),
            (F.col("est") <= F.col("exact_n") + slack).alias("within_eps"),
        )
        .orderBy("value")
    )


ORACLE_CMS_EVENT_TYPE_BOUND = """
SELECT event_type AS value, count(*) AS exact_n,
       TRUE AS never_under, TRUE AS within_eps
FROM events WHERE event_type IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

QUERIES["cms_event_type_bound"] = q_cms_event_type_bound
ORACLES["cms_event_type_bound"] = ORACLE_CMS_EVENT_TYPE_BOUND
