"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — exact brute-force top-k against a query vector;
  the dot product is a JVM ``zip_with``/``aggregate`` fold (double
  precision, deterministic left-to-right order). The baseline and the
  recall oracle for the ANN path.
* :func:`lsh_band_keys` / :func:`ann_lsh_topk` — random-hyperplane LSH:
  sign-bit band keys of H deterministic hyperplanes; query probes its own
  bucket plus all 1-bit-flip neighbors (multiprobe), then scores exactly
  within candidates. At 10^12 vectors the bucket column becomes the
  table's partition key so a query touches H+1 partitions, not the table.
* :func:`cosine_self_join_topk` — k-NN join restricted to LSH buckets.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Deterministic double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query`` (ties broken by id).

    orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k
    then a k-row merge on the driver — no full sort, no full shuffle.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col), q).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(0.0, 1.0, (n_planes, dim))


def lsh_band_keys(vec: Column, planes: np.ndarray, n_bands: int) -> Column:
    """``array<long>`` of per-band sign-bit keys for banded hyperplane LSH.

    The planes matrix ships as ONE flat ``array<double>`` literal (plan
    size O(planes), not planes*dim scalar literals — at 768-dim the old
    per-scalar form bloated the plan by ~100 KB per operator). Band ``l``
    folds the sign bits of planes [l*b, (l+1)*b) MSB-first (acc*2 + bit);
    :func:`_query_band_keys` mirrors the fold driver-side.
    """
    n_planes, dim = planes.shape
    assert n_planes % n_bands == 0
    bits = n_planes // n_bands
    flat = F.lit([float(x) for x in planes.ravel()])

    def dot_plane(j: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(vec, i + 1).cast("double")
            * F.element_at(flat, j * dim + i + 1),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda l: F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(dot_plane(l * bits + i) >= 0, F.lit(1)).otherwise(F.lit(0)),
        ),
    )


def _query_band_keys(
    query: Sequence[float], planes: np.ndarray, n_bands: int
) -> List[int]:
    """Driver-side twin of :func:`lsh_band_keys` for a single query vector."""
    n_planes = planes.shape[0]
    bits = n_planes // n_bands
    signs = planes @ np.asarray(query, dtype=np.float64)
    keys = []
    for l in range(n_bands):
        key = 0
        for i in range(bits):
            key = key * 2 + (1 if signs[l * bits + i] >= 0 else 0)
        keys.append(key)
    return keys


def ann_lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k for one query via multi-table banded LSH.

    L = ``n_bands`` independent band tables of ``n_planes/n_bands`` sign
    bits each; a vector is a candidate if ANY of its band keys equals the
    query's key for that band (OR-amplification — recall grows with L,
    per-band selectivity stays 2^-bits). Candidates are scored exactly and
    top-k returned. At 10^12 vectors the (band, key) pair is the table's
    partition key, so a query touches L partitions, not the table.
    """
    query = [float(x) for x in query]
    planes = _hyperplanes(len(query), n_planes, seed)
    qkeys = _query_band_keys(query, planes, n_bands)

    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        lsh_band_keys(F.col(vec_col), planes, n_bands).alias("band_keys"),
    )
    hit = F.lit(False)
    for l, qk in enumerate(qkeys):
        hit = hit | (F.element_at("band_keys", l + 1) == F.lit(qk))
    q = F.array(*[F.lit(x) for x in query])
    candidates = keyed.filter(hit)
    return (
        candidates.select("id", cosine(F.col("vec"), q).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _infer_dim(src: DataFrame, vec_alias: str = "vec") -> int:
    """Probe the embedding dimensionality with a one-row job.

    Fallback only — ArrayType carries no length, so the dim cannot be read
    from the schema at plan time. Callers that know ``dim`` (they almost
    always do) should pass it and skip this extra Spark job."""
    return len(src.select(vec_alias).first()[vec_alias])


def cosine_self_join_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_bands: int = 4,
    max_bucket: int = 10000,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Per-vector approximate k nearest neighbors via banded LSH.

    Multi-table banding (like :func:`minhash_lsh_candidates`): a pair is a
    candidate when any band key matches. Buckets larger than
    ``max_bucket`` are dropped before the self-join — a single hot sign
    pattern (e.g. a dense near-zero cluster) would otherwise make the
    within-bucket join quadratic; with the cap, join work is bounded by
    n_buckets * max_bucket^2 regardless of skew. Candidates are
    de-duplicated across bands, then scored exactly.

    Pass ``dim`` (the embedding length) to avoid a one-row probe job.
    """
    from pyspark.sql.window import Window

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if dim is None:
        dim = _infer_dim(src)
    planes = _hyperplanes(dim, n_planes, seed)
    keyed = src.select(
        "id",
        "vec",
        F.posexplode(lsh_band_keys(F.col("vec"), planes, n_bands)).alias(
            "band_idx", "band_key"
        ),
    )
    counts = keyed.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("_n")
    )
    bounded = keyed.join(
        counts.filter(F.col("_n") <= max_bucket), ["band_idx", "band_key"]
    ).select("id", "band_idx", "band_key")
    lhs, rhs = bounded.alias("l"), bounded.alias("r")
    cand = (
        lhs.join(
            rhs,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )
    va = src.select(F.col("id").alias("a_id"), F.col("vec").alias("vec_a"))
    vb = src.select(F.col("id").alias("b_id"), F.col("vec").alias("vec_b"))
    scored = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id", "b_id", cosine(F.col("vec_a"), F.col("vec_b")).alias("score")
        )
    )
    # symmetrize so every vector ranks its neighbors
    sym = scored.unionAll(
        scored.select(
            F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"), "score"
        )
    ).select(F.col("a_id").alias("id"), F.col("b_id").alias("neighbor"), "score")
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("neighbor"))
    return sym.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_bands: int = 4,
    max_bucket: int = 10000,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: banded-LSH candidates
    (bounded buckets, identical vectors are guaranteed candidates — equal
    keys in every band) verified by exact cosine >= threshold.

    Output (a_id, b_id) with a_id < b_id. The verification pass is linear
    in candidate count; recall for non-identical pairs follows the LSH
    amplification curve (tune bands/bits per corpus). Pass ``dim`` to
    avoid a one-row probe job."""
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if dim is None:
        dim = _infer_dim(src)
    planes = _hyperplanes(dim, n_planes, seed)
    keyed = src.select(
        "id",
        "vec",
        F.posexplode(lsh_band_keys(F.col("vec"), planes, n_bands)).alias(
            "band_idx", "band_key"
        ),
    )
    counts = keyed.groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("_n"))
    bounded = keyed.join(
        counts.filter(F.col("_n") <= max_bucket), ["band_idx", "band_key"]
    ).select("id", "band_idx", "band_key")
    lhs, rhs = bounded.alias("l"), bounded.alias("r")
    cand = (
        lhs.join(
            rhs,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )
    va = src.select(F.col("id").alias("a_id"), F.col("vec").alias("vec_a"))
    vb = src.select(F.col("id").alias("b_id"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .filter(cosine(F.col("vec_a"), F.col("vec_b")) >= threshold)
        .select("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed lists
# ---------------------------------------------------------------------------

def _ivf_train_frame(
    assembled: DataFrame,
    sample_fraction: Optional[float],
    max_train_rows: Optional[int],
    seed: int,
) -> DataFrame:
    """Bounded training input for the IVF coarse quantizer.

    ``sample_fraction`` takes a uniform Bernoulli sample (distributed, no
    extra pass); ``max_train_rows`` then hard-caps the row count via
    ``limit`` (a global limit short-circuits the scan — Spark stops
    launching tasks once enough rows arrive, it does NOT read the table).
    Both may combine: sample first for spread, cap second for a bound."""
    train = assembled
    if sample_fraction is not None:
        train = train.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    if max_train_rows is not None:
        train = train.limit(int(max_train_rows))
    return train


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
    sample_fraction: Optional[float] = None,
    max_train_rows: Optional[int] = 100_000,
):
    """Build an IVF index: k-means coarse quantizer over the vectors, each
    vector assigned to its nearest centroid's inverted list.

    Returns (assigned DataFrame with a ``list_id`` column, centers list).
    The quantizer trains on a BOUNDED sample (``sample_fraction`` and/or
    ``max_train_rows``, default cap 100k rows) — k-means centroids
    converge on a sample; only the cheap single-pass ``transform``
    (nearest-centroid assignment) touches the full frame. At 10^12
    vectors: set ``sample_fraction`` so the expected sample is ~1-10M,
    assign in one distributed pass, and write the table partitioned by
    ``list_id`` so a query's probes become storage partition pruning
    (same layout trick as the checkpoint buckets). Centers are
    O(n_lists * dim) — driver-side by design. ``max_train_rows=None``
    with ``sample_fraction=None`` restores full-dataset training.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    assembled = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    train = _ivf_train_frame(assembled, sample_fraction, max_train_rows, seed)
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(train)
    assigned = (
        model.transform(assembled)
        .withColumnRenamed("prediction", "list_id")
        .select("id", "vec", "list_id")
    )
    return assigned, [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]


def ivf_topk(
    assigned: DataFrame,
    centers,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF: rank centroids by distance to the query
    (driver-side, O(n_lists * dim)), scan only the ``n_probe`` nearest
    inverted lists, score candidates exactly. Recall/cost dial is
    ``n_probe``; with a ``list_id``-partitioned layout the probed scan is
    partition-pruned."""
    q = np.asarray([float(x) for x in query], dtype=np.float64)
    dists = [float(np.linalg.norm(q - c)) for c in centers]
    probe = sorted(range(len(dists)), key=lambda i: dists[i])[:n_probe]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return (
        assigned.filter(F.col("list_id").isin(probe))
        .select("id", cosine(F.col("vec"), qcol).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
