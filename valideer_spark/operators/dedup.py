"""Deduplication operators for large-scale training-data pipelines.

All hot paths are pure Spark Column expressions / joins — no Python UDFs:

* :func:`exact_duplicates` — hash-groupBy on a normalized content key.
* :func:`ngram_jaccard_pairs` — EXACT n-gram Jaccard via a shingle
  inverted index (explode → self-join → count), integer-arithmetic
  threshold test (no float compare). Quadratic only within shingle
  buckets; at 100 TB you run it after MinHash candidate generation.
* :func:`minhash_signatures` / :func:`minhash_lsh_candidates` — MinHash
  (k universal hash functions over xxhash64 shingle hashes, deterministic
  seeded coefficients) + banded LSH bucketing; candidate pairs come from a
  band-bucket self-join (shuffle on band hash, AQE handles bucket skew).
* :func:`simhash` — 64-bit SimHash over token hashes with bitwise
  aggregate expressions; near-dups = equal simhash (or equal rotated
  bands for hamming ≤ b).

Scale notes: every operator keys its shuffle on a hash value with near-
uniform distribution; LSH bucket joins explode only within-bucket pairs
(bucket size is bounded w.h.p.). Exact post-verification of candidates is
linear in candidate count.
"""

from __future__ import annotations

import random
from typing import List, Literal, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime for universal hashing (fits in signed 64-bit arithmetic
# after the modulo; products use Spark's 64-bit ops on 31-bit coefficients)
_P = (1 << 31) - 1


def _hash_coefficients(k: int, seed: int = 42) -> List[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed, lowercased content key for exact dedup."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_sample_ids: int = 100,
) -> DataFrame:
    """Groups of exact (normalized) duplicates → (content_key, n_docs,
    doc_ids). Group key is the 64-bit content hash, so the shuffle moves
    only (hash, id) pairs, never the text.

    ``doc_ids`` is capped at ``max_sample_ids`` per group: a degenerate
    corpus (every doc normalizing equal, e.g. all-empty texts) would
    otherwise put every id into one unbounded reducer row; ``n_docs``
    always carries the full count."""
    keyed = df.select(
        F.xxhash64(normalized_text(F.col(text_col))).alias("content_key"),
        F.col(id_col).alias("doc_id"),
    )
    return (
        keyed.groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.slice(
                F.sort_array(F.collect_list("doc_id")), 1, max_sample_ids
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def shingle_hash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    out_col: str = "sh",
) -> DataFrame:
    """(id, ``out_col``: array<long>) — DISTINCT n-gram shingle hashes,
    built WITHOUT materializing shingle strings: tokens are xxhash64'd
    once into a staged column, then each shingle's hash is the fold
    xxhash64(…xxhash64(h_i, h_{i+1})…, h_{i+n-1}) over n aligned slices
    (zip_with — pure 64-bit math, no strings; the lambda is interpreted,
    ``CodegenFallback``).

    Set-equivalent to hashing the distinct n-word shingle strings
    (collisions aside, negligible at 64 bits): per-doc distinct-set
    CARDINALITY was verified equal on 500k real docs, and identical text
    still yields identical hash sets, which is all Jaccard/MinHash
    semantics need.
    The hash VALUES differ from xxhash64(shingle-string) — they are
    engine-internal either way. Measured 19x faster than the string
    path (BENCH.md round 4): string shingling was ~50% of MinHash
    end-to-end cost, so this is the single biggest dedup scale lever.

    Two-step staging is load-bearing: the token-hash array must be a
    real column before the slices reference it — Spark does no CSE
    across array-lambda boundaries, so an inline expression would
    re-tokenize and re-hash per slice (measured 3x SLOWER than even the
    string path)."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
    )
    return staged.select(
        "id", F.array_distinct(_gram_hashes(F.col("_th"), n)).alias(out_col)
    )


def _token_hashes(text_col: str) -> Column:
    """xxhash64 per normalized token — the staging column every
    hash-combined gram operator starts from."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    return F.transform(toks, lambda t: F.xxhash64(t))


def _gram_hashes(th: Column, n: int) -> Column:
    """ORDERED (positional, non-distinct) n-gram hashes over a staged
    token-hash array: element i is the fold
    xxhash64(…xxhash64(h_i, h_{i+1})…, h_{i+n-1}) via n aligned slices
    (zip_with — no strings; interpreted, ``CodegenFallback``). ``th`` MUST
    be a real column, not an inline expression (see
    :func:`shingle_hash_frame`).
    Empty-safe: fewer than n tokens → empty array."""
    ln = F.greatest(F.size(th) - F.lit(n - 1), F.lit(0))
    comb = F.slice(th, F.lit(1), ln)
    for j in range(1, n):
        comb = F.zip_with(
            comb,
            F.slice(th, F.lit(j + 1), ln),
            lambda x, y: F.xxhash64(x, y),
        )
    return comb


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_shingle_df: int = 10000,
) -> DataFrame:
    """Exact pairs with Jaccard(shingles) >= threshold_num/threshold_den,
    computed over NON-STOP shingles only.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle hash, count common shingles per pair, compare with integer
    cross-multiplication (common * den >= num * (|A| + |B| - common)).
    Output: (a_id, b_id, n_common, n_a, n_b) with a_id < b_id.

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cap BEFORE the self-join (from both the inverted index and the set
    sizes, so Jaccard stays a well-defined set similarity over the kept
    shingles). Without the cap one stop-shingle ("of the ...") appearing
    in df documents produces O(df^2) join rows — quadratic in the hottest
    bucket; with it, every join bucket is <= max_shingle_df rows by
    construction. At 100 TB run this after MinHash candidate generation
    (:func:`jaccard_verify_candidates`) rather than as a raw self-join.
    """
    base = shingle_hash_frame(df, text_col, id_col, n).filter(F.size("sh") > 0)
    inv = base.select("id", F.explode("sh").alias("sid"))
    # shingles are distinct per doc, so count(*) per sid IS the document
    # frequency; the df filter shuffles on the same key as the self-join
    # below (Catalyst/AQE reuses the exchange)
    dfreq = inv.groupBy("sid").agg(F.count(F.lit(1)).alias("_df"))
    kept = inv.join(dfreq.filter(F.col("_df") <= max_shingle_df), "sid").select(
        "id", "sid"
    )
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(b, (F.col("a.sid") == F.col("b.sid")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("n_b"))
    joined = common.join(sa, "a_id").join(sb, "b_id")
    return joined.filter(
        F.col("n_common") * threshold_den
        >= threshold_num * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    ).select("a_id", "b_id", "n_common", "n_a", "n_b")


def jaccard_verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    prune: Union[bool, Literal["auto"]] = "auto",
) -> DataFrame:
    """Exact-Jaccard verification of a candidate-pair table (a_id, b_id)
    — the 100 TB-scale path: candidate generation via
    :func:`minhash_lsh_candidates` (bounded LSH buckets), then this linear
    pass joins each side's shingle set in and intersects per pair.

    Cost is O(|candidates| * avg shingle count): no self-join, no
    quadratic bucket risk. Output matches :func:`ngram_jaccard_pairs`.

    ``prune`` left-semi-joins the shingle frame down to ids the candidate
    table actually touches before the two pair joins: the heavy array-row
    sort/shuffle feeding each pair join shrinks to the touched fraction,
    for the price of two cheap id-only shuffles (the touched-id distinct
    + the semi-join of id-hash rows). The catch (round 6, confirming the
    round-5 advisor): the prune references the candidates plan a THIRD
    time (touched-id distinct, plus once per pair join), so with an
    UNPERSISTED candidates input the whole LSH candidate stage re-executes
    per reference — measured same-JVM at 1.1M docs / sparse coverage,
    local[32]: prune=True 95s vs prune=False 28s (3.4x PESSIMIZATION; the
    executed plan carries 6 copies of the candidate aggregation subtree —
    exchange reuse does not collapse them). With a PERSISTED candidates
    table the round-5 numbers stand: 1.26x win at 18% coverage, 1.02x at
    100%. Hence ``prune="auto"`` (default): enabled iff ``candidates``
    is itself a cached DataFrame (a frame derived from a cached parent
    reads as uncached, so pass ``True`` for it); pass ``True``/``False``
    to override.
    Output is identical either way (pytest-asserted), including
    candidates whose ids carry no shingles.
    """
    if prune == "auto":
        prune = candidates.is_cached
    sh = shingle_hash_frame(df, text_col, id_col, n).filter(F.size("sh") > 0)
    cand = candidates.select("a_id", "b_id")
    if prune:
        touched = (
            cand.select(F.col("a_id").alias("id"))
            .union(cand.select(F.col("b_id").alias("id")))
            .distinct()
        )
        sh = sh.join(touched, "id", "left_semi")
    joined = (
        cand.join(sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a")), "a_id")
        .join(sh.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = joined.select(
        "a_id",
        "b_id",
        n_common.alias("n_common"),
        F.size("sh_a").alias("n_a"),
        F.size("sh_b").alias("n_b"),
    )
    return scored.filter(
        F.col("n_common") * threshold_den
        >= threshold_num * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) — elementwise-min of k universal hashes
    over the shingle xxhash64 values, all inside Column expressions."""
    coeffs = _hash_coefficients(num_hashes, seed)
    # stage the shingle hashes into a real column first: referencing the
    # expression k times would re-tokenize and re-hash the text k times
    # (no CSE across array-lambda boundaries). Shingle hashes come from
    # the string-free hash-combine path (shingle_hash_frame) — 19x
    # faster than building shingle strings (BENCH.md round 4)
    staged = (
        shingle_hash_frame(df, text_col, id_col, shingle_n, out_col="_sh")
        .select(
            "id",
            F.transform(
                F.col("_sh"), lambda h: F.pmod(h, F.lit(_P))
            ).alias("_hashes"),
        )
        .filter(F.size("_hashes") > 0)
    )

    def universal(a: int, b: int):
        # closure factory: a default-arg lambda would change the lambda's
        # arity as seen by Spark's higher-order-function binder
        return lambda h: F.pmod(a * h + b, F.lit(_P))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_hashes"), universal(a, b))).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return staged.select("id", sig.alias("signature"))


#: OPH packing: signature slot value lives in the low 48 bits, the bin
#: index in the bits above — bin*2^48 + val < 2^54 for k <= 64... (any k
#: up to 2^15 stays ANSI-safe). 48-bit minhash values keep per-slot
#: collision probability at 2^-48, negligible against LSH band math.
_OPH_SHIFT = 48
_OPH_MASK = (1 << _OPH_SHIFT) - 1


def minhash_signatures_oph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) — One-Permutation Hashing MinHash with
    rotation densification (Shrivastava & Li, ICML 2014): instead of k
    independent universal hashes (O(n*k) per doc, :func:`minhash_
    signatures`), ONE pass assigns each shingle hash to one of k bins
    and keeps the per-bin minimum; empty bins borrow the next non-empty
    bin's slot value (circular, "densified OPH"), so the signature stays
    banding-compatible — identical shingle sets give identical
    signatures, and per-slot agreement between two docs estimates their
    Jaccard exactly as k-hash MinHash does.

    Cost per doc: O(n) bin/value hashing + one O((n+k) log(n+k)) long
    sort + O(n+k) firsts-per-bin fold + O(k) densify — versus O(n*k)
    lambda evaluations for the universal-hash form. The crossover is
    document LENGTH: at ~60-word bench docs the sort overhead roughly
    cancels the saving, at 400+ words (real training-data documents)
    OPH wins multiples (BENCH.md round 5). Opt-in via
    ``minhash_lsh_candidates(..., method='oph')``.

    Implementation notes (all pure long math, no structs):
    * each shingle hash h maps to ``pack = bin*2^48 + val`` with
      bin = pmod(xxhash64(h, seed), k) and val = pmod(xxhash64(h,
      seed+1), 2^48) — independent mixes, pack < 2^63 under ANSI.
    * one ``array_sort`` orders packs by (bin, val); k sentinel packs
      (bin*2^48 + 2^48-1) guarantee every bin appears, so the
      firsts-per-bin fold is branch-light: a pack starts a new bin iff
      shiftright(pack, 48) == size(acc).
    * densification is a reverse fold carrying the last real slot
      value (sentinel low bits == 2^48-1 ⇒ empty), wrap-initialized
      with the first real slot. Borrowed slots keep their SOURCE bin in
      the high bits — a deterministic function of the shingle set, so
      band keys stay consistent across docs.
    * a real slot value of exactly 2^48-1 is indistinguishable from a
      sentinel (probability 2^-48 per slot) and would densify as if
      empty — deterministic per shingle set, so signatures stay
      well-defined; the recall effect is unmeasurable.
    """
    k = num_hashes
    staged = shingle_hash_frame(df, text_col, id_col, shingle_n, out_col="_sh")
    packed = staged.filter(F.size("_sh") > 0).select(
        "id",
        F.array_sort(
            F.concat(
                F.transform(
                    F.col("_sh"),
                    lambda h: F.pmod(F.xxhash64(h, F.lit(seed)), F.lit(k))
                    * F.lit(1 << _OPH_SHIFT)
                    + F.pmod(
                        F.xxhash64(h, F.lit(seed + 1)), F.lit(1 << _OPH_SHIFT)
                    ),
                ),
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda i: i.cast("long") * F.lit(1 << _OPH_SHIFT)
                    + F.lit(_OPH_MASK),
                ),
            )
        ).alias("_pk"),
    )
    # firsts-per-bin: sentinels guarantee bins appear as 0,1,...,k-1, so
    # the next NEW bin index is always size(acc)
    folded = packed.select(
        "id",
        F.aggregate(
            F.col("_pk"),
            F.array().cast("array<long>"),
            lambda acc, x: F.when(
                F.shiftright(x, _OPH_SHIFT) == F.size(acc),
                F.concat(acc, F.array(x)),
            ).otherwise(acc),
        ).alias("_fv"),
    )
    fv = F.col("_fv")
    is_real = lambda x: x.bitwiseAND(F.lit(_OPH_MASK)) != F.lit(_OPH_MASK)  # noqa: E731
    wrap = F.element_at(F.filter(fv, is_real), 1)
    sig = F.reverse(
        F.aggregate(
            F.reverse(fv),
            F.struct(
                wrap.alias("carry"), F.array().cast("array<long>").alias("out")
            ),
            lambda acc, x: F.struct(
                F.when(is_real(x), x).otherwise(acc["carry"]).alias("carry"),
                F.concat(
                    acc["out"],
                    F.array(F.when(is_real(x), x).otherwise(acc["carry"])),
                ).alias("out"),
            ),
            lambda acc: acc["out"],
        )
    )
    return folded.select("id", sig.alias("signature"))


# Documented (num_hashes, bands) presets for banded MinHash LSH. The
# per-pair catch probability at shingle-Jaccard s is
# 1 - (1 - s^r)^b with r = num_hashes // bands rows per band:
#
#   preset           k    b   r   P(catch) s=1.0  s=0.6   s=0.5   s=0.3
#   exact-dup        32   16  2   1.0            .998    .986    .78
#   near-dup-0.5     64   32  2   1.0            1-3e-7  1-1e-4  .95
#   strict-0.5       128  64  2   1.0            ~1      1-1e-8  .998
#   cheap-0.8        32   8   4   1.0            .71     .41     .06
#
# COST (measured, BENCH.md round 4, 1M real docs / 52 shingles avg,
# local[32], forced evaluation): with the string-free
# shingle_hash_frame staging, signatures cost 17.8s at k=64 and 11.1s
# at k=32 (1.6x) — num_hashes is a real lever, so pick the cheapest
# preset whose recall clears the target threshold. (The pre-r4 string
# staging cost ~81s REGARDLESS of k — string shingling dominated; that
# floor is gone.)
#
# "exact-dup" (seeded-duplicate removal, s=1) needs only structural
# recall — identical sets give identical signatures at ANY k, so the
# smallest k works with zero recall loss; the gate corpus proves it
# (jaccard_pairs_documents runs both presets). "strict-0.5" is for
# corpora where missing a borderline s=0.5 pair matters; r=2 keeps
# per-band selectivity high enough that candidate volume stays
# near-linear (r=1 would flood verification with s~0.1 pairs).
MINHASH_PRESETS = {
    "exact-dup": {"num_hashes": 32, "bands": 16},
    "near-dup-0.5": {"num_hashes": 64, "bands": 32},
    "strict-0.5": {"num_hashes": 128, "bands": 64},
    "cheap-0.8": {"num_hashes": 32, "bands": 8},
}


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket: Optional[int] = None,
    method: str = "universal",
) -> DataFrame:
    """Near-duplicate candidate pairs (a_id, b_id, n_bands_hit) via banded
    MinHash LSH: docs agreeing on any full band land in one bucket.
    See :data:`MINHASH_PRESETS` for measured (num_hashes, bands) presets
    and their recall curves.

    ``method``: ``'universal'`` (default) = k independent universal
    hashes (:func:`minhash_signatures`); ``'oph'`` = one-permutation
    hashing with rotation densification
    (:func:`minhash_signatures_oph`) — same banding downstream, cheaper
    signatures on LONG documents (cost O(n) vs O(n*k) in doc length).

    ``max_bucket`` is the skew guard for pathological corpora (a boiler-
    plate cluster of k near-identical docs makes EVERY one of its band
    buckets k members wide — the all-pairs self-join then emits O(k^2)
    rows per band, the one quadratic blow-up in the pipeline). Buckets
    wider than the cap switch from all-pairs to STAR linking: each
    member pairs with the bucket's minimum id only, emitting k-1 edges
    instead of k(k-1)/2 while keeping every member reachable from the
    representative — duplicate CLUSTERS (connected components) are
    preserved exactly, which is what dedup consumes; only redundant
    intra-cluster pairs are dropped. Buckets within the cap keep exact
    all-pairs semantics, so well-behaved corpora are byte-identical
    with or without the guard. Per-task work is then bounded by
    ``max_bucket`` ids per bucket by construction.

    Plan shape (round 5): ONE shuffle for candidate generation — the
    (id, bucket) explode is hash-aggregated into a sorted per-bucket id
    list (``collect_list``, partial merge map-side) and pairs are
    expanded INSIDE the row with array expressions. The previous
    formulation self-joined the exploded frame on ``bucket`` (a
    sort-merge join: two 16n-row sorts plus, under ``max_bucket``, an
    extra stats aggregation and a second join) — measured 1.54x slower
    e2e at 1.1M docs and 1.57x at 5.5M than the single-aggregation form
    (BENCH.md round 5). Output is identical: per-bucket pair SETS are
    order-free, and the final (a_id, b_id) count aggregation fixes
    row order downstream either way."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if method == "universal":
        sig_fn = minhash_signatures
    elif method == "oph":
        sig_fn = minhash_signatures_oph
    else:
        raise ValueError(
            "method must be 'universal' or 'oph', got %r" % (method,)
        )
    sigs = sig_fn(df, text_col, id_col, num_hashes, shingle_n, seed)
    # band key = variadic xxhash64 over (band index, the band's signature
    # values) — no string rendering (the old cast+array_join form paid
    # the same string-allocation tax shingle_hash_frame eliminated).
    # element_at(signature, j) references collapse onto the individual
    # min expressions (SimplifyExtractValueOps), so each of the
    # num_hashes mins is still computed exactly once.
    band_cols = F.array(
        *[
            F.xxhash64(
                F.lit(i),
                *[
                    F.element_at("signature", i * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ],
            )
            for i in range(bands)
        ]
    )
    buckets = sigs.select("id", F.explode(band_cols).alias("bucket"))

    def expand_all_pairs(grouped: DataFrame) -> DataFrame:
        # _ids is a REAL column (referenced by several array lambdas —
        # no CSE across array-lambda boundaries, see shingle_hash_frame);
        # sorted ascending so every expanded pair satisfies a_id <= b_id.
        # all-pairs: element i with every later element (slice clamps at
        # the array end, so the over-long length bound is safe)
        ids = F.col("_ids")
        m = F.size(ids)
        all_pairs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + F.lit(2), m),
                    lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
                ),
            )
        )
        return grouped.select(F.explode(all_pairs).alias("_p")).select(
            F.col("_p.a_id").alias("a_id"), F.col("_p.b_id").alias("b_id")
        )

    if max_bucket is None:
        grouped = buckets.groupBy("bucket").agg(
            F.array_sort(F.collect_list("id")).alias("_ids")
        )
        pairs = expand_all_pairs(grouped)
    else:
        # Bounded skew guard (round 6). The round-5 form collected EVERY
        # bucket's ids into one aggregation row and only then CASE-switched
        # wide buckets to star edges — pair EXPANSION was capped, but the
        # collect_list row itself was not: a degenerate mega-cluster
        # (10^7-10^8 identical docs; empty pages and boilerplate reach that
        # at web scale) builds a 40-800 MB single aggregation row per band
        # before the cap applies. Now a whole-partition window over
        # ``bucket`` tags every raw (id, bucket) row with the bucket's
        # (count, min id) — ONE exchange, same key as before; WindowExec
        # buffers one bucket group at a time in a SPILLABLE row buffer, so
        # task memory stays flat no matter how degenerate the cluster —
        # and the rows route by size:
        #   * under-cap rows keep the collect_list + in-row expansion path
        #     (reusing the window's partitioning — no second exchange),
        #     where the aggregation row is <= max_bucket ids by
        #     construction;
        #   * over-cap rows NEVER aggregate — star edges (bucket min id,
        #     member id) are emitted row-wise and flow straight into the
        #     final pair-count aggregation.
        # Signatures are still computed exactly once. Pair SETS are
        # identical to the round-5 form: its star branch emitted
        # (element 1 = min id, each later element) from the sorted array,
        # which is exactly (min_id, id) per raw row with the a_id != b_id
        # filter dropping the representative's own row.
        from pyspark.sql import Window

        w = Window.partitionBy("bucket")
        tagged = buckets.select(
            "id",
            "bucket",
            F.count(F.lit(1)).over(w).alias("_m"),
            F.min("id").over(w).alias("_min_id"),
        )
        cold = tagged.filter(F.col("_m") <= max_bucket).select("id", "bucket")
        grouped = cold.groupBy("bucket").agg(
            F.array_sort(F.collect_list("id")).alias("_ids")
        )
        hot_pairs = tagged.filter(F.col("_m") > max_bucket).select(
            F.col("_min_id").alias("a_id"), F.col("id").alias("b_id")
        )
        pairs = expand_all_pairs(grouped).unionAll(hot_pairs)
    # drop degenerate self-pairs from equal ids in one bucket (only
    # possible via a cross-band band-key hash collision on one doc);
    # the old join's strict a.id < b.id excluded the same rows
    pairs = pairs.filter(F.col("a_id") != F.col("b_id"))
    return pairs.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).alias("n_bands_hit")
    )


# SWAR capacity: the 16-bit lanes themselves hold counts to 65535, but
# the PACKED long must stay below 2^63 under ANSI arithmetic — the top
# lane sits at place 2^48, so n * 0x0001000100010001 < 2^63 caps n at
# 32766. 32000 for margin; longer docs fingerprint their 32000-token prefix.
_SWAR_MAX_TOKENS = 32000


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash long): fingerprint bit j is set iff more than half of
    the token hashes have bit j set (the classic sign-of-tally rule —
    ``2*ones_j > n_tokens`` ⟺ ``sum(±1) > 0``; for docs within
    ``_SWAR_MAX_TOKENS`` identical outputs to the pre-r4 vector
    formulation, asserted bit-equal on 1M docs — docs beyond the cap
    fingerprint their prefix, a deliberate behavior change from the
    pre-r4 full-length tally).

    SWAR formulation (round 4, ~2.4x at 1M docs): instead of building a
    ``bits``-wide ±1 vector per token (~2*bits interpreted ops/token),
    count per-bit ones in 16 packed lane accumulators — accumulator k
    holds the 16-bit counts of bits k, k+16, k+32, k+48 (3 ops per token
    per accumulator). One ``aggregate`` pass over the staged token-hash
    array, no shuffle, no Python.

    Docs longer than ``_SWAR_MAX_TOKENS`` (the signed-long-safe packed
    capacity, 32000) are fingerprinted on their first 32000 tokens —
    deterministic prefix semantics, documented rather than special-cased:
    SimHash is a similarity ESTIMATOR, a 32k-token prefix is a better
    estimate than most corpora need, and keeping the old full-length
    vector path in the same plan doubled the expression tree and with it
    every caller's plan-compile time.
    """
    tokens = F.split(normalized_text(F.col(text_col)), " ")
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens, lambda t: F.xxhash64(t)).alias("_h"),
    )

    lane_mask = 0x0001000100010001

    def lane(k: int):
        # closure factory: a default-arg lambda would change the lambda's
        # arity as seen by Spark's higher-order-function binder
        return lambda a, x: a + F.shiftrightunsigned(x, k).bitwiseAND(
            F.lit(lane_mask)
        )

    # the packed accumulators must never see more than the signed-safe
    # token count — longer inputs would overflow 64-bit addition during
    # accumulation. The CASE keeps the common path copy-free; the slice
    # only evaluates for huge rows.
    swar_h = F.when(
        F.size("_h") > _SWAR_MAX_TOKENS,
        F.slice("_h", F.lit(1), F.lit(_SWAR_MAX_TOKENS)),
    ).otherwise(F.col("_h"))
    accs = [F.aggregate(swar_h, F.lit(0).cast("long"), lane(k)) for k in range(16)]

    st2 = staged.select(
        "id",
        F.least(F.size("_h"), F.lit(_SWAR_MAX_TOKENS)).alias("_n"),
        *[accs[k].alias(f"_acc{k}") for k in range(16)],
    )
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        k, lane_i = j % 16, j // 16
        ones = F.shiftrightunsigned(F.col(f"_acc{k}"), 16 * lane_i).bitwiseAND(
            F.lit(0xFFFF)
        )
        # only bit 63 needs the negative-literal trick (1 << 63 overflows a
        # signed long); for bits < 64 the top bit value fits, and a negative
        # literal would sign-extend through bit 63 and smear the upper bits
        fingerprint = fingerprint.bitwiseOR(
            F.when(
                ones * 2 > F.col("_n"),
                F.lit(-(1 << 63) if j == 63 else (1 << j)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return st2.select("id", fingerprint.alias("simhash"))


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_sample_ids: int = 100,
) -> DataFrame:
    """Docs sharing an identical 64-bit SimHash (hamming-0 near-dups).

    ``ids`` is a capped sample (see :func:`exact_duplicates` on why an
    unbounded per-group ``collect_list`` is a scale hazard); ``n_docs``
    is the full count."""
    sh = simhash(df, text_col, id_col)
    return (
        sh.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.slice(F.sort_array(F.collect_list("id")), 1, max_sample_ids).alias(
                "ids"
            ),
        )
        .filter(F.col("n_docs") >= 2)
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: split the fingerprint into ``max_hamming + 1``
    bit-bands — any pair within the hamming budget must agree exactly on
    at least one band. Candidates come from a band-bucket self-join; the
    exact hamming distance (bit_count of xor) verifies each candidate.
    Shuffle key = (band index, band bits): near-uniform, no skew.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    sh = simhash(df, text_col, id_col, bits)

    def band(col: Column, i: int) -> Column:
        # logical right shift via shiftrightunsigned to avoid sign smear
        return F.shiftrightunsigned(col, i * band_bits).bitwiseAND(
            F.lit((1 << band_bits) - 1)
        )

    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        band(F.col("simhash"), i).alias("band_key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_idx", "b.band_key")

    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer et al.): per sliding window of ``window``
    consecutive k-gram hashes, keep the window minimum — a position-robust
    fingerprint set guaranteed to share hashes with any match of length
    >= window + kgram - 1. Output: (id, fingerprints array<long>).

    k-gram hashes come from the string-free hash-combine path
    (:func:`_gram_hashes`, positional — winnowing needs gram ORDER, so
    no distinct): the winnowing guarantee holds for any consistent gram
    hash, and the hash values are engine-internal."""
    staged = df.select(
        F.col(id_col).alias("id"), _token_hashes(text_col).alias("_th")
    ).select("id", _gram_hashes(F.col("_th"), kgram).alias("_h"))
    n_windows = F.size("_h") - (window - 1)
    window_mins = F.when(
        n_windows <= 0,
        F.when(F.size("_h") > 0, F.array(F.array_min("_h"))).otherwise(
            F.array().cast("array<long>")
        ),
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_windows - 1),
                lambda i: F.array_min(F.slice(F.col("_h"), i + 1, window)),
            )
        )
    )
    return staged.select("id", window_mins.alias("fingerprints"))
