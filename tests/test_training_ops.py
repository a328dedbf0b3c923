"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from valideer_spark.operators import (
    ann_lsh_topk,
    cosine_self_join_topk,
    cosine_topk,
    doc_fingerprint,
    exact_duplicates,
    extract_media_metadata,
    language_guess,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    simhash_duplicates,
    synth_media_payloads,
    text_stats,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3, "completely different content about spark query engines and plans"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5, "el gato y el perro en la casa de la abuela que es grande"),
    (6, "short"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(docs_df):
    groups = exact_duplicates(docs_df).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 4]


def test_ngram_jaccard_pairs(docs_df):
    pairs = {
        (r["a_id"], r["b_id"]): r
        for r in ngram_jaccard_pairs(docs_df, threshold_num=1, threshold_den=2).collect()
    }
    assert (1, 4) in pairs  # identical
    assert (1, 2) in pairs  # one word differs
    assert (1, 3) not in pairs
    r = pairs[(1, 4)]
    assert r["n_common"] == r["n_a"] == r["n_b"]


def test_minhash_identical_signatures(docs_df):
    sigs = {r["id"]: r["signature"] for r in minhash_signatures(docs_df).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]
    # near-identical docs share most minhash slots
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    assert agree > len(sigs[1]) * 0.5


def test_minhash_lsh_candidates(docs_df):
    cands = {
        (r["a_id"], r["b_id"]) for r in minhash_lsh_candidates(docs_df).collect()
    }
    assert (1, 4) in cands
    assert (1, 2) in cands
    assert (3, 5) not in cands


def test_simhash_duplicates(docs_df):
    groups = simhash_duplicates(docs_df).collect()
    assert any(g["ids"] == [1, 4] for g in groups)


def test_cosine_topk_and_ann(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(0, 1, (50, 8)).astype("float32")
    base[17] = base[3] * 0.9 + 0.01  # near-dup of row 3
    rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    query = [float(x) for x in base[3]]

    exact = [r["id"] for r in cosine_topk(df, query, k=5).collect()]
    assert exact[0] == 3 and 17 in exact[:2]

    approx = [
        r["id"]
        for r in ann_lsh_topk(df, query, k=5, n_planes=4, n_bands=2).collect()
    ]
    assert approx[0] == 3 and 17 in approx  # same band key w.h.p. (seeded)

    knn = cosine_self_join_topk(df, k=3, n_planes=4, n_bands=2)
    top_for_3 = [r["neighbor"] for r in knn.filter(F.col("id") == 3).collect()]
    assert 17 in top_for_3


def test_token_count_and_stats(docs_df):
    tc = {r["doc_id"]: r for r in token_count(docs_df).collect()}
    assert tc[6]["n_tokens"] == 1
    assert tc[1]["n_tokens"] == 13
    st = {r["doc_id"]: r for r in text_stats(docs_df).collect()}
    assert st[6]["n_chars"] == 5
    assert st[6]["n_alpha"] == 5
    assert st[1]["n_space"] == 12


def test_quality_and_language(docs_df):
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs_df).collect()}
    assert q[1] > q[6]  # real sentence beats 5-char fragment
    langs = {r["doc_id"]: r["lang_guess"] for r in language_guess(docs_df).collect()}
    assert langs[1] == "en"
    assert langs[5] == "es"


def test_doc_fingerprint(docs_df):
    fp = {r["doc_id"]: r for r in doc_fingerprint(docs_df).collect()}
    assert fp[1]["content_hash"] == fp[4]["content_hash"]
    assert fp[1]["content_hash"] != fp[2]["content_hash"]
    assert fp[1]["min_kgram_hash"] is not None


def test_multimodal_metadata_plumbing(spark):
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 300)
    payloads = synth_media_payloads(docs)
    meta = extract_media_metadata(payloads)
    rows = meta.collect()
    assert len(rows) == payloads.count()
    r = rows[0]
    assert r["n_bytes"] > 0
    assert len(r["content_hash"]) == 16
    assert len(r["feature"]) == 16
    img = [x for x in rows if x["media_kind"] == "image"]
    assert img and all(x["width"] > 0 and x["duration_ms"] == 0 for x in img)
    av = [x for x in rows if x["media_kind"] in ("audio", "video")]
    assert av and all(x["duration_ms"] >= 0 for x in av)
    # determinism: same payload → same metadata
    again = {(x["media_ref"], x["content_hash"]) for x in meta.collect()}
    assert again == {(x["media_ref"], x["content_hash"]) for x in rows}


def test_multimodal_raise_stub(spark):
    from valideer_spark.sources import synth_docs

    docs = synth_docs(spark, 50)
    payloads = synth_media_payloads(docs)
    meta = extract_media_metadata(payloads, decode_stub="raise")
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        meta.collect()


def test_simhash_candidates_hamming(spark, docs_df):
    from valideer_spark.operators import simhash_candidates

    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_candidates(docs_df, max_hamming=8).collect()
    }
    assert pairs.get((1, 4)) == 0          # identical docs
    assert (1, 2) in pairs                 # one-word difference, small hamming
    assert all(h <= 8 for h in pairs.values())


def test_winnowing_fingerprints(spark, docs_df):
    from valideer_spark.operators import winnowing_fingerprints

    fp = {r["id"]: set(r["fingerprints"])
          for r in winnowing_fingerprints(docs_df).collect()}
    assert fp[1] == fp[4]                  # identical docs
    assert fp[1] & fp[2]                   # shared fingerprints on overlap
    assert not (fp[1] & fp[3])             # disjoint content
    assert len(fp[6]) == 0                 # shorter than one k-gram → none

    # fewer grams than the window → single min-hash fingerprint
    small = spark.createDataFrame(
        [(7, "six words make just two grams")], ["doc_id", "text"]
    )
    fp7 = winnowing_fingerprints(small).collect()[0]["fingerprints"]
    assert len(fp7) == 1


def test_ivf_clustered_recall(spark):
    """IVF on data WITH cluster structure: 5 tight clusters, probe only
    the nearest 1 of 5 lists, recall of the query's cluster is perfect."""
    import numpy as np

    from valideer_spark.operators.similarity import cosine_topk, ivf_index, ivf_topk

    rng = np.random.RandomState(3)
    centers = rng.normal(0, 10, (5, 16))
    vecs, ids = [], []
    for i in range(200):
        c = i % 5
        vecs.append(centers[c] + rng.normal(0, 0.1, 16))
        ids.append(i)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        ["vec_id", "embedding"],
    )
    query = [float(x) for x in centers[2]]

    assigned, kcenters = ivf_index(df, n_lists=5, seed=42)
    ann = {r["id"] for r in ivf_topk(assigned, kcenters, query, k=10, n_probe=1).collect()}
    exact = {r["id"] for r in cosine_topk(df, query, k=10).collect()}
    assert ann == exact  # single-probe perfect recall on clustered data


def test_resize_and_frame_sample_plumbing(spark):
    """mapInPandas resize (1:1) and frame sampling (1:N) over binary
    payloads: schemas, determinism and row-expansion shapes are real;
    pixel/demux kernels are stubbed (no PIL/ffmpeg in the container)."""
    from valideer_spark.operators.multimodal import resize_images, sample_frames
    from valideer_spark.operators import synth_media_payloads
    from valideer_spark.sources import synth_docs

    payloads = synth_media_payloads(synth_docs(spark, 200))
    n_media = payloads.count()

    resized = resize_images(payloads, 32, 32)
    rows = resized.collect()
    assert len(rows) == n_media  # 1:1
    imgs = [r for r in rows if r["width"] == 32]
    assert imgs and all(len(r["payload"]) == 32 * 32 * 3 for r in imgs)
    others = [r for r in rows if r["width"] == 0]
    assert all(r["height"] == 0 for r in others)

    frames = sample_frames(payloads, every_ms=1000, max_frames=4)
    frows = frames.collect()
    n_videos = payloads.filter(F.col("media_kind") == "video").count()
    assert 0 < n_videos <= len(frows) <= 4 * n_videos  # 1:N expansion
    per_ref = {}
    for r in frows:
        per_ref.setdefault(r["media_ref"], []).append(r)
    for ref, rs in per_ref.items():
        idxs = sorted(x["frame_idx"] for x in rs)
        assert idxs == list(range(len(rs)))  # contiguous frame indices
        assert all(x["ts_ms"] == x["frame_idx"] * 1000 for x in rs)
    # determinism
    again = {(r["media_ref"], r["frame_idx"], bytes(r["frame"])) for r in frames.collect()}
    assert again == {(r["media_ref"], r["frame_idx"], bytes(r["frame"])) for r in frows}


def test_sketches_deterministic_across_partitioning(spark, docs_df):
    """Hash sketches must not depend on physical partitioning: identical
    outputs at 1 and 7 partitions (catches accidental use of
    nondeterministic expressions in the hot paths)."""
    from valideer_spark.operators import minhash_signatures, winnowing_fingerprints
    from valideer_spark.operators.dedup import simhash

    for op in (
        lambda d: simhash(d).collect(),
        lambda d: minhash_signatures(d, num_hashes=16).collect(),
        lambda d: winnowing_fingerprints(d).collect(),
    ):
        a = {tuple(r) if not isinstance(r[1], list) else (r[0], tuple(r[1]))
             for r in ([tuple(x) for x in op(docs_df.repartition(1))])}
        b = {tuple(r) if not isinstance(r[1], list) else (r[0], tuple(r[1]))
             for r in ([tuple(x) for x in op(docs_df.repartition(7))])}
        assert a == b


def test_duplicate_keys_salted_deterministic(spark, docs_df):
    """Uniqueness is one ``groupBy(key).count()`` (``salt=`` is accepted
    and ignored), so its counts are partitioning- and run-independent."""
    from valideer_spark.operators import duplicate_keys

    runs = [
        sorted(tuple(r) for r in duplicate_keys(
            docs_df.repartition(p), "doc_id", salt=8).collect())
        for p in (1, 5, 5)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_ivf_train_sample_is_bounded(spark):
    """The IVF quantizer must fit on a bounded sample: _ivf_train_frame
    caps rows via limit/sample, and ivf_index with a small cap still
    assigns EVERY input row and yields n_lists centers (transform, not
    fit, touches the full frame)."""
    import numpy as np

    from valideer_spark.operators.similarity import (
        _ivf_train_frame,
        ivf_index,
    )

    rng = np.random.RandomState(7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(500)],
        ["vec_id", "embedding"],
    )
    capped = _ivf_train_frame(df, sample_fraction=None, max_train_rows=50, seed=1)
    assert capped.count() == 50
    sampled = _ivf_train_frame(df, sample_fraction=0.1, max_train_rows=40, seed=1)
    assert sampled.count() <= 40

    assigned, centers = ivf_index(df, n_lists=4, seed=42, max_train_rows=64)
    assert len(centers) == 4
    assert assigned.count() == 500  # every row assigned despite capped fit
    assert assigned.select("list_id").distinct().count() <= 4


def test_dim_param_skips_probe_job(spark, monkeypatch):
    """Passing dim= to the LSH self-join operators must not launch the
    one-row _infer_dim probe job; omitting it must fall back to the probe."""
    import valideer_spark.operators.similarity as sim

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(30)]
        + [(1000, [0.0, 1.0, 1.0, 0.5])],
        ["vec_id", "embedding"],
    )

    def _boom(*a, **k):
        raise AssertionError("_infer_dim probe ran despite explicit dim=")

    monkeypatch.setattr(sim, "_infer_dim", _boom)
    # With dim given: plans build and execute with zero probe jobs.
    sim.cosine_self_join_topk(df, k=2, n_planes=4, n_bands=2, dim=4).collect()
    sim.cosine_near_dup_pairs(df, threshold=0.999, dim=4).collect()

    monkeypatch.undo()
    # Fallback still works without dim.
    assert sim.cosine_near_dup_pairs(df, threshold=1.5).count() == 0


def test_simhash_swar_expected_bits_and_lane_overflow(spark):
    """SWAR simhash: a doc of exactly two distinct tokens in equal counts
    has fingerprint bit j set iff BOTH token hashes have bit j
    (2*ones > n requires both) — checked below AND above the packed-lane
    capacity (32000 tokens): over-capacity docs fingerprint their
    32000-token prefix (documented prefix semantics), which for this
    balanced two-token stream yields the same expected fingerprint."""
    from valideer_spark.operators.dedup import simhash

    hv = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([("a",), ("b",)], ["t"])
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    }
    expected = hv["a"] & hv["b"]  # python & is two's-complement-correct

    big_text = " ".join(["a", "b"] * 35000)   # 70k tokens > lane capacity
    small_text = "a b a b"
    df = spark.createDataFrame(
        [(1, big_text), (2, small_text)], ["doc_id", "text"]
    )
    out = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert out[2] == expected
    assert out[1] == expected  # truncated 32000-token-prefix path, same rule


def _make_bmp(width, height, pixel_fn, top_down=False):
    """Hand-build a 24-bit uncompressed BMP (BITMAPINFOHEADER) —
    pixel_fn(x, y) -> (b, g, r) with y=0 the TOP row."""
    import struct

    stride = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        row = bytearray(stride)
        for x in range(width):
            row[x * 3 : x * 3 + 3] = bytes(pixel_fn(x, y))
        rows.append(bytes(row))
    if not top_down:
        rows = list(reversed(rows))  # bottom-up storage
    data = b"".join(rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    header += struct.pack(
        "<IiiHHIIiiII",
        40, width, -height if top_down else height,
        1, 24, 0, len(data), 2835, 2835, 0, 0,
    )
    return header + data


def _make_wav(n_samples, sample_rate=8000, channels=1, bits=16):
    import struct

    byte_rate = sample_rate * channels * bits // 8
    data = bytes(n_samples * channels * bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate,
        channels * bits // 8, bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_bmp_wav_codecs_decode_real_bytes(spark):
    """Round-5 real-codec branch: hand-built uncompressed BMP and PCM
    WAV payloads decode to their TRUE dimensions/duration — under
    decode_stub='raise' (real formats need no external codec), so this
    is decoding, not the fake path."""
    from valideer_spark.operators.multimodal import (
        resize_bmp_nearest,
        try_decode_bmp,
        try_decode_wav,
    )

    bmp = _make_bmp(5, 3, lambda x, y: (x * 10, y * 20, 200))
    wav = _make_wav(n_samples=2000, sample_rate=8000)  # 250 ms
    df = spark.createDataFrame(
        [("m-bmp", "image", bytearray(bmp)), ("m-wav", "audio", bytearray(wav))],
        "media_ref string, media_kind string, payload binary",
    )
    rows = {
        r["media_ref"]: r
        for r in extract_media_metadata(df, decode_stub="raise").collect()
    }
    assert (rows["m-bmp"]["width"], rows["m-bmp"]["height"]) == (5, 3)
    assert rows["m-bmp"]["duration_ms"] == 0
    assert rows["m-wav"]["duration_ms"] == 250
    assert (rows["m-wav"]["width"], rows["m-wav"]["height"]) == (0, 0)

    # non-BMP/WAV under 'raise' still raises (compressed codecs absent)
    import pytest as _pytest

    bad = spark.createDataFrame(
        [("m-jpg", "image", bytearray(b"\xff\xd8\xff\xe0 not a real jpeg"))],
        "media_ref string, media_kind string, payload binary",
    )
    with _pytest.raises(Exception, match="NotImplementedError|not an uncompressed"):
        extract_media_metadata(bad, decode_stub="raise").collect()

    # driver-side parser sanity: negative height = top-down row order
    td = _make_bmp(4, 2, lambda x, y: (x, y, 0), top_down=True)
    assert try_decode_bmp(td)[:2] == (4, 2)
    assert try_decode_wav(b"RIFFxxxxWAVE") is None
    assert resize_bmp_nearest(b"not a bmp", 2, 2) is None


def test_real_bmp_resize_is_true_nearest_neighbor(spark):
    """resize_images on a 24-bit BMP emits VALID BMP bytes whose pixels
    are the nearest-neighbor sample of the source — verified pixel by
    pixel with an independent decode of the output payload."""
    from valideer_spark.operators.multimodal import (
        resize_images,
        try_decode_bmp,
    )

    # 4x2 source, distinct pixel per cell ((b,g,r) = (x, y, x+y))
    src_px = lambda x, y: (40 * x, 100 * y, 10 * x + y)
    bmp = _make_bmp(4, 2, src_px)
    df = spark.createDataFrame(
        [("m-1", "image", bytearray(bmp)), ("m-2", "audio", bytearray(b"pass"))],
        "media_ref string, media_kind string, payload binary",
    )
    out = {
        r["media_ref"]: r for r in resize_images(df, 2, 1).collect()
    }
    payload = bytes(out["m-1"]["payload"])
    info = try_decode_bmp(payload)
    assert info is not None and info[:2] == (2, 1)
    # decode output pixels (bottom-up storage, stride-padded)
    stride = (2 * 3 + 3) & ~3
    off = info[3]
    row = payload[off : off + stride]  # single row (y=0 top == bottom)
    got = [tuple(row[x * 3 : x * 3 + 3]) for x in range(2)]
    # nearest neighbor: out x=0 -> src x=0, out x=1 -> src x=2; y=0 -> src y=0
    assert got == [src_px(0, 0), src_px(2, 0)]
    # non-image rows pass through
    assert bytes(out["m-2"]["payload"]) == b"pass"
