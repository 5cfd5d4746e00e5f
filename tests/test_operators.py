"""Operator-level unit tests: as-of join vs brute force, dedup families vs
exact pairwise computation, similarity search recall, multimodal plumbing,
Debezium decode golden values."""

import base64

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.operators.asof import asof_join
from ton_etl_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    segment_dedup,
    simhash_chunk_bounds,
    simhash_near_dups,
)
from ton_etl_spark.operators.similarity import cosine_topk_bruteforce, lsh_ann_topk


def test_asof_join_strict(spark):
    quotes = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("a", 30, 3.0), ("b", 15, 9.0)],
        "k string, ts long, price double",
    )
    events = spark.createDataFrame(
        [("a", 5), ("a", 20), ("a", 25), ("a", 35), ("b", 14), ("b", 16), ("c", 50)],
        "k string, ts long",
    )
    out = asof_join(events, quotes, on=["k"], left_ts="ts", right_ts="ts",
                    value_cols=["price"], strict=True)
    got = {(r["k"], r["ts"]): r["price"] for r in out.collect()}
    # strict '<': the ts=20 event must NOT see the ts=20 quote
    assert got == {
        ("a", 5): None,
        ("a", 20): 1.0,
        ("a", 25): 2.0,
        ("a", 35): 3.0,
        ("b", 14): None,
        ("b", 16): 9.0,
        ("c", 50): None,
    }


def test_asof_join_atomic_row_and_null_ts(spark):
    """The match must be the latest right ROW atomically (a NULL field in
    the winning row stays NULL — no chimera mixing columns of different
    rows), and right rows with NULL timestamps can never match."""
    quotes = spark.createDataFrame(
        [("a", 10, 1.0, 2), ("a", 20, 3.0, None), ("b", None, 100.0, 7)],
        "k string, ts long, price double, qid int",
    )
    events = spark.createDataFrame([("a", 30), ("b", 5)], "k string, ts long")
    out = asof_join(events, quotes, on=["k"], left_ts="ts", right_ts="ts",
                    value_cols=["price", "qid"], strict=True)
    got = {r["k"]: (r["price"], r["qid"]) for r in out.collect()}
    # latest row for 'a' is (3.0, NULL) — qid must NOT be resurrected as 2
    assert got["a"] == (3.0, None)
    # the only quote for 'b' has NULL ts → no match, not a universal match
    assert got["b"] == (None, None)


def test_lag_transitions_null_safe(spark):
    from ton_etl_spark.operators.snapshot import lag_transitions

    df = spark.createDataFrame(
        [("k", 1, "x"), ("k", 2, None), ("k", 3, "y"), ("k", 4, "y")],
        "key string, seq long, owner string",
    )
    tr = lag_transitions(df, ["key"], [F.col("seq")], "owner")
    got = {(r["seq"], r["prev_owner"], r["owner"]) for r in tr.collect()}
    # x→NULL and NULL→y are real transitions; first row and y→y are not
    assert got == {(2, "x", None), (3, None, "y")}


def test_quality_score_null_text(spark):
    from ton_etl_spark.functions.text import quality_score

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    got = {r["doc_id"]: r["q"] for r in
           df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert got[1] is None           # NULL text must not out-score real docs
    assert got[2] is not None and got[2] < 0.5


def test_asof_join_nonstrict(spark):
    quotes = spark.createDataFrame([("a", 20, 2.0)], "k string, ts long, price double")
    events = spark.createDataFrame([("a", 20)], "k string, ts long")
    out = asof_join(events, quotes, on=["k"], left_ts="ts", right_ts="ts",
                    value_cols=["price"], strict=False)
    assert out.collect()[0]["price"] == 2.0


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
    (3, "completely different text about spark sql window functions and joins"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
    (5, "unrelated short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _brute_jaccard(a: str, b: str, k=3):
    def sh(t):
        w = t.lower().split()
        return set(" ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 1)))
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_exact_dedup(spark, docs):
    groups = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert groups[1] == 2  # docs 1 and 4
    assert groups[2] == 1 and groups[3] == 1 and groups[5] == 1


def test_exact_dedup_size_gate_reads_env_at_call_time(spark, docs, monkeypatch):
    """``SPARK_GRAFT_WIDEN_MIN_BYTES`` gates the scan widening per call: a
    change between calls takes effect without re-importing the module."""
    from ton_etl_spark.operators import dedup as D

    widened = []
    monkeypatch.setattr(D, "_local_input_bytes", lambda df: 1000)
    monkeypatch.setattr(D, "_widen_if_narrow", lambda df: widened.append(1) or df)
    monkeypatch.setenv("SPARK_GRAFT_WIDEN_MIN_BYTES", "1001")
    D.exact_dedup(docs)
    assert widened == []
    monkeypatch.setenv("SPARK_GRAFT_WIDEN_MIN_BYTES", "1000")
    D.exact_dedup(docs)
    assert widened == [1]


def test_segment_dedup_strips_boilerplate(spark):
    # 4 docs sharing a 3-word boilerplate prefix (docfreq 4 >= 3); each
    # also has a unique tail that must survive in original order
    rows = [(i, f"terms of service body{i} part one tail{i} two") for i in range(4)]
    rows.append((9, "completely unrelated text here now"))  # no banned segs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in segment_dedup(df, seg_words=3, min_docfreq=3).collect()}
    for i in range(4):
        # segments: [terms of service] [bodyI part one] [tailI two]
        assert out[i]["n_segs"] == 3 and out[i]["n_kept"] == 2
        assert out[i]["clean_text"] == f"body{i} part one tail{i} two"
    assert out[9]["n_kept"] == out[9]["n_segs"] == 2
    assert out[9]["clean_text"] == "completely unrelated text here now"

    # raising the threshold above the corpus docfreq keeps everything
    keep_all = {
        r["id"]: r for r in segment_dedup(df, seg_words=3, min_docfreq=5).collect()
    }
    assert all(r["n_kept"] == r["n_segs"] for r in keep_all.values())

    # a doc that is ALL boilerplate re-assembles to the empty string
    all_bp = spark.createDataFrame(
        [(i, "terms of service") for i in range(3)], "doc_id long, text string"
    )
    got = segment_dedup(all_bp, seg_words=3, min_docfreq=3).collect()
    assert all(r["n_kept"] == 0 and r["clean_text"] == "" for r in got)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, min_jaccard_est=0.5).collect()}
    assert (1, 4) in pairs  # exact dup always caught
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup caught
    assert all(3 not in p and 5 not in p for p in pairs)


def test_ngram_jaccard_exact_values(spark, docs):
    rows = ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert got[(1, 4)] == 1.0
    expect_12 = _brute_jaccard(DOCS[0][1], DOCS[1][1])
    assert abs(got[(1, 2)] - expect_12) < 1e-9


def test_simhash_near_dups(spark):
    # simhash is stable only for long docs: one changed word among 200
    # flips few majority votes → small hamming; the 16-bit-chunk blocking
    # guarantees recall for pairs within hamming ≤ 3
    base = " ".join(f"word{i}" for i in range(200))
    near = base.replace("word7 ", "changed ")
    other = " ".join(f"term{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dups(docs, max_hamming=6).collect()}
    assert pairs.get((1, 4)) == 0  # identical text → identical simhash
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnowing_matches_python_reference(spark, docs):
    """The slice/array_min window selection must equal a Python winnowing
    over the same gram hashes (hashes themselves computed once via Spark,
    so the reference shares them)."""
    from ton_etl_spark.functions.text import words
    from ton_etl_spark.operators.dedup import winnow_fingerprints

    k, w = 8, 4
    norm = F.array_join(words(F.col("text")), " ")
    t = F.col("__t")
    # reference grams via plain substr (normalized text is pure ASCII, so
    # substr-by-position and char-array slicing agree)
    grams_df = docs.select(F.col("doc_id"), norm.alias("__t")).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(t.substr(i, F.lit(k)), F.lit(42)),
        ).alias("g"),
    )
    grams = {r["doc_id"]: list(r["g"]) for r in grams_df.collect()}
    expect = {
        d: sorted({min(g[j : j + w]) for j in range(max(len(g) - w + 1, 1))})
        for d, g in grams.items()
    }
    got = {
        r["doc_id"]: sorted(r["fps"])
        for r in winnow_fingerprints(docs, k=k, window=w).collect()
    }
    assert got == expect


def test_winnow_overlap_finds_contained_plagiarism(spark):
    """A copied passage inside otherwise-unrelated documents must surface as
    a winnow-overlap pair (the contained-duplication case global-similarity
    dedup misses), while disjoint documents share nothing."""
    from ton_etl_spark.operators.dedup import winnow_fingerprints, winnow_overlap_pairs

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    a = "completely original essay about spark " * 5 + passage
    b = passage + " unrelated trailing content on database internals " * 5
    c = "zebra yak xylophone walrus vulture unicorn tiger snake " * 6
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnow_overlap_pairs(docs, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)
    # identical docs share their entire sketch
    fps = {r["doc_id"]: set(r["fps"]) for r in winnow_fingerprints(docs).collect()}
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])


def test_simhash_blocking_at_bound(spark):
    """A pair differing in exactly max_hamming bits, spread one-per-chunk
    (the adversarial pattern a fixed 4-chunk scheme at h>3 silently drops),
    must still be found: h+1 chunks guarantee one agreeing chunk."""
    h = 8
    bounds = simhash_chunk_bounds(h)
    assert len(bounds) == h + 1
    assert sum(w for _, w in bounds) == 64
    base = 0x0123456789ABCDEF
    flip_h = 0
    for shift, _ in bounds[:h]:  # one differing bit in each of h chunks
        flip_h |= 1 << shift
    flip_all = flip_h | (1 << bounds[h][0])  # h+1 bits: differs in EVERY chunk
    fps = spark.createDataFrame(
        [(1, base), (2, base ^ flip_h), (3, base ^ flip_all)],
        "doc_id long, simhash long",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dups(None, max_hamming=h, fingerprints=fps).collect()}
    assert pairs.get((1, 2)) == h  # found at exactly the radius bound
    assert (1, 3) not in pairs     # hamming h+1: no shared chunk, and > radius


def test_embedding_near_dups_vs_bruteforce(spark):
    """Planted near-dups on a non-64 dim (regression: the old code silently
    relied on dim=64): precision exact, recall >= 0.9 vs numpy brute force."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=(100, dim))
    noisy = base[:30] + 0.08 * rng.normal(size=(30, dim))  # cosine ~0.99
    X = np.vstack([base, noisy]).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(emb, dim=dim, min_cosine=0.9).collect()}
    Xd = X.astype(np.float64)
    Xd /= np.linalg.norm(Xd, axis=1, keepdims=True)
    S = Xd @ Xd.T
    true = {(i, j) for i in range(len(X)) for j in range(i + 1, len(X))
            if S[i, j] >= 0.9}
    assert len(true) >= 30
    assert got <= true                          # precision: exact within buckets
    assert len(got & true) / len(true) >= 0.9   # recall: multi-table LSH


def test_minhash_degenerate_bucket_gate(spark):
    """10k identical one-word docs must NOT create a quadratic band-bucket
    self-join: the min-word gate routes sub-shingle docs to exact dedup."""
    docs = spark.createDataFrame(
        [(i, "hello") for i in range(10_000)], "doc_id long, text string"
    )
    assert minhash_lsh_pairs(docs, min_jaccard_est=0.5).count() == 0
    # exact dedup (the right tool for that class) still groups them
    assert exact_dedup(docs).collect()[0]["n_dups"] == 10_000


def test_minhash_null_and_empty_text_sigs_are_null(spark):
    """NULL / empty / all-punctuation text must yield sig=NULL, not a shared
    constant sentinel: ``F.array(array_join(NULL))`` is ``[NULL]`` (size 1),
    whose single constant hash would band-collide every degenerate doc with
    every other — the exact quadratic monster bucket the gates exist to
    prevent, reachable by any direct minhash_signatures caller."""
    from ton_etl_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "!!! ... ---"), (4, "real words here ok")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] is None and sigs[2] is None and sigs[3] is None
    assert sigs[4] is not None and len(sigs[4]) == 32
    # and with the min-word gate disabled, degenerate docs still produce no
    # pairs among themselves (NULL sigs are excluded from banding)
    degenerate = spark.createDataFrame(
        [(i, None if i % 2 else "") for i in range(200)], "doc_id long, text string"
    )
    assert minhash_lsh_pairs(degenerate, min_words=0, min_jaccard_est=0.0).count() == 0


def test_minhash_bucket_cap(spark):
    """max_bucket_size drops monster buckets (a 50-doc clique would emit
    ~1225 pairs) while pairs in small buckets survive."""
    big = " ".join(f"w{i}" for i in range(20))
    a = "the quick brown fox jumps over the lazy dog kindly"
    b = "the quick brown fox jumps over the lazy dog kingly"
    rows = [(i, big) for i in range(50)] + [(100, a), (101, b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, min_jaccard_est=0.3, max_bucket_size=10).collect()}
    assert (100, 101) in pairs
    assert all(x >= 100 for p in pairs for x in p)


def test_cosine_topk_exact(spark):
    vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    vecs.append((100, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    top = cosine_topk_bruteforce(emb, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], k=2)
    rows = top.collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == 1.0
    assert rows[1]["vec_id"] == 100


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    rest = emb.where(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in cosine_topk_bruteforce(rest, qv, k=10).collect()]
    one_table = [r["vec_id"] for r in
                 lsh_ann_topk(rest, qv, k=10, n_planes=4, multiprobe=1).collect()]
    multi = [r["vec_id"] for r in
             lsh_ann_topk(rest, qv, k=10, n_planes=4, multiprobe=1, n_tables=4).collect()]
    # the testdata embeddings are weakly clustered (near-random cosine
    # structure): one table's recall is modest by construction, four
    # independent tables lift it (deterministic seeds → stable assertion)
    assert len(set(exact) & set(one_table)) >= 3
    assert len(set(exact) & set(multi)) >= 6
    assert len(set(exact) & set(multi)) >= len(set(exact) & set(one_table))


def test_ivf_ann_recall_on_clustered_data(spark):
    """IVF (k-means cells + nprobe scan) on data with real cluster structure:
    recall vs exact brute force must be high, and the probe must scan only a
    fraction of the corpus."""
    import numpy as np

    from ton_etl_spark.operators.similarity import ivf_ann_topk, ivf_centroids, _nearest_cell

    rng = np.random.default_rng(3)
    dim, n_clusters, per = 16, 8, 50
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    X = np.vstack([c + rng.normal(size=(per, dim)) * 0.4 for c in centers]).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in (centers[2] + 0.1)]
    exact = [r["vec_id"] for r in cosine_topk_bruteforce(emb, q, k=10).collect()]
    cents = ivf_centroids(emb, n_cells=8, dim=dim, seed=11)
    approx = [r["vec_id"] for r in
              ivf_ann_topk(emb, q, k=10, n_cells=8, nprobe=2, centroids=cents).collect()]
    assert len(set(exact) & set(approx)) >= 9
    # the probe is genuinely partial: 2 of 8 cells
    cells = emb.select(_nearest_cell(F.col("embedding"), cents).alias("c"))
    biggest_two = sorted(
        r["n"] for r in cells.groupBy("c").agg(F.count("*").alias("n")).collect()
    )[-2:]
    assert sum(biggest_two) < len(X)


def test_ppm_codec_roundtrip_and_errors():
    """Pure-numpy PPM (P6) codec: bit-exact round-trip, header grammar
    (comments, arbitrary whitespace), and loud failure on corruption."""
    import numpy as np
    import pytest as _pytest

    from ton_etl_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()
    # header with comments + extra whitespace is still valid PPM
    raster = arr.tobytes()
    weird = b"P6\n# a comment\n 17\t13 # trailing\n255\n" + raster
    assert (decode_ppm(weird) == arr).all()
    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # wrong magic (greyscale PGM)
    with _pytest.raises(ValueError):
        decode_ppm(encode_ppm(arr)[:-10])  # truncated raster
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)  # 16-bit unsupported


def test_multimodal_real_image_features(spark):
    """extract_features on decodable images returns REAL pixel features
    (dims + per-channel means + std), opaque payloads keep the histogram
    fallback — the injectable-kernel seam."""
    from ton_etl_spark.operators.multimodal import (
        extract_features,
        synth_image_array,
        synth_media,
    )

    media = synth_media(spark, n=32)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    kinds = {r["media_id"]: r["kind"] for r in media.collect()}
    assert len(feats) == 32
    for mid, r in feats.items():
        assert r["n_bytes"] > 0
        if kinds[mid] == "image":
            arr = synth_image_array(int(mid[1:])).astype("float64")
            w, h = arr.shape[1], arr.shape[0]
            got = [round(float(v), 3) for v in r["feature"]]
            want = [w, h, 3.0] + [
                round(float(arr[:, :, c].mean()), 3) for c in range(3)
            ] + [round(float(arr.std()), 3)]
            assert got == [round(v, 3) for v in want], mid
        else:
            assert len(r["feature"]) == 8
            assert abs(sum(r["feature"]) - 1.0) < 1e-6  # normalized histogram


def test_multimodal_image_stats_closed_form(spark):
    """image_stats from decoded pixels must equal the closed-form math the
    DuckDB oracle uses (gradient content: mean_c = (w-1)/2 + (h-1)/2 + 10c,
    var = (w^2-1)/12 + (h^2-1)/12 + 200/3)."""
    import math

    from ton_etl_spark.operators.multimodal import image_stats, synth_images

    ids = spark.range(20).withColumnRenamed("id", "doc_id")
    got = {r["media_id"]: r for r in image_stats(synth_images(ids)).collect()}
    assert len(got) == 20
    for i in range(20):
        r = got[f"m{i}"]
        w, h = 8 + (i % 5) * 4, 8 + (i % 3) * 4
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        base = (w - 1) / 2 + (h - 1) / 2
        assert r["mean_r"] == round(base, 4)
        assert r["mean_g"] == round(base + 10, 4)
        assert r["mean_b"] == round(base + 20, 4)
        want_std = math.sqrt((w * w - 1) / 12 + (h * h - 1) / 12 + 200 / 3)
        assert abs(r["px_std"] - want_std) < 1e-3


def test_multimodal_resize_and_frames(spark):
    from ton_etl_spark.operators.multimodal import (
        decode_ppm,
        resize_images,
        resize_nearest,
        sample_frames,
        synth_image_array,
        synth_media,
    )

    media = synth_media(spark, n=48)
    kinds = {r["media_id"]: r["kind"] for r in media.collect()}

    resized = resize_images(media, 32, 32).collect()
    assert len(resized) == 48  # passthrough for non-images, 1:1
    for r in resized:
        if r["kind"] == "image":
            assert r["width"] == 32 and r["height"] == 32
            px = decode_ppm(bytes(r["payload"]))
            assert px.shape == (32, 32, 3)
            # real nearest-neighbor: matches direct index-map resample
            want = resize_nearest(synth_image_array(int(r["media_id"][1:])), 32, 32)
            assert (px == want).all()
        else:
            assert r["width"] == 64  # untouched (undecodable = seam)

    frames = sample_frames(media, every_ms=250).collect()
    n_videos = sum(1 for k in kinds.values() if k == "video")
    assert len(frames) == n_videos * 4  # 1000ms / 250ms
    by_id: dict = {}
    for f in frames:
        assert kinds[f["media_id"]] == "video"  # 1-to-0 for image/audio
        assert f["ts_ms"] == f["frame_idx"] * 250
        by_id.setdefault(f["media_id"], []).append(f)
    # frames tile the payload deterministically
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, fs in by_id.items():
        joined = b"".join(bytes(f["frame"]) for f in sorted(fs, key=lambda x: x["frame_idx"]))
        assert joined == payloads[mid]


def test_debezium_decimal_golden(spark):
    """Golden cases from the reference's test_converter.py:31-65 semantics:
    two's-complement base64 bytes + scale → decimal string."""
    from ton_etl_spark.functions.debezium import decode_debezium_decimal_udf

    def enc(unscaled: int) -> str:
        length = max(1, (unscaled.bit_length() + 8) // 8)
        return base64.b64encode(unscaled.to_bytes(length, "big", signed=True)).decode()

    cases = [
        (enc(0), 0, "0"),
        (enc(12345), 0, "12345"),
        (enc(-12345), 0, "-12345"),
        (enc(12345), 2, "123.45"),
        (enc(-7), 3, "-0.007"),
        (enc(2**256), 0, str(2**256)),
        (enc(123), None, "123"),      # null scale = unscaled int (was: NaN crash)
        (enc(123), -2, "12300"),      # negative scale = *10^2 (Postgres 15+)
        (enc(-123), -2, "-12300"),
        (enc(0), -2, "0"),
    ]
    df = spark.createDataFrame([(v, s) for v, s, _ in cases], "value_b64 string, scale int")
    out = df.select(decode_debezium_decimal_udf("value_b64", "scale").alias("d")).collect()
    assert [r["d"] for r in out] == [e for _, _, e in cases]


def test_token_validation_flags_bad_rows(spark):
    from ton_etl_spark.functions.tokens import with_token_validation

    rows = [
        ("a", "c", 1, 1, [1, 2, 3], 3, "web"),      # valid
        ("b", "c", 2, 2, [1, 2, 3], 2, "web"),      # n_tok mismatch
        ("c", "c", 3, 3, [1, 999999], 2, "web"),    # out of vocab
        ("d", "d", 4, 4, None, None, "web"),        # tombstone: valid
    ]
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA

    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA)
    flagged = {r["doc_id"]: r["valid"] for r in
               with_token_validation(df, strict=False).collect()}
    assert flagged == {"a": True, "b": False, "c": False, "d": True}
    kept = {r["doc_id"] for r in with_token_validation(df, strict=True).collect()}
    assert kept == {"a", "d"}


def test_pack_chunks_matches_plain_window_and_invariants(spark):
    """Two-level cumsum == plain per-group window cumsum (exactness is
    independent of seg_width), every pack except each group's last holds
    exactly `budget` tokens, segments tile each doc, and zero-token docs
    occupy no stream positions."""
    from collections import defaultdict

    from pyspark.sql import Window
    from ton_etl_spark.operators.packing import pack_chunks, token_stream_offsets

    rows = []
    rng_words = ["alpha beta gamma delta", "x", "", "one two three four five six seven",
                 "lorem ipsum dolor", "!!!", "a b c d e f g h i j k l m n o p q r s t"]
    for i in range(200):
        rows.append((i, rng_words[i % len(rng_words)], "s" + str(i % 3)))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    for seg_width in (1, 7, 4096):
        off = token_stream_offsets(
            docs, F.size(F.split(F.col("text"), " ")), seg_width=seg_width
        )
        w = Window.partitionBy("source").orderBy("doc_id")
        plain = (
            docs.withColumn("__n_tok", F.size(F.split(F.col("text"), " ")).cast("long"))
            .where(F.col("__n_tok") > 0)
            .withColumn("__off", F.sum("__n_tok").over(w) - F.col("__n_tok"))
        )
        got = {(r["doc_id"]): r["__off"] for r in off.collect()}
        want = {(r["doc_id"]): r["__off"] for r in plain.collect()}
        assert got == want, f"seg_width={seg_width}"

    for budget in (1, 5, 64):
        segs = pack_chunks(docs, budget=budget).collect()
        # zero-token docs ('' and '!!!' via the word regex) never appear
        n_tok = {r["doc_id"]: r["n"] for r in docs.select(
            "doc_id", F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))).alias("n")
        ).collect()}
        assert all(n_tok[r["doc_id"]] > 0 for r in segs)
        # segments tile each doc exactly [0, n_tok)
        by_doc = defaultdict(list)
        for r in segs:
            by_doc[r["doc_id"]].append((r["seg_start"], r["seg_len"]))
        for doc, parts in by_doc.items():
            parts.sort()
            assert parts[0][0] == 0
            pos = 0
            for st, ln in parts:
                assert st == pos and ln > 0
                pos += ln
            assert pos == n_tok[doc]
        # every non-final pack holds exactly `budget` tokens
        tot = defaultdict(int)
        for r in segs:
            tot[(r["source"], r["pack_id"])] += r["seg_len"]
        for src in {k[0] for k in tot}:
            packs = sorted(k for k in tot if k[0] == src)
            assert all(tot[k] == budget for k in packs[:-1])
            # pack ids are contiguous from 0
            assert [k[1] for k in packs] == list(range(len(packs)))


def _uf_components(edges):
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("shape", ["random", "path", "star", "cliques"])
def test_connected_components_matches_union_find(spark, shape):
    """Alternating large-star/small-star must equal a Python union-find on
    adversarial graph shapes — including a 64-node path (diameter 63, where
    naive min-propagation would need 63 rounds but log-rounds must do),
    duplicate and reversed edges, and self-loops."""
    import random

    from ton_etl_spark.operators.graph import (
        cluster_representatives,
        connected_components,
    )

    rng = random.Random(13)
    if shape == "random":
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    elif shape == "path":
        edges = [(i, i + 1) for i in range(63)]
    elif shape == "star":
        edges = [(50, i) for i in range(40)]
    else:
        edges = [(a, b) for base in (0, 100, 200)
                 for a in range(base, base + 8) for b in range(base, base + 8)]
    edges += [(5, 5), (7, 7)]                      # self-loops ignored
    edges += [(b, a) for a, b in edges[:10]]       # reversed duplicates
    want = _uf_components([(a, b) for a, b in edges if a != b])

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in
           connected_components(df, max_iter=12).collect()}
    assert got == want, shape
    reps = {r["component"]: (r["keep_id"], r["n_members"]) for r in
            cluster_representatives(connected_components(df)).collect()}
    for comp, (keep, n) in reps.items():
        assert keep == comp  # component id IS the min member
        assert n == sum(1 for v in want.values() if v == comp)


def test_connected_components_empty_edges(spark):
    from ton_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_ngram_contamination_and_decontaminate(spark):
    from ton_etl_spark.operators.contamination import (
        decontaminate,
        ngram_contamination,
    )

    probe_text = "the secret benchmark question about spark internals today"
    corpus = spark.createDataFrame(
        [
            (1, "intro text then " + probe_text + " copied verbatim"),
            (2, "totally unrelated content about cooking pasta at home"),
            (3, probe_text),                        # full copy
            (4, "the secret benchmark"),            # only 1 shared 3-gram
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(100, probe_text)], "doc_id long, text string")
    hits = {(r["corpus_id"], r["probe_id"]): r["n_shared"] for r in
            ngram_contamination(corpus, probes, min_shared=2).collect()}
    assert (1, 100) in hits and (3, 100) in hits
    assert (2, 100) not in hits and (4, 100) not in hits
    n_probe_grams = 8 - 2  # 8 words -> 6 trigrams
    assert hits[(3, 100)] == n_probe_grams
    clean = {r["doc_id"] for r in decontaminate(corpus, probes, min_shared=2).collect()}
    assert clean == {2, 4}
    # ubiquity cap: with max_postings=0 every probe gram is dropped -> no hits
    assert ngram_contamination(corpus, probes, max_postings=0).count() == 0


def test_sample_mixture_deterministic_and_rate_accurate(spark):
    """The subset must be identical across runs and partitionings (the
    whole point vs DataFrame.sample), rates must hold to LLN tolerance,
    salt changes the subset, rate 1.0/0.0 are exact."""
    from ton_etl_spark.operators.sampling import sample_mixture

    rows = [(i, f"s{i % 4}") for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"s0": 1.0, "s1": 0.5, "s2": 0.1, "s3": 0.0}
    kept1 = {r["doc_id"] for r in sample_mixture(df, rates, salt="a:").collect()}
    kept2 = {r["doc_id"] for r in
             sample_mixture(df.repartition(17), rates, salt="a:").collect()}
    assert kept1 == kept2  # partitioning-independent
    by_src = {s: sum(1 for i in kept1 if i % 4 == int(s[1])) for s in rates}
    assert by_src["s0"] == 2000 and by_src["s3"] == 0
    assert abs(by_src["s1"] - 1000) < 100 and abs(by_src["s2"] - 200) < 60
    kept3 = {r["doc_id"] for r in sample_mixture(df, rates, salt="b:").collect()}
    assert kept3 != kept1  # salt reshuffles the draw
    # absent group falls to default_rate
    assert sample_mixture(df, {"zzz": 1.0}).count() == 0
    with pytest.raises(ValueError):
        sample_mixture(df, {"s0": 1.5}).count()


def test_embedding_near_dups_bucket_cap(spark):
    """A mass point (hundreds of identical vectors) must not go quadratic:
    the cap drops its buckets while a genuinely-near pair elsewhere
    survives (its buckets stay small)."""
    import math

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [math.cos(0.1), math.sin(0.1)] + [0.0] * (dim - 2)
    opposite = [-1.0] + [0.0] * (dim - 1)
    rows = [(i, base) for i in range(300)]           # the mass point
    rows += [(1000, opposite), (1001, opposite)]     # small-bucket pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dups(
        emb, dim=dim, min_cosine=0.9, n_planes=6, n_tables=2,
        max_bucket_size=50,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1000, 1001)}
    # uncapped, the mass point would emit C(300,2) pairs — sanity-check on
    # a small slice that the cap is what removed them
    some = embedding_near_dups(
        emb.where(F.col("vec_id") < 5), dim=dim, min_cosine=0.9,
        n_planes=6, n_tables=2,
    ).count()
    assert some == 10  # C(5,2) — identical vectors all pair up uncapped


def test_repetition_ratio_values(spark):
    from ton_etl_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),       # 6 trigrams, 3 distinct -> 0.5
            (2, "one two three four"),    # all distinct -> 0.0
            (3, "x y"),                   # shorter than n -> 0.0
            (4, None),                    # NULL contract
            (5, "spam spam spam spam spam spam"),  # 4 trigrams, 1 distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["r"] for r in
           df.select("doc_id", repetition_ratio(F.col("text")).alias("r")).collect()}
    assert got[1] == 0.5
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] is None
    assert abs(got[5] - 0.75) < 1e-9


def test_connected_components_self_loop_only_nodes(spark):
    """A node whose only edges are self-loops is a singleton component —
    not silently absent from the output."""
    from ton_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {7: 7, 1: 1, 2: 1}
    only_loops = spark.createDataFrame([(3, 3), (9, 9)], "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(only_loops).collect()}
    assert got == {3: 3, 9: 9}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """``checkpoint_dir=`` switches the per-round lineage cuts to RELIABLE
    checkpoints (cluster fault tolerance: localCheckpoint blocks die with
    their executor).  Same answer as the default path, and the checkpoint
    files must actually land in the directory."""
    import random

    from ton_etl_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(30)] + [
        (rng.randrange(50), rng.randrange(50)) for _ in range(40)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r["id"]: r["component"] for r in connected_components(df).collect()}
    ckpt = tmp_path / "cc_ckpt"
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=str(ckpt), stats=stats
        ).collect()
    }
    assert got == want
    assert stats["rounds"] >= 1
    assert any(ckpt.rglob("*")), "no reliable checkpoint files written"


def test_connected_components_one_job_per_round(spark):
    """The convergence checksum is folded into the round's checkpoint
    materialization: each contraction round costs exactly ONE Spark job
    (round 1's job also materializes the raw-edge checkpoint), and the
    round count stays SMALL — the r8 kernel contracts whole local
    subgraphs per round, so a 41-node path must finish in 2 rounds
    (natural-partition contraction + single-task endgame), not the ~6+
    rounds of hop-at-a-time star alternation."""
    from ton_etl_spark.operators.graph import connected_components

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # AQE splits one query into several jobs; disable it so job count is
    # a stable proxy for "actions run"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        sc.setJobGroup("cc_job_count", "counting CC jobs", True)
        stats: dict = {}
        res = connected_components(df, stats=stats)
        jobs = sc.statusTracker().getJobIdsForGroup("cc_job_count")
        assert stats["rounds"] == 2, (
            f"{stats['rounds']} rounds for a 41-node path — the local-DSU "
            "contraction should collapse it in natural + single-task rounds"
        )
        assert len(jobs) == stats["rounds"], (
            f"{len(jobs)} jobs for {stats['rounds']} rounds — checksum no "
            "longer folded into the round's materialization"
        )
        assert res.count() == 41  # plan still collectable after the cuts
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        sc.setJobGroup("", "")


def test_connected_components_multi_partition_rounds(spark, monkeypatch):
    """Force the distributed keyed-round path (the 100 TB shape): with the
    single-task endgame disabled and tiny per-task sizing, the symmetrize
    → hash-partition → local-DSU rounds alone must converge to the exact
    components via the checksum fixpoint, on adversarial shapes."""
    import random

    import ton_etl_spark.operators.graph as graph

    monkeypatch.setattr(graph, "_SINGLE_TASK_EDGES", 0)
    monkeypatch.setattr(graph, "_EDGES_PER_TASK", 8)
    rng = random.Random(99)
    edges = (
        [(i, i + 1) for i in range(80)]                      # long path
        + [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        + [(300, i) for i in range(300, 330)]                # star
        + [(7, 7), (500, 500)]                               # self-loops
    )
    want = _uf_components([(a, b) for a, b in edges if a != b])
    want[500] = 500  # self-loop-only node -> singleton (7 is on the path)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in graph.connected_components(df, stats=stats).collect()
    }
    assert got == want
    assert stats["rounds"] >= 2  # genuinely exercised the keyed rounds


def test_minhash_fold_kernel_matches_jvm_xxhash(spark):
    """The numpy permutation fold must reproduce Spark's
    ``least-over-xxhash64(h, lit(seed+i))`` bit-for-bit — including NULL
    sigs for empty/NULL/punctuation-only text — or every stored minhash
    index silently diverges from fresh signatures."""
    from pyspark.sql import functions as F

    from ton_etl_spark.operators.dedup import minhash_signatures, shingles

    rows = [(1, "the quick brown fox jumps over the lazy dog twice over"),
            (2, None), (3, ""), (4, "...!!!"), (5, "one"),
            (6, "x " * 200), (7, "exactly three words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_hashes, seed = 32, 42
    got = {r["doc_id"]: r["sig"] for r in minhash_signatures(df, seed=seed).collect()}
    # reference: the round-7 JVM aggregate/zip_with fold, inline
    base = F.transform(shingles(F.col("text"), 3), lambda s: F.xxhash64(s, F.lit(seed)))
    init = F.array(*[F.lit((1 << 63) - 1).cast("long")] * n_hashes)
    sig = F.when(
        F.size(base) > 0,
        F.aggregate(
            base, init,
            lambda acc, h: F.zip_with(
                acc,
                F.array(*[F.xxhash64(h, F.lit(seed + i)) for i in range(n_hashes)]),
                lambda a, b: F.least(a, b),
            ),
        ),
    )
    want = {r["doc_id"]: r["sig"] for r in df.select("doc_id", sig.alias("sig")).collect()}
    assert got == want


def test_minhash_kernel_min_words_matches_jvm_prefilter(spark):
    """The in-kernel ``min_words`` mask (round-8: the JVM pre-filter on
    ``words(text)`` was pushed below the balance exchange by Catalyst and
    re-ran the tokenizer serially) must keep EXACTLY the rows the old
    ``where(size(words(text)) >= min_words)`` kept, with bit-identical
    sigs — including the edge classes: NULL text, empty text,
    punctuation-only (0 words), 1-2 words (below k_shingle), exactly
    min_words, and long docs."""
    from pyspark.sql import functions as F

    from ton_etl_spark.operators.dedup import (
        _minhash_signatures_of_words,
        minhash_signatures,
    )
    from ton_etl_spark.functions.text import words

    rows = [(1, "the quick brown fox jumps over the lazy dog twice over"),
            (2, None), (3, ""), (4, "...!!!"), (5, "one"), (6, "two words"),
            (7, "exactly three words"), (8, "x " * 200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for mw in (1, 2, 3, 5):
        staged = df.select(F.col("doc_id"), words(F.col("text")).alias("__ws"))
        got = {
            r["doc_id"]: r["sig"]
            for r in _minhash_signatures_of_words(staged, min_words=mw).collect()
        }
        old = df.where(F.size(words(F.col("text"))) >= mw)
        want = {r["doc_id"]: r["sig"] for r in minhash_signatures(old).collect()}
        assert got == want, f"min_words={mw}"


def test_connected_components_string_ids(spark):
    """The kernel factorizes generically: string node ids must work and
    pick the lexicographically-smallest member as the component id."""
    from ton_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "a"), ("m", "m")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"b": "b", "c": "b", "d": "b", "x": "a", "a": "a", "m": "m"}


def test_pack_chunks_duplicate_order_values_still_tile(spark):
    """Duplicate (group, order) rows must get SEQUENTIAL stream offsets
    (ROWS frame), not peer-inclusive RANGE sums that would make them claim
    overlapping positions and break the pack-budget invariant."""
    from collections import defaultdict

    from ton_etl_spark.operators.packing import pack_chunks

    rows = [(1, "a b c d e", "s"), (1, "a b c d e", "s"), (2, "f g h i j", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    segs = pack_chunks(docs, budget=4).collect()
    tot = defaultdict(int)
    for r in segs:
        tot[r["pack_id"]] += r["seg_len"]
    packs = sorted(tot)
    assert sum(tot.values()) == 15          # every token placed exactly once
    assert all(tot[p] == 4 for p in packs[:-1]) and tot[packs[-1]] == 3


def test_minhash_index_probe_matches_scratch_recompute(spark, tmp_path):
    """Incremental dedup: probing a persisted minhash index with a new
    batch must find exactly the cross (new x indexed) pairs that a full
    minhash_lsh_pairs over the union finds — without re-signing the
    corpus.  Params ride the index sidecar, so the probe cannot diverge."""
    from ton_etl_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(i, f"{base} corpus variant {i}") for i in range(30)]
        + [(100, "completely unrelated text about catalyst optimizer rules")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1000, base + " corpus variant 7"),          # near-dup of doc 7
            (1001, "totally novel content about arrow and pandas batches"),
            (1002, ""),                                  # degenerate: no sig
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mhidx")
    write_minhash_index(corpus, path)
    got = {
        (r["new_id"], r["index_id"]): r["jaccard_est"]
        for r in probe_minhash_index(spark, path, new, min_jaccard_est=0.5).collect()
    }
    # ground truth: full recompute over the union, keep only cross pairs
    both = corpus.unionByName(new)
    scratch = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard_est"]
        for r in minhash_lsh_pairs(both, min_jaccard_est=0.5).collect()
        if (r["id_a"] >= 1000) != (r["id_b"] >= 1000)  # cross pairs only
    }
    assert got == scratch and (1000, 7) in got
    assert all(nid != 1002 for nid, _ in got)  # sig-less doc never probes


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)),  # (source, n_tok)
        min_size=1, max_size=80,
    ),
    budget=st.sampled_from([1, 3, 17, 100]),
    seg_width=st.sampled_from([1, 5, 4096]),
)
def test_pack_chunks_property_invariants(spark, data, budget, seg_width):
    """For ANY doc-size distribution, budget, and cumsum segmentation:
    segments tile each doc exactly, every non-final pack per group holds
    exactly `budget` tokens, pack ids are dense from 0, and zero-token
    docs vanish."""
    from collections import defaultdict

    from ton_etl_spark.operators.packing import pack_chunks

    rows = [(i, " ".join(f"w{j}" for j in range(n)), f"s{s}")
            for i, (s, n) in enumerate(data)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    segs = pack_chunks(docs, budget=budget, seg_width=seg_width).collect()
    n_tok = {i: n for i, (s, n) in enumerate(data)}
    by_doc = defaultdict(list)
    tot = defaultdict(int)
    for r in segs:
        by_doc[r["doc_id"]].append((r["seg_start"], r["seg_len"]))
        tot[(r["source"], r["pack_id"])] += r["seg_len"]
    assert set(by_doc) == {i for i, n in n_tok.items() if n > 0}
    for doc, parts in by_doc.items():
        parts.sort()
        pos = 0
        for stt, ln in parts:
            assert stt == pos and ln > 0
            pos += ln
        assert pos == n_tok[doc]
    for src in {k[0] for k in tot}:
        packs = sorted(k for k in tot if k[0] == src)
        assert [k[1] for k in packs] == list(range(len(packs)))
        assert all(tot[k] == budget for k in packs[:-1])


def test_lsh_near_dup_probe_matches_scratch_recompute(spark, tmp_path):
    """Embedding twin of the minhash index probe: probing a persisted LSH
    index finds exactly the cross (new x indexed) near-dup pairs that
    embedding_near_dups over the union finds, with identical cosines."""
    import math

    from ton_etl_spark.operators.dedup import probe_lsh_near_dups
    from ton_etl_spark.operators.similarity import write_lsh_index

    dim, rng_vecs = 16, []
    import random

    rng = random.Random(5)
    for i in range(40):
        rng_vecs.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # a new vector nearly parallel to corpus vec 3
    base = rng_vecs[3][1]
    near = [x + rng.gauss(0, 0.01) for x in base]
    corpus = spark.createDataFrame(rng_vecs, "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(1000, near), (1001, [rng.gauss(0, 1) for _ in range(dim)])],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "lshidx")
    write_lsh_index(corpus, path, dim=dim, n_planes=4, seed=42, n_tables=4)
    got = {(r["new_id"], r["index_id"]): round(r["cosine"], 9) for r in
           probe_lsh_near_dups(spark, path, new, min_cosine=0.9).collect()}
    both = corpus.unionByName(new)
    scratch = {}
    for r in embedding_near_dups(both, dim=dim, min_cosine=0.9, n_planes=4,
                                 n_tables=4, seed=42).collect():
        a, b = r["id_a"], r["id_b"]
        if (a >= 1000) != (b >= 1000):
            scratch[(max(a, b), min(a, b))] = round(r["cosine"], 9)
    assert got == scratch and (1000, 3) in got
    assert math.isclose(got[(1000, 3)], 1.0, abs_tol=1e-3)


def test_minhash_index_rebuild_crash_fails_loudly(spark, tmp_path, monkeypatch):
    """ADVICE r4: a crash during a REBUILD of an existing index must not
    leave the OLD sidecar validating half-rewritten data — the writer
    retracts the sidecar before touching data files, so probes fail
    loudly for the rebuild window, and a completed rebuild restores them."""
    import pytest as _pytest

    from ton_etl_spark.operators import dedup as dmod

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox number {i} jumps over the lazy dog")
         for i in range(10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1000, "the quick brown fox number 3 jumps over the lazy dog")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mhidx")
    dmod.write_minhash_index(corpus, path)
    assert dmod.probe_minhash_index(spark, path, new).count() >= 1

    real = dmod.band_entries_of

    def boom(*a, **k):
        raise RuntimeError("simulated crash between sigs and entries writes")

    monkeypatch.setattr(dmod, "band_entries_of", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        dmod.write_minhash_index(corpus, path)
    # the stale sidecar is gone: probing the broken index fails loudly
    # instead of silently dropping candidates
    with _pytest.raises(FileNotFoundError):
        dmod.probe_minhash_index(spark, path, new)

    monkeypatch.setattr(dmod, "band_entries_of", real)
    dmod.write_minhash_index(corpus, path)
    assert dmod.probe_minhash_index(spark, path, new).count() >= 1


def test_lsh_index_rebuild_crash_fails_loudly(spark, tmp_path, monkeypatch):
    """Embedding twin of the minhash rebuild-crash contract."""
    import random

    import pytest as _pytest

    from ton_etl_spark.operators import similarity as smod

    rng = random.Random(7)
    dim = 8
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "lshidx")
    smod.write_lsh_index(corpus, path, dim=dim, n_planes=4, seed=42, n_tables=2)
    _, meta = smod.read_lsh_index(spark, path)
    assert meta["dim"] == dim

    real = smod.with_lsh_buckets

    def boom(*a, **k):
        raise RuntimeError("simulated crash during index data rewrite")

    monkeypatch.setattr(smod, "with_lsh_buckets", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        smod.write_lsh_index(corpus, path, dim=dim, n_planes=4, seed=42, n_tables=2)
    with _pytest.raises(FileNotFoundError):
        smod.read_lsh_index(spark, path)

    monkeypatch.setattr(smod, "with_lsh_buckets", real)
    smod.write_lsh_index(corpus, path, dim=dim, n_planes=4, seed=42, n_tables=2)
    _, meta = smod.read_lsh_index(spark, path)
    assert meta["dim"] == dim


def test_minhash_index_append_matches_fresh_rebuild(spark, tmp_path, monkeypatch):
    """Incremental index maintenance: after N appends, probing the grown
    index returns EXACTLY what a fresh full build over the whole corpus
    returns — and a crash between the sigs and entries appends leaves the
    index failing loudly (sidecar retracted), recoverable by rebuild."""
    import pytest as _pytest

    from ton_etl_spark.operators import dedup as dmod

    base = "the quick brown fox jumps over the lazy dog again and again"
    day0 = [(i, f"{base} corpus variant {i}") for i in range(12)]
    day1 = [(100 + i, f"{base} corpus variant {i} extended") for i in range(6)]
    day2 = [(200, "completely unrelated text about catalyst optimizer rules"),
            (201, f"{base} corpus variant 3"),
            (202, "")]  # degenerate: no sig
    schema = "doc_id long, text string"
    probe = spark.createDataFrame(
        [(1000, base + " corpus variant 3"), (1001, "novel arrow pandas text")],
        schema,
    )

    grown = str(tmp_path / "grown")
    dmod.write_minhash_index(spark.createDataFrame(day0, schema), grown)
    r1 = dmod.append_to_minhash_index(spark.createDataFrame(day1, schema), grown)
    r2 = dmod.append_to_minhash_index(spark.createDataFrame(day2, schema), grown)
    assert r1["appends"] == 1 and r2["appends"] == 2
    assert r2["appended"] == 2  # the empty doc signs to NULL and is dropped

    fresh = str(tmp_path / "fresh")
    dmod.write_minhash_index(
        spark.createDataFrame(day0 + day1 + day2, schema), fresh
    )
    got = {(r["new_id"], r["index_id"]): round(r["jaccard_est"], 9) for r in
           dmod.probe_minhash_index(spark, grown, probe, min_jaccard_est=0.4).collect()}
    want = {(r["new_id"], r["index_id"]): round(r["jaccard_est"], 9) for r in
            dmod.probe_minhash_index(spark, fresh, probe, min_jaccard_est=0.4).collect()}
    assert got == want and any(ix == 201 for _, ix in got)  # appended doc probed

    # crash between the two appended files: sidecar gone, probe fails loudly
    monkeypatch.setattr(dmod, "band_entries_of",
                        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")))
    with _pytest.raises(RuntimeError, match="boom"):
        dmod.append_to_minhash_index(spark.createDataFrame(day1, schema), grown)
    with _pytest.raises(FileNotFoundError):
        dmod.probe_minhash_index(spark, grown, probe)


def test_lsh_index_append_matches_fresh_rebuild(spark, tmp_path):
    """Embedding twin: probe after appends == probe after fresh build,
    dim mismatches rejected up front, appends counted in the sidecar."""
    import random

    import pytest as _pytest

    from ton_etl_spark.operators import similarity as smod
    from ton_etl_spark.operators.dedup import probe_lsh_near_dups

    rng = random.Random(11)
    dim = 12
    day0 = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(25)]
    day1 = [(100 + i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(10)]
    # new vector nearly parallel to an APPENDED corpus vector
    near = [x + rng.gauss(0, 0.01) for x in day1[4][1]]
    schema = "vec_id long, embedding array<float>"
    probe = spark.createDataFrame(
        [(1000, near), (1001, [rng.gauss(0, 1) for _ in range(dim)])], schema
    )

    grown = str(tmp_path / "grown")
    smod.write_lsh_index(spark.createDataFrame(day0, schema), grown,
                         dim=dim, n_planes=4, seed=42, n_tables=4)
    res = smod.append_to_lsh_index(spark.createDataFrame(day1, schema), grown)
    assert res == {"appended": 10, "appends": 1}

    fresh = str(tmp_path / "fresh")
    smod.write_lsh_index(spark.createDataFrame(day0 + day1, schema), fresh,
                         dim=dim, n_planes=4, seed=42, n_tables=4)
    got = {(r["new_id"], r["index_id"]): round(r["cosine"], 9) for r in
           probe_lsh_near_dups(spark, grown, probe, min_cosine=0.9).collect()}
    want = {(r["new_id"], r["index_id"]): round(r["cosine"], 9) for r in
            probe_lsh_near_dups(spark, fresh, probe, min_cosine=0.9).collect()}
    assert got == want and (1000, 104) in got

    with _pytest.raises(ValueError, match="dim"):
        smod.append_to_lsh_index(
            spark.createDataFrame([(300, [1.0] * (dim + 1))], schema), grown
        )


def test_empty_index_probes_to_zero_rows(spark, tmp_path):
    """An index built over ZERO documents (the curation stream's first
    batch, a fresh table's bootstrap) is a valid index whose every probe
    answers "no candidates" — the partitioned layout writes no parquet
    files for it, so this exercises the sidecar/explicit-schema read path
    in both modalities.  Appends must then grow it normally."""
    from ton_etl_spark.operators import dedup as dmod
    from ton_etl_spark.operators import similarity as smod

    schema = "doc_id long, text string"
    empty_docs = spark.createDataFrame([], schema)
    mh = str(tmp_path / "mh")
    dmod.write_minhash_index(empty_docs, mh)
    probe = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")], schema
    )
    assert dmod.probe_minhash_index(spark, mh, probe, min_jaccard_est=0.0).count() == 0
    dmod.append_to_minhash_index(probe, mh)
    assert dmod.probe_minhash_index(
        spark, mh, probe.withColumn("doc_id", F.lit(2).cast("long"))
    ).count() == 1

    dim = 6
    eschema = "vec_id long, embedding array<float>"
    lsh = str(tmp_path / "lsh")
    smod.write_lsh_index(spark.createDataFrame([], eschema), lsh, dim=dim, n_tables=2)
    vec = [(1000, [1.0, 0.5, -0.25, 0.125, 2.0, -1.0])]
    new = spark.createDataFrame(vec, eschema)
    assert dmod.probe_lsh_near_dups(spark, lsh, new, min_cosine=0.0).count() == 0
    smod.append_to_lsh_index(new, lsh)
    renamed = spark.createDataFrame([(2000, vec[0][1])], eschema)
    got = dmod.probe_lsh_near_dups(spark, lsh, renamed, min_cosine=0.99).collect()
    assert [(r["new_id"], r["index_id"]) for r in got] == [(2000, 1000)]


def test_dup_clusters_capped_refines_uncapped(spark, sf_dir):
    """The capped production twin of dup_clusters: the bucket cap only
    DROPS candidate pairs, so the capped clustering must be a refinement
    of the uncapped one — every capped cluster lies wholly inside one
    uncapped cluster, and no new ids appear."""
    from ton_etl_spark.plans.queries import QUERIES

    capped = {r["id"]: r["component"] for r in
              QUERIES["dup_clusters_capped"](spark, sf_dir).collect()}
    full = {r["id"]: r["component"] for r in
            QUERIES["dup_clusters"](spark, sf_dir).collect()}
    assert capped and set(capped) <= set(full)
    # refinement: ids sharing a capped component share the full component
    by_comp = {}
    for i, c in capped.items():
        by_comp.setdefault(c, []).append(i)
    for ids in by_comp.values():
        assert len({full[i] for i in ids}) == 1


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta".split()), min_size=1, max_size=12)
        .map(" ".join),
        min_size=1,
        max_size=12,
    ),
    seg_words=st.integers(1, 4),
    min_docfreq=st.integers(2, 4),
)
def test_segment_dedup_properties(spark, texts, seg_words, min_docfreq):
    """Invariants vs a Python reference: per-doc segmentation, corpus
    docfreq, strip-and-reassemble — exactly the operator's contract."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["id"]: r
        for r in segment_dedup(
            df, seg_words=seg_words, min_docfreq=min_docfreq
        ).collect()
    }

    def seg(t):
        ws = t.split(" ")
        return [" ".join(ws[i : i + seg_words]) for i in range(0, len(ws), seg_words)]

    docfreq: dict[str, set] = {}
    for i, t in enumerate(texts):
        for s in set(seg(t)):
            docfreq.setdefault(s, set()).add(i)
    banned = {s for s, d in docfreq.items() if len(d) >= min_docfreq}
    for i, t in enumerate(texts):
        segs = seg(t)
        kept = [s for s in segs if s not in banned]
        assert got[i]["n_segs"] == len(segs)
        assert got[i]["n_kept"] == len(kept)
        assert got[i]["clean_text"] == " ".join(kept)


def test_pq_adc_exact_on_codebook_grid(spark):
    """Sharp PQ correctness anchor: vectors built EXACTLY from codebook
    entries have zero quantization error, so the asymmetric distance must
    equal the exact squared-L2 (float tolerance) and the ADC top-k must
    equal the exact top-k."""
    import numpy as np

    from ton_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_train,
        with_pq_codes,
    )

    rng = np.random.default_rng(7)
    dim, m, k = 8, 4, 4
    d = dim // m
    base = rng.normal(size=(k * 3, dim)).astype(np.float64)
    emb0 = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(len(base))],
        "vec_id long, embedding array<float>",
    )
    books = pq_train(emb0, dim=dim, m=m, k=k, n_train=64, seed=5)
    # grid vectors: every subvector IS a centroid
    grid = []
    for i in range(40):
        v = []
        for mi in range(m):
            v.extend(books[mi][(i * 7 + mi) % k])
        grid.append((i, [float(x) for x in v]))
    gridf = spark.createDataFrame(grid, "vec_id long, embedding array<float>")
    coded = with_pq_codes(gridf, books)
    q = [float(x) for x in rng.normal(size=dim)]
    got = pq_adc_topk(coded, q, books, topk=40).collect()
    qv = np.asarray(q)
    exact = {i: float(((np.asarray(v) - qv) ** 2).sum()) for i, v in grid}
    for r in got:
        assert abs(r["approx_d2"] - exact[r["vec_id"]]) < 1e-6, r["vec_id"]
    top_exact = [i for i, _ in sorted(exact.items(), key=lambda kv: (kv[1], kv[0]))][:10]
    top_adc = [r["vec_id"] for r in got[:10]]
    assert top_adc == top_exact


def test_pq_null_rows_fail_loudly(spark):
    """A NULL embedding reaching the PQ encoder, or a NULL pq_code reaching
    ADC, must raise a contract-stating ValueError instead of an opaque
    numpy TypeError (ADVICE r7)."""
    import numpy as np
    import pytest

    from ton_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_train,
        with_pq_codes,
    )

    rng = np.random.default_rng(3)
    dim = 8
    X = rng.normal(size=(40, dim)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    books = pq_train(emb, dim=dim, m=4, k=4, seed=1)
    with_null = emb.unionByName(
        spark.createDataFrame([(999, None)], "vec_id long, embedding array<float>")
    )
    with pytest.raises(Exception, match="NULL or wrong-length embedding"):
        with_pq_codes(with_null, books).collect()
    coded = with_pq_codes(emb, books)
    broken = coded.withColumn(
        "pq_code",
        F.when(F.col("vec_id") == 0, F.lit(None).cast("binary")).otherwise(F.col("pq_code")),
    )
    q = [0.0] * dim
    with pytest.raises(Exception, match="NULL or wrong-length pq_code"):
        pq_adc_topk(broken, q, books, topk=5).collect()


def test_pq_train_deterministic_and_encode_compresses(spark):
    import numpy as np

    from ton_etl_spark.operators.similarity import pq_train, with_pq_codes

    rng = np.random.default_rng(13)
    dim = 16
    X = rng.normal(size=(300, dim)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    b1 = pq_train(emb, dim=dim, m=4, k=8, seed=9)
    b2 = pq_train(emb, dim=dim, m=4, k=8, seed=9)
    assert b1 == b2, "training is not deterministic"
    codes = {r.vec_id: r.pq_code for r in with_pq_codes(emb, b1).collect()}
    assert all(len(c) == 4 for c in codes.values())  # m bytes per vector
    codes2 = {r.vec_id: r.pq_code for r in with_pq_codes(emb, b1).collect()}
    assert codes == codes2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, dim=dim, m=5, k=8)
    with _pytest.raises(ValueError, match="one byte"):
        pq_train(emb, dim=dim, m=4, k=1000)


def test_ivfpq_index_recall_and_partition_pruning(spark, tmp_path):
    """IVF-PQ: the materialized (id, code) index partition-prunes to the
    probed cells — proven by corrupting every non-probed cell's files —
    and recall vs exact L2 on clustered data stays high even though the
    raw vectors are gone from the index."""
    import os

    import numpy as np

    from ton_etl_spark.operators.similarity import (
        ivf_centroids,
        ivf_probe_cells,
        ivfpq_ann_topk,
        pq_train,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.default_rng(3)
    dim, n_clusters, per = 16, 6, 60
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    X = np.vstack(
        [c + rng.normal(size=(per, dim)) * 0.3 for c in centers]
    ).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_centroids(emb, n_cells=6, dim=dim, seed=11)
    books = pq_train(emb, dim=dim, m=8, k=256, n_train=360, seed=5)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path, cents, books)
    idx, meta = read_ivfpq_index(spark, path)
    assert "embedding" not in idx.columns  # vectors NOT stored

    q = [float(x) for x in (centers[1] + 0.05)]
    probed = set(ivf_probe_cells(q, cents, nprobe=2))
    # corrupt every file of every non-probed cell: opening one fails loudly
    corrupted = 0
    for root, _dirs, files in os.walk(path):
        cell_dir = os.path.basename(root)
        if cell_dir.startswith("ivf_cell="):
            cell = int(cell_dir.split("=")[1])
            if cell not in probed:
                for f in files:
                    if f.endswith(".parquet"):
                        with open(os.path.join(root, f), "wb") as fh:
                            fh.write(b"corrupt: probe must prune me")
                        corrupted += 1
    assert corrupted > 0

    got = [r["vec_id"] for r in ivfpq_ann_topk(idx, meta, q, topk=10, nprobe=2).collect()]
    qv = np.asarray(q)
    exact = np.argsort(((X - qv) ** 2).sum(axis=1), kind="stable")[:10].tolist()
    assert len(set(got) & set(exact)) >= 8, (got, exact)


def test_ivfpq_rerank_restores_exact_topk(spark, tmp_path):
    """ADC alone misses tail candidates under coarse codebooks; exact
    re-ranking of the candidate set restores the TRUE top-k, fetching the
    raw vectors through the LakeTable point-lookup path (bucket-pruned)."""
    import numpy as np

    from ton_etl_spark.lake.table import LakeTable
    from ton_etl_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_rerank_topk,
        pq_train,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.default_rng(3)
    dim, n_clusters, per = 16, 6, 60
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    X = np.vstack(
        [c + rng.normal(size=(per, dim)) * 0.3 for c in centers]
    ).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    # raw vectors live in a keyed LakeTable: the re-rank fetch is a
    # point lookup, not a scan
    t = LakeTable.create(spark, str(tmp_path / "vecs"), schema=emb.schema,
                         key_cols=["vec_id"], n_buckets=4)
    t.append(emb, commit_key="seed")

    cents = ivf_centroids(emb, n_cells=6, dim=dim, seed=11)
    # deliberately COARSE codebooks (k=16): plain ADC degrades
    books = pq_train(emb, dim=dim, m=8, k=16, n_train=360, seed=5)
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb, path, cents, books)
    idx, meta = read_ivfpq_index(spark, path)

    q = [float(x) for x in (centers[1] + 0.05)]
    qv = np.asarray(q)
    exact = np.argsort(((X - qv) ** 2).sum(axis=1), kind="stable")[:10].tolist()
    got = [r["vec_id"] for r in
           ivfpq_rerank_topk(idx, meta, q, t, topk=10, candidates=60,
                             nprobe=2).collect()]
    # re-ranked list is the exact top-10 IN ORDER (restricted to probed
    # cells, which cover the query's cluster)
    assert got == exact, (got, exact)


def test_ivfpq_append_matches_fresh_rebuild(spark, tmp_path):
    """Probe-after-N-appends == probe-after-fresh-rebuild over the same
    union (quantizers frozen in the sidecar make both paths encode
    identically); dim mismatch fails loudly BEFORE touching the index."""
    import numpy as np

    from ton_etl_spark.operators.similarity import (
        append_to_ivfpq_index,
        ivf_centroids,
        ivfpq_ann_topk,
        pq_train,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.default_rng(5)
    dim = 16
    X = rng.normal(size=(400, dim)).astype(np.float32) * 2.0

    def frame(lo, hi):
        return spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<float>",
        )

    base, add1, add2 = frame(0, 200), frame(200, 300), frame(300, 400)
    cents = ivf_centroids(base, n_cells=6, dim=dim, seed=11)
    books = pq_train(base, dim=dim, m=8, k=32, n_train=200, seed=5)

    inc_path = str(tmp_path / "inc")
    write_ivfpq_index(base, inc_path, cents, books)
    assert append_to_ivfpq_index(add1, inc_path)["appends"] == 1
    assert append_to_ivfpq_index(add2, inc_path)["appends"] == 2

    fresh_path = str(tmp_path / "fresh")
    write_ivfpq_index(frame(0, 400), fresh_path, cents, books)

    q = [float(x) for x in X[123]]
    inc_idx, inc_meta = read_ivfpq_index(spark, inc_path)
    fr_idx, fr_meta = read_ivfpq_index(spark, fresh_path)
    got_inc = [(r.vec_id, round(r.approx_d2, 9)) for r in
               ivfpq_ann_topk(inc_idx, inc_meta, q, topk=15, nprobe=3).collect()]
    got_fr = [(r.vec_id, round(r.approx_d2, 9)) for r in
              ivfpq_ann_topk(fr_idx, fr_meta, q, topk=15, nprobe=3).collect()]
    assert got_inc == got_fr
    # appended rows really are probe-visible
    assert any(i >= 200 for i, _ in got_inc)

    import pytest as _pytest

    wrong = spark.createDataFrame([(999, [1.0] * (dim + 1))],
                                  "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="dim"):
        append_to_ivfpq_index(wrong, inc_path)
    # the failed append never retracted the sidecar
    read_ivfpq_index(spark, inc_path)
