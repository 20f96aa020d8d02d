"""Unit tests for dedup, similarity-search and multimodal operators.

Oracle strategy (SURVEY.md section 5): every Spark operator is checked
against an independent numpy/pandas computation on the same rows; LSH
paths are checked against their own brute-force exact counterparts.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bioanalyzer_backend_spark.datagen import imgcodec
from bioanalyzer_backend_spark.operators import dedup, multimodal, similarity


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def test_simhash_batch_deterministic_and_locality():
    texts = pd.Series([
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # 1 token differs
        "completely unrelated caption about spark plans",
        "",
    ])
    a = dedup.simhash_batch(texts)
    b = dedup.simhash_batch(texts)
    pd.testing.assert_series_equal(a, b)          # deterministic
    assert a[3] == 0                               # empty -> 0

    def ham(x, y):
        return bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")

    near = ham(a[0], a[1])
    far = ham(a[0], a[2])
    assert near < far                              # locality-sensitive


def test_simhash_spark_matches_numpy(spark, synth_images_df):
    df = synth_images_df.select("image_id", "caption").limit(200)
    got = dedup.with_simhash(df).toPandas().sort_values("image_id")
    want = dedup.simhash_batch(
        got.sort_values("image_id")["caption"].reset_index(drop=True))
    np.testing.assert_array_equal(
        got["simhash"].to_numpy(), want.to_numpy())


def test_simhash_candidates_cover_hamming3_pairs(spark):
    # pigeonhole: signatures within Hamming<=3 agree on >=1 of 4 blocks
    rows = [("a", "the quick brown fox jumps over the lazy dog today"),
            ("b", "the quick brown fox jumps over the lazy dog tonight"),
            ("c", "totally different words entirely unrelated caption here")]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    sigs = dedup.simhash_batch(pd.Series([r[1] for r in rows]))
    ham_ab = bin((int(sigs[0]) ^ int(sigs[1])) & ((1 << 64) - 1)).count("1")
    pairs = {(r.id_a, r.id_b)
             for r in dedup.simhash_candidates(df).collect()}
    if ham_ab <= 3:
        assert ("a", "b") in pairs


def test_simhash_wide_mode_equals_default_mode(spark, synth_images_df):
    """Wide-key candidate generation (6 blocks, 3-block ~32-bit keys,
    C(6,3)=20 tables — the 10^12-row path) is COMPLETE for Hamming<=3 by
    the same pigeonhole as the 4x16 default: after exact Hamming verify
    the two modes must produce the identical pair set."""
    df = synth_images_df.select("image_id", "caption").limit(300)

    def verified(pairs):
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return {(r.id_a, r.id_b) for r in
                pairs.withColumn("h", ham).where("h <= 3")
                .select("id_a", "id_b").collect()}

    narrow = verified(dedup.simhash_candidates(df, max_bucket=None))
    wide = verified(dedup.simhash_candidates(
        df, n_blocks=6, agree_blocks=3, max_bucket=None))
    assert wide == narrow
    assert len(narrow) > 0          # synth corpus plants dup captions


def test_simhash_auto_cap_bounds_degenerate_corpus(spark):
    """Default max_bucket='auto' (round-2 verdict: the uncapped default
    was a 100x landmine): a constant-caption corpus larger than the
    derived cap collapses to ZERO candidate pairs with every dropped
    bucket reported, while the explicit None opt-out reproduces the
    n^2/2 explosion."""
    n = 80                                  # > derived floor cap of 64
    assert dedup.derived_bucket_cap(n, 16) == 64
    rows = [(f"c{i:03d}", "identical template caption body")
            for i in range(n)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    pairs, hot = dedup.simhash_candidates(df, return_report=True)
    assert pairs.count() == 0               # every bucket hot -> dropped
    report = hot.collect()
    assert len(report) == 4                 # one per 16-bit block
    assert all(r.bucket_n == n for r in report)
    unc = dedup.simhash_candidates(df, max_bucket=None)
    assert unc.count() == n * (n - 1) // 2  # the landmine, opt-in only


# --------------------------------------------------------------------------
# MinHash-LSH + Jaccard verify
# --------------------------------------------------------------------------

def _true_jaccard(t1: str, t2: str, n: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    a, b = sh(t1), sh(t2)
    return len(a & b) / len(a | b) if a | b else 0.0


def test_minhash_candidates_then_jaccard_verify(spark):
    base = ("a scenic view of mountains under a clear blue sky with "
            "green trees and a quiet lake in the foreground")
    near = base.replace("quiet", "calm")
    far = "numbers 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20"
    rows = [("d1", base), ("d2", near), ("d3", far)]
    df = spark.createDataFrame(rows, "image_id string, caption string")

    cand = dedup.minhash_lsh_candidates(df)
    got_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert ("d1", "d2") in got_pairs          # high-jaccard pair surfaces

    ver = dedup.jaccard_verify(df, cand, threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in ver}
    assert ("d1", "d2") in got
    assert got[("d1", "d2")] == pytest.approx(_true_jaccard(base, near))
    assert ("d1", "d3") not in got            # verify kills false positives


def test_minhash_banding_prunes_mid_similarity_candidates(spark):
    """The r=4 banding's whole point at 10^12 rows: mid-similarity pairs
    (Jaccard ~0.3-0.5, far below the 0.8 verify bar) must mostly NOT
    become candidates, while near-identical pairs still surface. r=1
    (one minhash per band, the old scheme) admits candidates from
    s ~= 0.16 and floods the verify stage; r=4 raises the S-curve
    threshold to ~0.71."""
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    # 20 docs sharing a sliding half-window of vocabulary: adjacent docs
    # overlap heavily in tokens but share few 3-gram shingles exactly ->
    # a mid-similarity mesh
    for i in range(20):
        toks = [words[(i + j) % 20] for j in range(12)]
        rows.append((f"m{i:02d}", " ".join(toks + toks[:4])))
    # one near-identical pair (Jaccard ~0.9)
    base = ("a scenic view of mountains under a clear blue sky with green "
            "trees and a quiet lake in the foreground near the old bridge")
    rows += [("hi0", base), ("hi1", base.replace("bridge", "tower"))]
    df = spark.createDataFrame(rows, "image_id string, caption string")

    loose = {(r.id_a, r.id_b) for r in
             dedup.minhash_lsh_candidates(df, n_rows=1).collect()}
    tight = {(r.id_a, r.id_b) for r in
             dedup.minhash_lsh_candidates(df, n_rows=4).collect()}
    assert ("hi0", "hi1") in tight              # high-J pair survives
    assert len(tight) < len(loose)              # mid-J flood pruned
    assert tight <= loose                       # r=4 only removes


def test_exact_dedup_keeps_min_id(spark):
    rows = [("i3", 7), ("i1", 7), ("i2", 9)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    kept = sorted(r.image_id for r in dedup.exact_dedup(df).collect())
    assert kept == ["i1", "i2"]
    # is_dup is the flag exact_dedup filters on: an input one would be
    # silently overwritten, so it raises instead
    with pytest.raises(ValueError, match="is_dup"):
        dedup.exact_dedup(df.withColumn("is_dup", F.lit(False)))


def test_exact_dedup_null_keys_pass_through(spark):
    """NULL keys (undecodable images) are NOT duplicates of each other:
    every NULL-key row survives — the old groupBy treated NULL as one
    group and silently dropped all but the min-id broken row."""
    rows = [("i3", 7), ("i1", 7), ("n1", None), ("n2", None), ("n3", None)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    kept = sorted(r.image_id for r in dedup.exact_dedup(df).collect())
    assert kept == ["i1", "n1", "n2", "n3"]


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    vecs[5] = vecs[0] + 0.01 * rng.standard_normal(16).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(300),
                        "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    return df, vecs


def test_cosine_topk_matches_numpy(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].astype(np.float64)
    got = similarity.cosine_topk(df.where("vec_id != 0"), q.tolist(), k=5)
    got_ids = [r.vec_id for r in got.collect()]

    others = np.delete(np.arange(300), 0)
    m = vecs[others].astype(np.float64)
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want_ids = others[np.argsort(-cos, kind="stable")][:5].tolist()
    assert got_ids == want_ids
    assert got_ids[0] == 5                    # planted near-dup wins


def test_lsh_topk_full_radius_equals_bruteforce(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].tolist()
    brute = [r.vec_id for r in
             similarity.cosine_topk(df.where("vec_id != 0"), q, 5).collect()]
    lsh_all = [r.vec_id for r in similarity.lsh_cosine_topk(
        df.where("vec_id != 0"), q, k=5, n_planes=12,
        hamming_radius=12).collect()]
    assert lsh_all == brute                   # radius=planes => no pruning


def test_lsh_topk_pruned_finds_neardup(spark, emb_df):
    df, vecs = emb_df
    got = similarity.lsh_cosine_topk(
        df.where("vec_id != 0"), vecs[0].tolist(), k=5,
        n_planes=12, hamming_radius=2)
    rows = got.collect()
    assert rows and rows[0].vec_id == 5       # near-dup shares the bucket


def test_ann_rerank_drops_zero_norm_like_numpy_twin(spark):
    """A zero-norm embedding has an undefined (NULL) cosine. In a sparse
    candidate set (fewer than 10 survivors) the Spark re-rank must drop
    it exactly as the numpy twin's dropna does — sorting it last is not
    enough when the top-10 has room for it."""
    from bioanalyzer_backend_spark.plans import catalog_queries as CQ

    vecs = np.array([[1.0, 0.5, 0.0, 0.25], [0.5, 1.0, 0.0, 0.0],
                     [0.0, 0.0, 0.0, 0.0], [0.25, 0.0, 1.0, 0.5],
                     [1.0, 0.5, 0.25, 0.0]])
    ids = np.arange(len(vecs), dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>")
    scored = similarity.lsh_cosine_topk(
        df.where("vec_id != 0"), vecs[0].tolist(), k=1 << 30,
        n_planes=16, hamming_radius=16)
    got = CQ._ann_exact_rerank(scored).toPandas()
    want = CQ._ann_rounded_topk_np(ids, vecs, vecs[0], ids != 0)
    assert 2 not in got["vec_id"].tolist()
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)


def test_ivf_topk_full_probe_equals_bruteforce(spark, emb_df):
    df, vecs = emb_df
    q = vecs[0].tolist()
    brute = [r.vec_id for r in
             similarity.cosine_topk(df.where("vec_id != 0"), q, 5).collect()]
    ivf_all = [r.vec_id for r in similarity.ivf_cosine_topk(
        df.where("vec_id != 0"), q, k=5, n_centroids=8,
        n_probe=8).collect()]
    assert ivf_all == brute                   # probe-all => exact


def test_ivf_topk_pruned_finds_neardup(spark, emb_df):
    df, vecs = emb_df
    got = similarity.ivf_cosine_topk(
        df.where("vec_id != 0"), vecs[0].tolist(), k=5,
        n_centroids=8, n_probe=2)
    rows = got.collect()
    # the planted near-dup of vec 0 lands in vec 0's own centroid list,
    # which is always the first list probed
    assert rows and rows[0].vec_id == 5
    brute = [r.vec_id for r in similarity.cosine_topk(
        df.where("vec_id != 0"), vecs[0].tolist(), 5).collect()]
    recall = len(set(r.vec_id for r in rows) & set(brute)) / 5
    assert recall >= 0.4                      # pruned probe keeps most of top-5


def test_ivf_centroids_deterministic(spark, emb_df):
    df, _ = emb_df
    c1 = similarity.ivf_train_centroids(df, n_centroids=8)
    c2 = similarity.ivf_train_centroids(df, n_centroids=8)
    assert np.array_equal(c1, c2)


def test_lsh_bucket_wide_planes_long_signature(spark, emb_df):
    """n_planes >= 32 must work (the signature is int64 end to end): a
    radius-0 probe with the query's own vector in the corpus returns it —
    the old int32 cast wrapped corpus buckets negative, XOR grew 32
    phantom bits, and wide-plane probes silently returned nothing. 64+
    planes exceed the long and must fail loudly."""
    df, vecs = emb_df
    top = similarity.lsh_cosine_topk(df, vecs[0].tolist(), k=1,
                                     n_planes=32, hamming_radius=0)
    rows = top.collect()
    assert rows and rows[0]["vec_id"] == 0 and rows[0]["cos_sim"] == 1.0
    with pytest.raises(ValueError, match="n_planes"):
        similarity.with_lsh_bucket(df, 16, n_planes=64)


def test_embedding_neardup_pairs_finds_planted(spark, emb_df):
    df, _ = emb_df
    pairs = similarity.embedding_neardup_pairs(df, dim=16, threshold=0.95)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 5) in got


# --------------------------------------------------------------------------
# Multimodal (binary image columns)
# --------------------------------------------------------------------------

def test_image_stats_matches_numpy(spark, synth_images, synth_images_df):
    got = multimodal.image_stats(synth_images_df.limit(50)).toPandas()
    ok = got[got.ok]
    assert len(ok) > 0
    src = synth_images.set_index("image_id")
    for _, r in ok.head(10).iterrows():
        row = src.loc[r.image_id]
        px = imgcodec.decode(bytes(row["bytes"]), row["fmt"])
        m = px.reshape(-1, 3).mean(axis=0)
        assert r.mean_r == pytest.approx(float(m[0]))
        assert r.decoded_w == px.shape[1] and r.decoded_h == px.shape[0]


def test_image_stats_error_rows(spark):
    rows = [("bad1", bytearray(b"\x00\x01junk"), "bmp"),
            ("bad2", bytearray(b""), "ppm")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = multimodal.image_stats(df).toPandas().sort_values("image_id")
    assert (~got.ok).all()
    assert got.err.str.len().gt(0).all()      # F6: errors flow as data


def test_resize_images_roundtrip(spark, synth_images_df):
    out = multimodal.resize_images(synth_images_df.limit(20), 8, 8).toPandas()
    assert len(out) > 0
    assert (out.w == 8).all() and (out.h == 8).all()
    px = imgcodec.decode(bytes(out.iloc[0]["bytes"]), "bmp")
    assert px.shape == (8, 8, 3)


def test_decode_failure_is_error_row_or_no_row(spark):
    """One shared decode-or-error row map: in a batch mixing a good and
    an undecodable image, image_stats turns the failure into an
    ``ok=false`` row whose err names the exception type, and
    resize_images emits no row for it."""
    good = imgcodec.encode_bmp(np.full((4, 6, 3), 7, dtype=np.uint8))
    df = spark.createDataFrame(
        [("g", bytearray(good), "bmp"), ("b", bytearray(b"junk"), "bmp")],
        "image_id string, bytes binary, fmt string").coalesce(1)
    stats = {r.image_id: r for r in multimodal.image_stats(df).collect()}
    assert stats["g"].ok and stats["g"].err is None
    assert (stats["g"].decoded_w, stats["g"].decoded_h) == (6, 4)
    assert stats["g"].mean_r == 7.0
    assert not stats["b"].ok and stats["b"].mean_r is None
    assert stats["b"].err.startswith("ValueError: ")
    thumbs = multimodal.resize_images(df, 2, 2).collect()
    assert [r.image_id for r in thumbs] == ["g"]


def test_resize_encoder_fault_fails_the_job(spark, monkeypatch):
    """Only the decode is guarded: a fault in the re-encode must fail
    the task, not silently drop the row. The module is swapped for a
    namespace (pickled with the task) because the Python workers import
    their own copy of imgcodec."""
    from types import SimpleNamespace

    def boom(px):
        raise RuntimeError("encoder fault")

    monkeypatch.setattr(multimodal, "imgcodec", SimpleNamespace(
        decode=imgcodec.decode, encode_bmp=boom))
    good = imgcodec.encode_bmp(np.full((4, 4, 3), 1, dtype=np.uint8))
    df = spark.createDataFrame([("g", bytearray(good), "bmp")],
                               "image_id string, bytes binary, fmt string")
    with pytest.raises(Exception, match="encoder fault"):
        multimodal.resize_images(df).collect()


def test_audio_features_wav_pcm16(spark):
    """WAV/PCM16 decodes with the pure-numpy RIFF parser: a known sine
    clip yields exact duration/rate and RMS ~ A/sqrt(2); compressed
    formats surface as error rows."""
    import numpy as np

    rate, secs, amp = 8000, 2.0, 0.5
    t = np.arange(int(rate * secs)) / rate
    wav = multimodal.encode_wav_pcm16(amp * np.sin(2 * np.pi * 440 * t),
                                      rate)
    df = spark.createDataFrame(
        [("c0", bytearray(wav)), ("c1", bytearray(b"ID3\x03not-a-wav"))],
        "clip_id string, bytes binary")
    got = {r["clip_id"]: r for r in multimodal.audio_features(df).collect()}

    ok = got["c0"]
    assert ok["ok"] and ok["sample_rate"] == rate
    assert abs(ok["duration_s"] - secs) < 1e-9
    assert abs(ok["rms"] - amp / np.sqrt(2)) < 1e-3
    bad = got["c1"]
    assert not bad["ok"] and "not a RIFF" in bad["err"]
    assert bad["duration_s"] is None


def test_verify_dup_groups_pixel_level(spark):
    """applyInPandas grouped-map: phash collisions are verified at pixel
    level — identical pixels pass, colliders and corrupt rows fail."""
    import numpy as np

    from bioanalyzer_backend_spark.datagen import imgcodec
    from bioanalyzer_backend_spark.operators import multimodal

    rng = np.random.default_rng(5)
    px_a = rng.integers(0, 255, (8, 8, 3), dtype=np.uint8)
    px_b = rng.integers(0, 255, (8, 8, 3), dtype=np.uint8)   # collider
    rows = [
        ("i0", imgcodec.encode_bmp(px_a), "bmp", 42),   # canonical
        ("i1", imgcodec.encode_bmp(px_a), "bmp", 42),   # true dup
        ("i2", imgcodec.encode_bmp(px_b), "bmp", 42),   # phash collision
        ("i3", b"garbage", "bmp", 42),                  # undecodable
        ("i4", imgcodec.encode_bmp(px_b), "bmp", 99),   # singleton group
        # group whose CANONICAL (min id) is itself undecodable
        ("x0", b"broken-canonical", "bmp", 77),
        ("x1", imgcodec.encode_bmp(px_b), "bmp", 77),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, phash long")
    got = {r["image_id"]: r for r in
           multimodal.verify_dup_groups(df).collect()}

    assert set(got) == {"i0", "i1", "i2", "i3", "x0", "x1"}  # singleton pruned
    assert got["i0"]["pixel_dup"] and got["i0"]["canonical_id"] == "i0"
    assert got["i1"]["pixel_dup"] and got["i1"]["psnr_db"] == float("inf")
    assert not got["i2"]["pixel_dup"]            # collider rejected
    assert got["i2"]["psnr_db"] < 40.0
    assert not got["i3"]["pixel_dup"]            # error-row semantics
    assert got["i3"]["psnr_db"] is None
    # an undecodable canonical is an ERROR row, not a phantom inf-PSNR
    # "verified" row — and its members cannot verify against it
    assert not got["x0"]["pixel_dup"] and got["x0"]["psnr_db"] is None
    assert not got["x1"]["pixel_dup"] and got["x1"]["psnr_db"] is None


def test_minhash_mega_bucket_cap(spark):
    """A boilerplate caption repeated m times would contribute ~m^2/2
    candidate pairs; cap_buckets skips the hot bucket and REPORTS it,
    while unrelated small groups keep their candidates."""
    from bioanalyzer_backend_spark.operators import dedup

    boiler = [(f"h{i:03d}", "click here to download the full image now")
              for i in range(50)]
    pair = [("p0", "a quiet river bends through the green valley"),
            ("p1", "a quiet river bends through the green valley")]
    df = spark.createDataFrame(boiler + pair, "image_id string, caption string")

    uncapped = dedup.minhash_lsh_candidates(df)
    capped = dedup.minhash_lsh_candidates(df, max_bucket=10)
    got_u = {(r.id_a, r.id_b) for r in uncapped.collect()}
    got_c = {(r.id_a, r.id_b) for r in capped.collect()}

    assert ("p0", "p1") in got_u and ("p0", "p1") in got_c
    assert len(got_u) >= 50 * 49 // 2          # hot bucket exploded
    assert got_c == {("p0", "p1")}             # hot bucket skipped

    # the dropped-bucket report is explicit (no silent caps)
    sig = spark.createDataFrame(
        [("x", 0, "k")] * 20 + [("y", 0, "k2")],
        "_id string, band int, sig string")
    kept, hot = dedup.cap_buckets(sig, ["band", "sig"], 10)
    assert kept.count() == 1
    h = hot.collect()[0]
    assert (h.band, h.sig, h.bucket_n) == (0, "k", 20)
    # max_bucket=None is the generators' opt-out: every row comes back
    # (no singleton prune, even with min_bucket=2) with an empty report
    # of the counts aggregate's schema
    kept, hot = dedup.cap_buckets(sig, ["band", "sig"], None, min_bucket=2)
    assert kept.count() == 21
    assert hot.columns == ["band", "sig", "bucket_n"]
    assert hot.dtypes[-1] == ("bucket_n", "bigint")
    assert hot.count() == 0


def test_with_phash_matches_stamped(spark, synth_images, synth_images_df):
    """Deriving phash from bytes reproduces the generator's stamped value
    on every non-dup-group row (dup-group members carry the canonical
    member's stamp over noisy pixels, by design); garbage bytes -> NULL."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.operators import multimodal

    clean_ids = set(
        synth_images.loc[synth_images["dup_group"] == "", "image_id"])
    # sorted: a bare set slice varies with PYTHONHASHSEED across runs
    # (was a flake — the sample sometimes included the one deliberate
    # fmt-mismatch edge row, whose decode NULLs by design)
    sample = (synth_images_df
              .where(F.col("image_id").isin(sorted(clean_ids)[:300]))
              .select("image_id", "bytes", "fmt",
                      F.col("phash").alias("stamped")))
    got = multimodal.with_phash(sample)
    assert got.count() > 200
    assert got.where(F.col("phash") != F.col("stamped")).count() == 0
    # at most the single fmt-mismatch edge row may NULL (decode error)
    assert got.where(F.col("phash").isNull()).count() <= 1

    bad = spark.createDataFrame([("x", b"nope", "bmp")],
                                "image_id string, bytes binary, fmt string")
    assert multimodal.with_phash(bad).collect()[0]["phash"] is None


def test_video_frame_sample_avi(spark):
    """Uncompressed AVI round-trip: 12 frames at 4 fps sampled every 1s
    -> frames 0/4/8 with exact timestamps and pixel content."""
    import numpy as np

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 255, (6, 5, 3), dtype=np.uint8)
              for _ in range(12)]
    avi = multimodal.encode_avi_rgb24(frames, fps=4)
    df = spark.createDataFrame(
        [("v0", bytearray(avi)), ("v1", bytearray(b"not a video"))],
        "video_id string, bytes binary")
    got = (multimodal.video_frame_sample(df, every_s=1.0)
           .toPandas().sort_values("frame_idx").reset_index(drop=True))

    assert got["video_id"].unique().tolist() == ["v0"]   # bad row dropped
    assert got["frame_idx"].tolist() == [0, 4, 8]
    assert got["ts_s"].tolist() == [0.0, 1.0, 2.0]
    assert (got["w"] == 5).all() and (got["h"] == 6).all()
    px = imgcodec.decode(bytes(got.iloc[1]["bytes"]), "bmp")
    assert (px == frames[4]).all()                       # exact pixels


def test_gopher_repetition_and_tfidf_semantics_duckdb():
    """Threshold semantics of the repetition filter and the TF-IDF
    ranking, checked on a hand-built corpus via the DuckDB rendering
    (cross-engine equality is covered by test_oracle_parity; this pins
    WHAT the rules decide)."""
    import duckdb

    from bioanalyzer_backend_spark.plans.catalog_queries import (
        _q_gopher_repetition, _q_tfidf_top_terms)
    from bioanalyzer_backend_spark.sqlgen import DUCK

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    spam = " ".join(["click here"] * 20)       # one bigram dominates
    clean = ("the quick brown fox jumps over a lazy dog near the old "
             "river bank today")
    con.execute("INSERT INTO documents VALUES (0, ?, 'en', 's', 1), "
                "(1, ?, 'en', 's', 1), (2, '', 'en', 's', 0), "
                "(3, 'sunset over the calm lake', 'en', 's', 1)",
                [spam, clean])

    rep = {r[0]: r for r in
           con.execute(_q_gopher_repetition(DUCK)).fetchall()}
    assert rep[0][1] > 0.18 and rep[0][2] > 0.30   # spam fractions
    assert not rep[0][3]                           # -> dropped
    assert rep[1][3]                               # clean -> kept
    assert rep[2][1] is None and rep[2][3]         # unmeasurable -> kept
    # short clean doc: top share 0.25 by pigeonhole alone, but below the
    # min-gram gate -> the repetition filter must NOT reject it
    assert rep[3][1] == 0.25 and rep[3][3]

    tf = con.execute(_q_tfidf_top_terms(DUCK)).df()
    con.execute("DROP TABLE documents")
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.execute("INSERT INTO documents VALUES "
                "(0, 'alpha alpha alpha common', 'en', 's', 1), "
                "(1, 'beta common', 'en', 's', 1), "
                "(2, 'common', 'en', 's', 1)")
    tf = con.execute(_q_tfidf_top_terms(DUCK)).df()
    d0 = tf[(tf.row_id == 0) & (tf.rn == 1)].iloc[0]
    assert d0["term"] == "alpha"                   # rare term outranks
    common = tf[tf.term == "common"]
    assert (common["tfidf"] == 0.0).all()          # df == N -> ln(1) = 0


def test_audio_video_registry_entries(spark):
    """The audio/video registry entries read the generate-once parquet
    corpora and produce plausible, fully-populated frames: compressed
    containers surface as error rows (audio) or are skipped (video),
    decoded rows carry real features. Since round 5 both entries are
    DuckDB-oracled against generator ground-truth columns — this test
    ALSO runs that oracle compare value-exactly, so a parser/sampler
    regression fails here before the driver sweep sees it."""
    import duckdb

    from bioanalyzer_backend_spark.plans.catalog_queries import registry

    reg = registry()
    audio = reg["audio_stats_multimodal"][0](spark, "unused").toPandas()
    assert len(audio) == 600
    bad = audio[~audio["ok"]]
    assert len(bad) > 0 and bad["err"].notna().all()   # F6 error rows
    ok = audio[audio["ok"]]
    assert ok["sample_rate"].isin([8000, 16000]).all()
    assert (ok["duration_s"] > 0).all() and (ok["rms"] > 0).all()

    video = reg["video_frames_multimodal"][0](spark, "unused").toPandas()
    assert video["video_id"].nunique() > 500           # mp4 rows skipped
    # 4 fps + 1 s sampling -> every 4th frame, timestamps exact
    assert (video["frame_idx"] % 4 == 0).all()
    assert (video["ts_s"] == video["frame_idx"] * 0.25).all()
    assert (video["n_bytes"] > 0).all()

    con = duckdb.connect()
    for name, got in (("audio_stats_multimodal", audio),
                      ("video_frames_multimodal", video)):
        oracle = con.execute(reg[name][1]).df()
        cols = sorted(oracle.columns)
        assert cols == sorted(got.columns), name
        g = got[cols].sort_values(cols).reset_index(drop=True)
        o = oracle[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, o, check_dtype=False,
                                      check_exact=True)


def test_image_registry_oracle_compare(spark):
    """Since round 5 the three image registry entries (stats / thumbs /
    pixel-PSNR dup verify) are DuckDB-oracled against the g4 generator
    ground-truth meta columns (synth._image_gt_columns). This runs the
    driver's compare value-exactly so a codec/stats/psnr regression
    fails here before the sweep sees it; the fmt-mismatch edge row must
    surface as an error row in stats, be dropped from thumbs, and score
    psnr NULL / pixel_dup false inside its phash group."""
    import duckdb

    from bioanalyzer_backend_spark.plans.catalog_queries import registry

    reg = registry()
    con = duckdb.connect()
    frames = {}
    for name in ("image_stats_multimodal", "resize_thumbs_multimodal",
                 "dup_pixel_verify_images"):
        got = reg[name][0](spark, "unused").toPandas()
        frames[name] = got
        oracle = con.execute(reg[name][1]).df()
        cols = sorted(oracle.columns)
        assert cols == sorted(got.columns), name
        g = got[cols].sort_values(cols).reset_index(drop=True)
        o = oracle[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, o, check_dtype=False,
                                      check_exact=True)
    stats = frames["image_stats_multimodal"]
    assert (~stats["ok"]).sum() == 1                    # mismatch edge row
    bad_id = stats.loc[~stats["ok"], "image_id"].iloc[0]
    assert stats.loc[~stats["ok"], "err"].iloc[0] == "ValueError: not a BMP"
    assert bad_id not in set(frames["resize_thumbs_multimodal"]["image_id"])
    dup = frames["dup_pixel_verify_images"]
    bad_dup = dup[dup["image_id"] == bad_id]
    assert len(bad_dup) == 1                            # pxa group member
    assert bad_dup["psnr_db"].isna().all()
    assert not bad_dup["pixel_dup"].any()


def test_ops_dashboard_rollup(spark):
    """Ops-dashboard rollup (log_dashboard.py:52-143 port): pins the
    column set and the panel semantics — the '<all>' row aggregates the
    whole stream, error counts/rate split on event_type='error', the
    recent window anchors to MAX(ts), per-op rows partition the total."""
    import duckdb

    from bioanalyzer_backend_spark.plans.catalog_queries import (
        DUCK, _q_ops_dashboard)

    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, "
                "user_id BIGINT, event_type VARCHAR, value DOUBLE, "
                "props VARCHAR)")
    con.execute("""INSERT INTO events VALUES
        (0, TIMESTAMP '2024-01-01 00:00:00', 1, 'view',  2.0, '{}'),
        (1, TIMESTAMP '2024-01-01 05:00:00', 1, 'view',  4.0, '{}'),
        (2, TIMESTAMP '2024-01-01 05:30:00', 2, 'error', 6.0, '{}'),
        (3, TIMESTAMP '2024-01-01 06:00:00', 2, 'click', 8.0, '{}')""")
    df = con.execute(_q_ops_dashboard(DUCK)).df().set_index("op")
    assert list(df.columns) == ["n_events", "n_ok", "n_errors",
                                "error_rate", "avg_v", "min_v", "max_v",
                                "n_recent"]
    assert set(df.index) == {"<all>", "view", "error", "click"}
    al = df.loc["<all>"]
    assert al["n_events"] == 4 and al["n_ok"] == 3 and al["n_errors"] == 1
    assert al["error_rate"] == 0.25 and al["avg_v"] == 5.0
    assert al["min_v"] == 2.0 and al["max_v"] == 8.0
    # recent window = [max_ts - 1h, max_ts] -> events at 05:00/05:30/06:00
    assert al["n_recent"] == 3
    assert df.loc["view", "n_recent"] == 1          # only the 05:00 view
    assert df.loc["error", "error_rate"] == 1.0
    assert int(df.drop("<all>")["n_events"].sum()) == 4


def test_minhash_cap_report_surfaces_dropped_buckets(spark):
    """return_report=True hands callers the skipped-bucket rows for the
    audit table (no silent caps at the public API)."""
    boiler = [(f"h{i:03d}", "click here to download the full image now")
              for i in range(30)]
    df = spark.createDataFrame(boiler, "image_id string, caption string")
    pairs, hot = dedup.minhash_lsh_candidates(df, max_bucket=5,
                                              return_report=True)
    assert pairs.count() == 0
    report = hot.collect()
    assert len(report) >= 1
    assert all(r["bucket_n"] == 30 for r in report)
    # without a cap the report is an empty frame with the same schema
    pairs2, hot2 = dedup.minhash_lsh_candidates(df, return_report=True)
    assert hot2.count() == 0 and "bucket_n" in hot2.columns


def test_minhash_operator_matches_sql_twin(spark):
    """Operator == SQL twin: at the twin's cap (32) the DataFrame
    operator and _q_minhash_bands render the same shingles, digests and
    band signatures (sqlgen) and keep band buckets of size 2..32, so on
    the parity corpus both return the same candidate pair set."""
    from bioanalyzer_backend_spark.plans import catalog_queries as cq
    from bioanalyzer_backend_spark.session import register_testdata_views
    from bioanalyzer_backend_spark.sqlgen import SPARK

    register_testdata_views(spark, cq._parity_sf_dir())
    op = dedup.minhash_lsh_candidates(spark.table("documents"),
                                      text_col="text", id_col="doc_id",
                                      max_bucket=32)
    got = {(r.id_a, r.id_b) for r in op.collect()}
    want = {(r.ra, r.rb) for r in cq._spark_sql(
        spark, cq._parity_sf_dir(), cq._q_minhash_bands(SPARK)).collect()}
    assert want and got == want


def test_simhash_cap_report_surfaces_dropped_buckets(spark):
    """simhash twin of the minhash cap-report contract."""
    boiler = [(f"s{i:03d}", "identical template caption body") for i in range(25)]
    df = spark.createDataFrame(boiler, "image_id string, caption string")
    pairs, hot = dedup.simhash_candidates(df, max_bucket=5,
                                          return_report=True)
    assert pairs.count() == 0
    assert hot.count() >= 1 and "bucket_n" in hot.columns
    pairs2, hot2 = dedup.simhash_candidates(df, return_report=True)
    assert hot2.count() == 0


def test_jaccard_verify_hot_shingle_cap_bounds_pairs(spark):
    """Boilerplate shingles (posting count > cap) are dropped from the
    shingle universe before the posting-list join: pairs that are
    'similar' only through the shared template no longer verify, and the
    dropped shingles surface in the report (no silent truncation).
    Mirrors the max_posting cap in the _q_ngram_jaccard SQL twin."""
    tmpl = "subscribe to our channel and click the bell icon for updates"
    rows = [(f"b{i:02d}", f"unique caption number {i} alpha beta {tmpl}")
            for i in range(30)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    all_pairs = spark.createDataFrame(
        [(a, b) for i, (a, _) in enumerate(rows)
         for b, _ in rows[i + 1:]], "id_a string, id_b string")

    # uncapped: every pair verifies at 0.5 through the boilerplate alone
    ver0 = dedup.jaccard_verify(df, all_pairs, threshold=0.5)
    n0 = ver0.count()
    assert n0 == 30 * 29 // 2

    # capped: the template shingles post 30 docs > cap 5 -> dropped from
    # the universe, similarity collapses to the unique prefixes -> 0 pairs
    ver1, hot = dedup.jaccard_verify(df, all_pairs, threshold=0.5,
                                     max_posting=5, return_report=True)
    assert ver1.count() == 0
    report = {r["shingle"]: r["bucket_n"] for r in hot.collect()}
    assert any(n == 30 for n in report.values())
    assert all(n > 5 for n in report.values())

    # no cap requested -> empty report, same schema
    ver2, hot2 = dedup.jaccard_verify(df, all_pairs, threshold=0.5,
                                      return_report=True)
    assert hot2.count() == 0 and "bucket_n" in hot2.columns
    assert ver2.count() == n0


def test_jaccard_verify_dedups_duplicate_candidate_pairs(spark):
    """A duplicate (id_a, id_b) candidate row must not double-count the
    intersection (jaccard is defined on a SET of pairs; a doubled inter
    over exact na/nb inflates the measure past 1.0 and falsely verifies
    pairs — pinned by the round-5 dropDuplicates guard)."""
    base = ("a scenic view of mountains under a clear blue sky with "
            "green trees and a quiet lake in the foreground")
    near = base.replace("quiet", "calm")
    df = spark.createDataFrame([("d1", base), ("d2", near)],
                               "image_id string, caption string")
    dup_pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d2"), ("d1", "d2")],
        "id_a string, id_b string")
    ver = dedup.jaccard_verify(df, dup_pairs, threshold=0.5).collect()
    assert len(ver) == 1
    assert ver[0]["jaccard"] == pytest.approx(_true_jaccard(base, near))


def test_avi_truncated_frame_chunk_is_error_not_garbage():
    """A '00db' chunk whose declared size is smaller than one full frame
    must raise (error row), never read past the chunk boundary into the
    next chunk's bytes (silent garbage pixels)."""
    import struct

    import numpy as np

    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 255, (6, 5, 3), dtype=np.uint8)
              for _ in range(2)]
    avi = bytearray(multimodal.encode_avi_rgb24(frames, fps=4))
    pos = avi.find(b"00db")
    assert pos > 0
    full = struct.unpack_from("<I", avi, pos + 4)[0]
    struct.pack_into("<I", avi, pos + 4, full - 4)   # truncate the frame
    with pytest.raises(ValueError, match="truncated frame chunk"):
        multimodal._parse_avi_rgb24(bytes(avi))
    # the untouched encoding still parses (the guard binds on size only)
    got, spf = multimodal._parse_avi_rgb24(
        multimodal.encode_avi_rgb24(frames, fps=4))
    assert len(got) == 2 and (got[0] == frames[0]).all()


def test_wav_truncated_data_chunk_is_error_not_short_read():
    """A 'data' chunk whose declared size overruns the file must raise
    (error row), never silently clamp to the bytes present — an
    even-length truncation would yield a wrong duration/rms with
    ok=true."""
    import struct

    import numpy as np

    rate = 8000
    samples = np.sin(np.linspace(0, 20, rate)).astype(np.float64)
    wav = multimodal.encode_wav_pcm16(samples, rate)
    # cut an even number of bytes off the end: payload stays i2-aligned,
    # so without the guard frombuffer succeeds on the short read
    cut = bytes(wav[:-100])
    with pytest.raises(ValueError, match="truncated"):
        multimodal._decode_wav_pcm16(cut)
    # a declared size larger than the body raises too
    grown = bytearray(wav)
    pos = grown.find(b"data")
    declared = struct.unpack_from("<I", grown, pos + 4)[0]
    struct.pack_into("<I", grown, pos + 4, declared + 64)
    with pytest.raises(ValueError, match="truncated"):
        multimodal._decode_wav_pcm16(bytes(grown))
    # the untouched encoding still parses
    pcm, got_rate = multimodal._decode_wav_pcm16(wav)
    assert got_rate == rate and len(pcm) == rate


def test_knn_join_matches_numpy(spark, emb_df):
    """Batched k-NN join == per-query numpy brute force (ids AND
    rounded cosines), queries = first 10 vectors, corpus = the rest."""
    df, vecs = emb_df
    queries, corpus = df.where("vec_id < 10"), df.where("vec_id >= 10")
    got = {}
    for r in similarity.knn_join(corpus, queries, k=3).collect():
        got.setdefault(r.qid, []).append((r.cid, r.cos_sim))
    v64 = vecs.astype(np.float64)
    cn = np.linalg.norm(v64[10:], axis=1)
    for qid in range(10):
        cos = (v64[10:] @ v64[qid]) / (cn * np.linalg.norm(v64[qid]))
        order = np.lexsort((np.arange(10, 300), -np.round(cos, 5)))
        want = [(int(10 + i), float(np.round(cos[i], 5))) for i in order[:3]]
        assert got[qid] == want, qid


def test_knn_join_lsh_pigeonhole_covers_low_hamming(spark, emb_df):
    """Block-banded candidate generation covers every (q, c) pair whose
    signatures differ in <= n_blocks - 1 bits (pigeonhole: 4 blocks, <=3
    flipped bits leave >= 1 block untouched), and the planted near-dup
    of vec 0 survives to the final top-k."""
    df, vecs = emb_df
    queries, corpus = df.where("vec_id < 10"), df.where("vec_id >= 10")
    planes = similarity._planes(16, 16)
    bits = ((vecs.astype(np.float64) @ planes) > 0).astype(np.int64)
    sig = bits @ (1 << np.arange(16))
    cand = {(r.qid, r.cid) for r in
            similarity.knn_join_lsh(corpus, queries, k=1 << 30, dim=16)
            .select("qid", "cid").collect()}
    for qid in range(10):
        for cid in range(10, 300):
            if bin(int(sig[qid]) ^ int(sig[cid])).count("1") <= 3:
                assert (qid, cid) in cand, (qid, cid)
    top = similarity.knn_join_lsh(df.where("vec_id != 0"),
                                  df.where("vec_id = 0"),
                                  k=3, dim=16).collect()
    assert any(r.cid == 5 for r in top)   # planted near-dup of vec 0


def test_knn_join_plan_broadcasts_queries(spark, emb_df):
    """Brute k-NN join plan: the query side broadcasts (nested-loop,
    corpus streams once); the only Exchange is the per-query window's
    hash partition on qid, which carries slim (qid, cid, cos) rows."""
    df, _ = emb_df
    out = similarity.knn_join(df.where("vec_id >= 10"),
                              df.where("vec_id < 10"), k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dup_components_collapses_chains(spark):
    """Transitive chains collapse to one component (a~b, b~c => {a,b,c}
    share min-id canon) — the over-delete case pairwise dedup misses;
    disjoint pairs stay separate; nodes outside any pair are absent."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 21), (40, 7)],
        "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20, 7: 7, 40: 7}


def test_dup_components_string_ids(spark):
    """String ids label with the min STRING id in native type — the old
    blanket CAST(label AS BIGINT) silently NULLed every component for
    non-numeric ids (round-2 advice, dedup.py:489)."""
    pairs = spark.createDataFrame(
        [("img_b", "img_a"), ("img_b", "img_c"), ("zz_1", "zz_2")],
        "id_a string, id_b string")
    got = {r.id: r.component for r in dedup.dup_components(pairs).collect()}
    assert got == {"img_a": "img_a", "img_b": "img_a", "img_c": "img_a",
                   "zz_1": "zz_1", "zz_2": "zz_1"}


def test_dup_components_deep_chain_star_converges(spark):
    """Deep-chain graph (diameter 55 > default max_iters): plain label
    propagation would move the min label ONE hop per round and exhaust
    the default 50-round budget, while large-star/small-star converges
    in O(log n) rounds (6 here) and produces the exact labeling. A
    2-round budget is too small even for star and must fail loudly."""
    chain = [(i, i + 1) for i in range(55)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(pairs, max_iters=2)
    # the default budget (max_iters=50) has no trouble
    got = {r.id: r.component for r in dedup.dup_components(pairs).collect()}
    assert got == {i: 0 for i in range(56)}


def test_dup_components_bridged_stars_not_premature(spark):
    """Two high-id hubs sharing low-id leaves (a child bridging two
    stars): convergence must NOT be declared while a child still has two
    distinct parents — the labeling must still collapse everything into
    one component."""
    pairs = spark.createDataFrame(
        [(10, 3), (11, 3), (10, 1), (11, 2)], "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1}


def test_dup_components_random_graphs_match_union_find(spark):
    """Differential check of the large-star/small-star default on seeded
    random graphs (mixed density, self-loops, duplicate edges) against a
    plain union-find reference — the fixed-shape tests cover the sharp
    edges; this sweeps arbitrary topologies."""
    import random

    rng = random.Random(11)
    for case in range(6):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: min(y for y in touched if find(y) == find(x))
                for x in touched}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.component for r in
               dedup.dup_components(pairs).collect()}
        assert got == want, (case, edges)


def test_dup_components_raises_when_unconverged(spark):
    """An unconverged run must FAIL LOUDLY, never return partially
    propagated labels (they would silently split true components and
    break the oracle invariant)."""
    chain = [(i, i + 1) for i in range(8)]       # diameter 8 path
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_components(pairs, max_iters=2)  # star needs 3 here
    got = {r.id: r.component
           for r in dedup.dup_components(pairs, max_iters=20).collect()}
    assert set(got.values()) == {0}              # one path component


# --------------------------------------------------------------------------
# Cache search (cache_manager.py:395-426 analogue)
# --------------------------------------------------------------------------

def test_cache_search_newest_first_and_all_stores(spark):
    """The merged search-hit list is newest-first, bounded by its LIMIT,
    totally ordered (deterministic cut), and actually surfaces hits from
    all three cache stores — one store's ts range crowding out the
    others would make the union branch dead weight."""
    from bioanalyzer_backend_spark.plans.catalog_queries import registry
    from .conftest import SF01
    fn, _sql = registry()["cache_search_events"]
    rows = fn(spark, SF01).collect()
    assert len(rows) == 200
    keys = [(-r["ts_us"], r["store"], r["hit_id"]) for r in rows]
    assert keys == sorted(keys)                  # total order, ts DESC
    assert {r["store"] for r in rows} == {"analysis", "metadata",
                                          "fulltext"}


def test_exact_dedup_no_fanout_on_duplicate_ids(spark):
    """The marker-join rewrite must stay fan-out-free when the INPUT
    violates id uniqueness (two keys sharing a min id): output rows
    <= input rows always — joining on (id, key) makes the slim side
    unique per key, so no distinct is needed."""
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (3, None)],
        "image_id long, phash string")
    out = dedup.exact_dedup(df).collect()
    assert len(out) == 3  # both id=1 rows kept (each a key-min), null passes
    assert sorted((r.image_id, r.phash) for r in out) \
        == [(1, "a"), (1, "b"), (3, None)]


def test_exact_dedup_cross_key_id_reuse_not_rescued(spark):
    """An id that is canonical for key B must NOT rescue that same id's
    NON-canonical membership of key A (round-5 review: the previous
    id-only marker join kept (2, a) because min(b) = 2 — diverging from
    the per-key twin apply_dedup_flag, which flags it is_dup)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b")],
        "image_id long, phash string")
    out = sorted((r.image_id, r.phash)
                 for r in dedup.exact_dedup(df).collect())
    assert out == [(1, "a"), (2, "b")]


# --------------------------------------------------------------------------
# similarity robustness (round-4 review pass)
# --------------------------------------------------------------------------

def test_lsh_bucket_tolerates_null_and_ragged(spark):
    """A NULL or wrong-length embedding yields a NULL bucket (the row
    drops out of candidate joins) instead of crashing the whole stage
    with numpy's 'inhomogeneous shape'."""
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None), (3, [1.0] * 5), (4, [2.0] * 8)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["lsh_bucket"]
           for r in similarity.with_lsh_bucket(df, 8).collect()}
    assert out[2] is None and out[3] is None
    assert out[1] is not None and out[4] is not None
    # clean batches take the vectorized path and agree with per-row
    clean = spark.createDataFrame(
        [(1, [1.0] * 8), (4, [2.0] * 8)],
        "vec_id long, embedding array<double>")
    clean_out = {r["vec_id"]: r["lsh_bucket"]
                 for r in similarity.with_lsh_bucket(clean, 8).collect()}
    assert clean_out == {1: out[1], 4: out[4]}
    # the IVF assignment shares the same UDF path: NULL / ragged rows get
    # a NULL list, clean rows the list of the clean batch
    cent = np.vstack([np.eye(8)[0], np.full(8, 8 ** -0.5), np.eye(8)[2]])
    ivf = {r["vec_id"]: r["ivf_list"]
           for r in similarity.with_ivf_list(df, cent).collect()}
    assert ivf[2] is None and ivf[3] is None
    assert ivf[1] == 1 and ivf[4] == 1
    clean_ivf = {r["vec_id"]: r["ivf_list"]
                 for r in similarity.with_ivf_list(clean, cent).collect()}
    assert clean_ivf == {1: ivf[1], 4: ivf[4]}


def test_embedding_neardup_zero_norm_guarded(spark):
    """0/0 = NaN and Spark treats NaN >= threshold as TRUE — zero-norm
    junk pairs must NOT surface as near-dups (the SQL twin's NULLIF
    semantics)."""
    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [0.0] * 8), (3, [1.0] * 8), (4, [1.0] * 8)],
        "vec_id long, embedding array<double>")
    ids = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_neardup_pairs(df, 8).collect()}
    assert (3, 4) in ids
    assert (1, 2) not in ids


def test_ivf_clamps_centroids_to_small_corpus(spark):
    """Fewer rows than n_centroids trains what the data supports instead
    of an opaque rng.choice ValueError; empty corpus raises clearly."""
    df = spark.createDataFrame(
        [(i, [float(i + 1)] * 4) for i in range(5)],
        "vec_id long, embedding array<double>")
    out = similarity.ivf_cosine_topk(df, [1.0] * 4, k=3, n_centroids=16,
                                     n_probe=16)
    assert out.count() == 3
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        similarity.ivf_train_centroids(empty)


def test_salted_ops_reject_reserved_column(spark):
    from bioanalyzer_backend_spark.operators import skew
    df = spark.createDataFrame([(1, "a", 1)], ["id", "k", "_salt"])
    with pytest.raises(ValueError, match="_salt"):
        skew.salted_repartition(df, ["k"], "id")
    with pytest.raises(ValueError, match="_salt"):
        skew.salted_sum_agg(df, ["k"], {"n": F.lit(1)}, "id")


def test_synth_generate_exact_rowcount_and_group_truth():
    """generate(n) returns EXACTLY n rows (v1 came out one short per dup
    cluster) and every dup group has >= 2 members with a single base
    (collision-free cluster bases — a re-picked base silently split an
    earlier group's base from its clones)."""
    import collections

    from bioanalyzer_backend_spark.datagen import synth
    t, m = synth.generate(3000, seed=42)
    assert len(t["image_id"]) == 3000
    cnt = collections.Counter(g for g in m["dup_group"] if g)
    assert cnt and all(v >= 2 for v in cnt.values())


def test_invalidation_hook_drops_cached_derived_views(spark):
    """invalidate_testdata_views must flush DERIVED materialized views
    (shingles_v etc.) through the session hook — a derived cached view
    outliving a base-view replacement would lazily recompute from the
    impostor view after cache eviction (round-3 advice)."""
    from bioanalyzer_backend_spark.plans import catalog_queries as cq
    from bioanalyzer_backend_spark.session import (invalidate_testdata_views,
                                                   register_testdata_views)

    from .conftest import SF001
    register_testdata_views(spark, SF001)
    cq._stage_views(spark, SF001, "SELECT * FROM shingles_v")
    assert spark.catalog.tableExists("shingles_v")
    app = spark.sparkContext.applicationId
    assert cq._STAGED_FOR["shingles_v"].get(app) == SF001
    invalidate_testdata_views(spark)
    assert not spark.catalog.tableExists("shingles_v")
    assert app not in cq._STAGED_FOR["shingles_v"]
    # re-registration + re-materialization works from scratch
    register_testdata_views(spark, SF001)
    cq._stage_views(spark, SF001, "SELECT * FROM shingles_v")
    assert spark.catalog.tableExists("shingles_v")


def test_staged_entries_stage_their_own_views(spark):
    """A registry entry whose Spark SQL reads a staged view stages it
    (and the views that view reads) itself: after an invalidation drops
    every staged view, the MinHash-band and TF-IDF entries run with no
    manual staging."""
    import __spark_entry__ as E
    from bioanalyzer_backend_spark.session import invalidate_testdata_views

    from .conftest import SF01
    invalidate_testdata_views(spark)
    assert not any(spark.catalog.tableExists(v)
                   for v in ("shingles_v", "minhash_sig_v", "tfidf_tf_v"))
    q = E.queries()
    assert q["minhash_lsh_pairs"](spark, SF01).count() > 0
    assert q["tfidf_top_terms_documents"](spark, SF01).count() > 0
    assert all(spark.catalog.tableExists(v)
               for v in ("shingles_v", "minhash_sig_v", "tfidf_tf_v"))
