"""Binding meta-tests for the generator ground-truth (gt_*) oracles.

The five multimodal registry entries (image_stats / resize_thumbs /
dup_pixel_verify / audio_stats / video_frames) are DuckDB-oracled against
gt_* columns the GENERATOR writes from its own parameters — never by
calling the parsers under test (datagen/synth.py g4/g3). That design is
only evidence if the gt layer (a) exactly equals what a correct parser
yields and (b) actually diverges when the parser grows a realistic bug.
These tests prove both, Spark-free: they run the real decode functions
directly on the generated bytes, compare EXACTLY (the parity harness
compares check_exact=True), then apply a classic regression (BGR-channel
swap, wrong PCM dequantizer, frame-sampling off-by-one, wrong canonical
pick) and assert the gt compare catches it.
"""
import numpy as np
import pytest

from bioanalyzer_backend_spark.datagen import imgcodec, synth
from bioanalyzer_backend_spark.operators import multimodal


@pytest.fixture(scope="module")
def _img_corpus():
    # >=100 rows so dup_frac binds (below 100 the generator only emits
    # the two edge dup pairs, whose shared-pixel members are all PSNR=inf
    # — the finite-PSNR mutation arm needs noisy clones)
    table, meta = synth.generate(n_rows=256, seed=7)
    return table, meta


# --------------------------------------------------------------------------
# image_stats: gt means/dims == real decode, BGR swap caught
# --------------------------------------------------------------------------

def test_image_gt_equals_real_decode_exactly(_img_corpus):
    table, meta = _img_corpus
    n_ok = n_err = 0
    for i, iid in enumerate(meta["image_id"]):
        blob, fmt = table["bytes"][i], table["fmt"][i]
        if meta["gt_ok"][i]:
            px = imgcodec.decode(bytes(blob), fmt)
            m = px.reshape(-1, 3).mean(axis=0)
            # bit-for-bit, like the driver compare (lossless codecs)
            assert float(m[0]) == meta["gt_mean_r"][i], iid
            assert float(m[1]) == meta["gt_mean_g"][i], iid
            assert float(m[2]) == meta["gt_mean_b"][i], iid
            assert px.shape[0] == meta["gt_decoded_h"][i]
            assert px.shape[1] == meta["gt_decoded_w"][i]
            n_ok += 1
        else:
            with pytest.raises(Exception) as ei:
                imgcodec.decode(bytes(blob), fmt)
            got = f"{type(ei.value).__name__}: {ei.value}"
            assert got == meta["gt_err"][i] == "ValueError: not a BMP"
            n_err += 1
    assert n_ok > 50 and n_err >= 1      # both arms exercised


def test_image_gt_catches_bgr_swap(_img_corpus):
    """The classic BMP decoder bug: forgetting the BGR->RGB flip. Swapped
    channel means must diverge from gt on random-pixel rows."""
    table, meta = _img_corpus
    diverged = 0
    for i in range(len(meta["image_id"])):
        if not meta["gt_ok"][i]:
            continue
        px = imgcodec.decode(bytes(table["bytes"][i]), table["fmt"][i])
        m = px[:, :, ::-1].reshape(-1, 3).mean(axis=0)   # buggy: BGR order
        if float(m[0]) != meta["gt_mean_r"][i]:
            diverged += 1
    assert diverged > 50


# --------------------------------------------------------------------------
# resize_thumbs: the oracle's BMP byte-size formula == real encoder,
# including the 4-alignment padding term the 8x8 thumbs never exercise
# --------------------------------------------------------------------------

def test_resize_gt_byte_formula_matches_real_encoder():
    rng = np.random.default_rng(0)
    for h, w in ((8, 8), (8, 5), (3, 7), (16, 6)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        formula = 54 + h * (3 * w + (4 - (3 * w) % 4) % 4)
        assert len(imgcodec.encode_bmp(px)) == formula, (h, w)
    # a padding-less formula (the plausible bug) diverges off 8x8
    assert len(imgcodec.encode_bmp(
        rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8))) != 54 + 4 * 15


# --------------------------------------------------------------------------
# dup_pixel_verify: gt PSNR == imgcodec.psnr on source pixels; wrong
# canonical pick (max-id) and wrong peak constant both caught
# --------------------------------------------------------------------------

def _dup_groups(meta):
    from collections import defaultdict
    by_canon = defaultdict(list)
    for i in range(len(meta["image_id"])):
        if meta["gt_in_dup_group"][i]:
            by_canon[meta["gt_canonical_id"][i]].append(i)
    return by_canon


def test_dup_verify_gt_matches_psnr_and_min_id_canonical(_img_corpus):
    table, meta = _img_corpus
    ids = meta["image_id"]
    groups = _dup_groups(meta)
    assert groups, "corpus must contain dup groups"
    checked_pairs = 0
    for canon_id, idxs in groups.items():
        members = sorted(ids[i] for i in idxs)
        assert canon_id == members[0]        # min-id canonical
        canon_i = ids.index(canon_id)
        if not meta["gt_ok"][canon_i]:
            continue
        canon_px = imgcodec.decode(bytes(table["bytes"][canon_i]),
                                   table["fmt"][canon_i])
        for i in idxs:
            if ids[i] == canon_id:
                assert meta["gt_psnr_db"][i] == float("inf")
                continue
            if not meta["gt_ok"][i]:
                assert meta["gt_psnr_db"][i] is None
                assert meta["gt_pixel_dup"][i] is False
                continue
            px = imgcodec.decode(bytes(table["bytes"][i]), table["fmt"][i])
            if px.shape != canon_px.shape:
                assert meta["gt_pixel_dup"][i] is False
                continue
            p = imgcodec.psnr(canon_px, px)
            assert p == meta["gt_psnr_db"][i], ids[i]   # bit-for-bit
            assert (p >= 40.0) == meta["gt_pixel_dup"][i]
            checked_pairs += 1
    assert checked_pairs >= 3


def test_dup_verify_gt_catches_wrong_canonical_and_wrong_peak(_img_corpus):
    table, meta = _img_corpus
    ids = meta["image_id"]
    groups = _dup_groups(meta)
    # bug 1: canonical picked as MAX id — every multi-member group diverges
    assert all(canon != sorted(ids[i] for i in idxs)[-1]
               for canon, idxs in groups.items()
               if len(idxs) > 1)
    # bug 2: PSNR with a 256 peak (off-by-one) diverges on every finite row
    diverged = 0
    for canon_id, idxs in groups.items():
        canon_i = ids.index(canon_id)
        if not meta["gt_ok"][canon_i]:
            continue
        canon_px = imgcodec.decode(bytes(table["bytes"][canon_i]),
                                   table["fmt"][canon_i])
        for i in idxs:
            gt_p = meta["gt_psnr_db"][i]
            if ids[i] == canon_id or gt_p is None or gt_p == float("inf"):
                continue
            px = imgcodec.decode(bytes(table["bytes"][i]), table["fmt"][i])
            if px.shape != canon_px.shape:
                continue
            mse = np.mean((canon_px.astype(np.float64)
                           - px.astype(np.float64)) ** 2)
            buggy = 10.0 * np.log10(256.0 ** 2 / mse)
            assert buggy != gt_p
            diverged += 1
    assert diverged >= 3


# --------------------------------------------------------------------------
# audio_stats: gt rms/rate/duration == real RIFF parser; the /32767
# dequantizer bug caught
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def _audio_rows(tmp_path_factory):
    import pyarrow.parquet as pq
    d = tmp_path_factory.mktemp("av")
    path = synth.write_audio_parquet(str(d), 48, seed=43)
    return pq.read_table(path).to_pylist()


def test_audio_gt_equals_real_parser_exactly(_audio_rows):
    n_ok = n_err = 0
    for r in _audio_rows:
        if r["gt_ok"]:
            pcm, rate = multimodal._decode_wav_pcm16(r["bytes"])
            assert rate == r["gt_sample_rate"]
            assert len(pcm) / rate == r["gt_duration_s"]
            assert float(np.sqrt(np.mean(pcm ** 2))) == r["gt_rms"], \
                r["clip_id"]
            n_ok += 1
        else:
            with pytest.raises(ValueError) as ei:
                multimodal._decode_wav_pcm16(r["bytes"])
            assert f"{type(ei.value).__name__}: {ei.value}" == r["gt_err"]
            n_err += 1
    assert n_ok > 30 and n_err >= 1


def test_audio_gt_catches_wrong_dequantizer(_audio_rows):
    """PCM16 decoded with the wrong full-scale constant (32767 — the
    symmetric-scale mistake) must diverge from gt_rms on every clip."""
    import struct
    diverged = total = 0
    for r in _audio_rows:
        if not r["gt_ok"]:
            continue
        data = r["bytes"]
        pos, payload = 12, None
        while pos + 8 <= len(data):
            cid = data[pos:pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            if cid == b"data":
                payload = data[pos + 8:pos + 8 + size]
            pos += 8 + size + (size & 1)
        pcm = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32767.0
        total += 1
        if float(np.sqrt(np.mean(pcm ** 2))) != r["gt_rms"]:
            diverged += 1
    assert total > 30 and diverged == total


# --------------------------------------------------------------------------
# video_frames: gt frame set/dims/spf == real AVI parser + the sampler's
# own step formula; a 1-based sampling off-by-one caught
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def _video_rows(tmp_path_factory):
    import pyarrow.parquet as pq
    d = tmp_path_factory.mktemp("av")
    path = synth.write_video_parquet(str(d), 32, seed=44)
    return pq.read_table(path).to_pylist()


def test_video_gt_equals_real_parser_exactly(_video_rows):
    n_avi = n_skip = 0
    for r in _video_rows:
        if r["fmt"] != "avi":
            with pytest.raises(ValueError):
                multimodal._parse_avi_rgb24(r["bytes"])
            n_skip += 1
            continue
        frames, spf = multimodal._parse_avi_rgb24(r["bytes"])
        assert len(frames) == r["gt_n_frames"]
        assert spf == r["gt_spf"]
        h, w, _ = frames[0].shape
        assert (w, h) == (r["gt_w"], r["gt_h"])
        # the sampler's step formula on parsed spf == the baked gt_step
        step = max(1, round(1.0 / spf)) if spf > 0 else 1
        assert step == r["gt_step"]
        sampled = list(range(0, len(frames), step))
        gt_sampled = list(range(0, r["gt_n_frames"], r["gt_step"]))
        assert sampled == gt_sampled
        # byte-size formula == real encoder on the actual first frame
        assert len(imgcodec.encode_bmp(frames[0])) == r["gt_frame_bytes"]
        n_avi += 1
    assert n_avi > 20 and n_skip >= 1


def test_video_gt_catches_one_based_sampling(_video_rows):
    """range(1, n, step) (skip-first-frame off-by-one) must produce a
    different frame_idx set than gt for every avi row."""
    for r in _video_rows:
        if r["fmt"] != "avi":
            continue
        gt = list(range(0, r["gt_n_frames"], r["gt_step"]))
        buggy = list(range(1, r["gt_n_frames"], r["gt_step"]))
        assert buggy != gt


# --------------------------------------------------------------------------
# ANN numpy-twin oracles (round 5): the registered hamming_radius=4 /
# n_probe=4 expected top-10 must be sensitive to the classic parameter
# regressions — an off-by-one radius or probe count yields a DIFFERENT
# top-10, so the driver compare catches it. Spark-free: re-runs the twin
# math at perturbed parameters.
# --------------------------------------------------------------------------

def _lsh_top10(radius: int):
    """Runs the REGISTERED twin code (catalog_queries._lsh_candidate_mask
    + _ann_rounded_topk_np) at a parameterized radius — not a private
    copy, so a twin change is what this test validates."""
    from bioanalyzer_backend_spark.plans import catalog_queries as CQ

    ids, mat = CQ._load_embeddings_np(CQ._parity_sf_dir())
    q = mat[ids == 0][0]
    keep = CQ._lsh_candidate_mask(ids, mat, q, radius)
    return CQ._ann_rounded_topk_np(ids, mat, q, keep)["vec_id"].tolist()


def _ivf_top10(n_probe: int):
    from bioanalyzer_backend_spark.plans import catalog_queries as CQ

    ids, mat = CQ._load_embeddings_np(CQ._parity_sf_dir())
    q = mat[ids == 0][0]
    keep = CQ._ivf_candidate_mask(ids, mat, q, n_probe)
    return CQ._ann_rounded_topk_np(ids, mat, q, keep)["vec_id"].tolist()


def test_ann_lsh_twin_catches_radius_off_by_one():
    ref = _lsh_top10(4)                      # the registered radius
    assert len(ref) > 0
    assert _lsh_top10(3) != ref
    assert _lsh_top10(5) != ref


def test_ann_ivf_twin_catches_probe_off_by_one():
    ref = _ivf_top10(4)                      # the registered n_probe
    assert len(ref) > 0
    # fewer probes drops a probed list -> different candidate set
    assert _ivf_top10(3) != ref
    # degenerate probe-all (exact mode) also differs: the approximate
    # entry is genuinely approximate on this corpus, not trivially
    # identical to brute force
    assert _ivf_top10(16) != ref


def test_expected_cache_keyed_by_parity_dir(monkeypatch, tmp_path):
    """The numpy-twin expected tables are keyed by the parity sf dir so
    the sf0.01 driver gate and the sf0.1 dev sweep never read each
    other's values — and by the bytes of what the twins are computed
    from, so a changed dependency never reads back a stale table. The
    writer runs only on a miss."""
    import os

    from bioanalyzer_backend_spark.plans import catalog_queries as CQ

    monkeypatch.setattr(CQ, "_bench_cache_dir", lambda: str(tmp_path))
    sf001 = CQ._parity_sf_dir()
    sf0001 = os.path.join(os.path.dirname(sf001), "sf0.001")
    p1 = CQ._expected_path(CQ._ann_twin, "lsh", sf001)
    p2 = CQ._expected_path(CQ._ann_twin, "lsh", sf0001)
    assert p1 != p2 and "sf0.001" in p2 and "sf0.01" in p1
    assert os.path.exists(p1) and os.path.exists(p2)
    mtime = os.stat(p2).st_mtime_ns
    assert CQ._expected_path(CQ._ann_twin, "lsh", sf0001) == p2
    assert os.stat(p2).st_mtime_ns == mtime          # a hit writes nothing

    # a package module the twin imports (operators/similarity.py) read
    # from a file the test edits
    dep = tmp_path / "dep.py"
    dep.write_text("X = 1\n")
    real = CQ._source
    monkeypatch.setattr(CQ, "_source", lambda obj: dep.read_text() if (
        obj.__name__.endswith(".similarity")) else real(obj))
    p3 = CQ._twin_key(CQ._ann_twin, "lsh", sf0001)
    assert p3 == CQ._twin_key(CQ._ann_twin, "lsh", sf0001)  # stable
    dep.write_text("X = 2\n")
    p4 = CQ._twin_key(CQ._ann_twin, "lsh", sf0001)
    assert len({p2.rsplit("_", 1)[1][:-len(".parquet")], p3, p4}) == 3


def test_expected_keys_follow_only_the_twin_code(monkeypatch):
    """The expected-table keys hash the twin code itself (the functions
    each writer reaches by name and the package modules they import),
    not the whole registry module: an edit to any ``_q_*`` Spark/SQL
    builder keeps every key, an edit to the ANN re-rank twin or to
    operators/similarity.py re-keys the ANN tables and only those, and
    an edit to functions/langid.py re-keys the langid_udf and flagship
    tables and only those."""
    from bioanalyzer_backend_spark.plans import catalog_queries as CQ

    sf = CQ._parity_sf_dir()

    def keys():
        return [CQ._twin_key(CQ._ann_twin, "lsh", sf),
                CQ._twin_key(CQ._ann_twin, "ivf", sf),
                CQ._twin_key(CQ._langid_udf_twin, sf),
                CQ._twin_key(CQ._qf_full_twin)]

    real = CQ._source
    base = keys()

    def edit(pred):
        monkeypatch.setattr(CQ, "_source", lambda obj: real(obj) + (
            "# edited\n" if pred(obj.__name__) else ""))

    edit(lambda name: name.startswith("_q_"))
    assert keys() == base
    for edited_name in ("_ann_rounded_topk_np", ".operators.similarity"):
        edit(lambda name: name.endswith(edited_name))
        edited = keys()
        assert edited[0] != base[0] and edited[1] != base[1]
        assert edited[2:] == base[2:]    # langid_udf and the flagship
    edit(lambda name: name.endswith(".functions.langid"))
    edited = keys()
    assert edited[:2] == base[:2]        # the ANN tables
    assert edited[2] != base[2] and edited[3] != base[3]


def test_synth_writers_publish_whole_files(monkeypatch, tmp_path):
    """A generate-once writer killed mid-write (here: a write that fails
    after writing part of the file) leaves nothing its exists check
    serves later: the next call regenerates a readable file."""
    import pyarrow.parquet as pq

    real = pq.write_table

    def torn(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk gone mid-write")

    for write in (synth.write_audio_parquet, synth.write_video_parquet,
                  synth.write_images_parquet):
        monkeypatch.setattr(pq, "write_table", torn)
        with pytest.raises(OSError):
            write(str(tmp_path), 24)
        monkeypatch.setattr(pq, "write_table", real)
        assert pq.read_table(write(str(tmp_path), 24)).num_rows == 24
    assert not [p for p in tmp_path.iterdir() if p.name.endswith(".tmp")]


# --------------------------------------------------------------------------
# cross-seed and batch-invariance pins (round 5): the gt technique must
# hold beyond the registry corpora's fixed seeds, and the langid/ppl
# scorers must be Arrow-batching-invariant — the property the flagship
# and langid_udf oracles stand on (Spark re-batches arbitrarily).
# --------------------------------------------------------------------------

@pytest.mark.parametrize("seed", [11, 99])
def test_image_gt_holds_across_seeds(seed):
    table, meta = synth.generate(n_rows=150, seed=seed)
    checked = 0
    for i in range(len(meta["image_id"])):
        if not meta["gt_ok"][i]:
            continue
        px = imgcodec.decode(bytes(table["bytes"][i]), table["fmt"][i])
        m = px.reshape(-1, 3).mean(axis=0)
        assert float(m[0]) == meta["gt_mean_r"][i]
        assert px.shape[0] == meta["gt_decoded_h"][i]
        checked += 1
    assert checked > 100


def test_langid_ppl_batch_invariance():
    """Bit-identical langid/ppl outputs under uneven re-batchings: the
    scorers are per-row (no cross-row normalization), so Spark's
    arbitrary Arrow batch boundaries cannot change values — the property
    the numpy-expected-table oracles rely on."""
    import os
    import random
    import string

    from bioanalyzer_backend_spark.functions import langid, perplexity
    from bioanalyzer_backend_spark.plans import pipeline as P

    art = P.ensure_artifacts()
    logp, langs = langid.load_model(os.path.join(art, "langid.npz"))
    lm = perplexity.load_model(os.path.join(art, "lm.npz"))
    rng = random.Random(5)
    texts = [" ".join("".join(rng.choice(string.ascii_lowercase + "äöüéñ中日 ")
                              for _ in range(rng.randint(1, 9)))
                      for _ in range(rng.randint(0, 40)))
             for _ in range(600)]
    full_lang, full_conf = langid.predict_batch(texts, logp, langs)
    full_ppl = perplexity.ppl_batch(texts, lm)
    for sizes in ([1] * 10 + [590], [37] * 16 + [8]):
        i, lc, cc, pc = 0, [], [], []
        for s in sizes:
            chunk = texts[i:i + s]
            i += s
            lg, cf = langid.predict_batch(chunk, logp, langs)
            lc.extend(lg)
            cc.extend(cf.tolist())
            pc.extend(perplexity.ppl_batch(chunk, lm).tolist())
        assert list(full_lang) == lc
        assert np.array_equal(np.array(cc), full_conf)
        assert np.array_equal(np.array(pc), full_ppl)


@pytest.mark.parametrize("seed", [77, 777])
def test_audio_video_gt_hold_across_seeds(tmp_path, seed):
    """The g3 ground-truth technique is seed-independent: fresh corpora
    at unseen seeds still match the real parsers bit-for-bit."""
    import pyarrow.parquet as pq

    apath = synth.write_audio_parquet(str(tmp_path), 60, seed=seed)
    n_wav = 0
    for r in pq.read_table(apath).to_pylist():
        if not r["gt_ok"]:
            continue
        pcm, rate = multimodal._decode_wav_pcm16(r["bytes"])
        assert rate == r["gt_sample_rate"]
        assert float(np.sqrt(np.mean(pcm ** 2))) == r["gt_rms"]
        n_wav += 1
    assert n_wav > 40

    vpath = synth.write_video_parquet(str(tmp_path), 40, seed=seed + 1)
    n_avi = 0
    for r in pq.read_table(vpath).to_pylist():
        if r["fmt"] != "avi":
            continue
        frames, spf = multimodal._parse_avi_rgb24(r["bytes"])
        assert len(frames) == r["gt_n_frames"]
        assert spf == r["gt_spf"]
        assert len(imgcodec.encode_bmp(frames[0])) == r["gt_frame_bytes"]
        n_avi += 1
    assert n_avi > 25
