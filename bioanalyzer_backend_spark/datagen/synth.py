"""Deterministic synthetic image+caption table generator (FIXTURES.md section 1).

Produces the exact input shape from BASELINE.json input_hint:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)
plus a sidecar ``*_meta`` parquet with ground truth (true_lang, dup
group, and since g4 the gt_* columns for the image registry oracles) for
tests and the DuckDB oracle side — the pipeline itself never reads it.

Everything flows from one seeded numpy Generator; same (n_rows, seed,
dims) -> byte-identical parquet content. No wall-clock, no external data.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import spec
from ..functions.phash import average_hash
from . import corpus
from .imgcodec import encode_bmp, encode_ppm

_SENTINEL_CHOICES = ("unknown", "n/a", "not specified", "none")


def _make_pixels(rng: np.random.Generator, dims) -> np.ndarray:
    w = int(dims[int(rng.integers(0, len(dims)))])
    h = int(dims[int(rng.integers(0, len(dims)))])
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _encode(pixels: np.ndarray, fmt: str) -> bytes:
    return encode_bmp(pixels) if fmt == "bmp" else encode_ppm(pixels)


def _pick_lang(rng: np.random.Generator) -> str:
    r = float(rng.random())
    acc = 0.0
    for lang, p in corpus.LANG_MIX:
        acc += p
        if r < acc:
            return lang
    return "en"


def _base_caption(rng: np.random.Generator, lang: str) -> str:
    u = float(rng.random())
    if u < 0.08:                         # empty / whitespace-only
        return ("", "   ", " \t ")[int(rng.integers(0, 3))]
    if u < 0.09:                         # null sentinel
        return _SENTINEL_CHOICES[int(rng.integers(0, len(_SENTINEL_CHOICES)))]
    cap = corpus.sample_caption(rng, lang)
    u2 = float(rng.random())
    if u2 < 0.05:                        # PII injection
        cap = cap + " " + corpus.PII_SNIPPETS[int(rng.integers(0, len(corpus.PII_SNIPPETS)))]
    elif u2 < 0.08 and lang not in ("junk",):   # wrong-language mix
        other = "es" if lang == "en" else "en"
        extra = " ".join(
            corpus.WORDS[other][int(i)]
            for i in rng.integers(0, len(corpus.WORDS[other]), size=4))
        cap = cap + " " + extra
    return cap


def _edge_rows(rng: np.random.Generator):
    """FIXTURES.md section 6 — edge cases every fixture must include."""
    px1 = rng.integers(0, 256, size=(1, 1, 3), dtype=np.uint8)
    pxa = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    pxb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    good_cap = ("a small group of people walking on the beach at sunset "
                "with clouds in the sky and a dog by the water")
    rows = [
        ("", pxa, "bmp", None, "en"),
        ("   \t  ", pxa, "bmp", None, "en"),
        ("unknown", pxa, "bmp", None, "en"),
        ("n/a", pxa, "ppm", None, "en"),
        ("Not Specified", pxa, "bmp", None, "en"),
        ("a group of friends \U0001F600\U0001F389 at the beach", pxa, "bmp", None, "en"),
        (corpus.sample_caption(rng, "zh"), pxa, "bmp", None, "zh"),
        (corpus.sample_caption(rng, "ar"), pxa, "ppm", None, "ar"),
        ("café tables on the street with people and light", pxa, "bmp", None, "en"),
        ("a" * 90, pxa, "bmp", None, "junk"),
        (" ".join(["table"] * 40), pxa, "bmp", None, "junk"),
        ("john.doe@example.com +1 (555) 123-4567 https://x.example.com/a?b=1 "
         "and 123-45-6789 visible", pxa, "bmp", None, "en"),
        # dup pair: both captions keep-worthy, same phash -> dedup must pick min id
        (good_cap, pxb, "bmp", "edge_dup", "en"),
        (good_cap + " second view", pxb, "bmp", "edge_dup", "en"),
        ("one by one pixel image with a long enough caption to keep",
         px1, "bmp", None, "en"),
        # fmt mismatch: declared bmp, actual ppm payload -> decode ERROR row
        ("declared format does not match payload bytes here",
         pxa, "__mismatch__", None, "en"),
    ]
    return rows


def generate(n_rows: int, seed: int = 42, dims=(16, 32, 64),
             dup_frac: float = 0.04):
    """Return (table_dict, meta_dict) of column arrays."""
    rng = np.random.default_rng(seed)
    edge = _edge_rows(rng)
    n_edge = len(edge)
    n_dup = max(2, int(n_rows * dup_frac)) if n_rows >= 100 else 2
    n_base = max(1, n_rows - n_dup - n_edge)

    caps: list[str] = []
    pixel_list: list[np.ndarray] = []
    fmts: list[str] = []
    langs: list[str] = []
    groups: list[str] = []           # dup-group key ("" = unique)

    for i in range(n_base):
        lang = _pick_lang(rng)
        caps.append(_base_caption(rng, lang))
        pixel_list.append(_make_pixels(rng, dims))
        fmts.append("bmp" if rng.random() < 0.8 else "ppm")
        langs.append(lang)
        groups.append("")

    # --- duplicate clusters (share pixels modulo noise => same phash) ---
    # one hot cluster on 'en' (skew driver) + small clusters of 2-8
    hot_size = max(2, n_dup // 3)
    sizes = [hot_size]
    left = n_dup - hot_size
    while left > 0:
        s = int(min(left, rng.integers(2, 9)))
        if left - s == 1:
            s += 1
        sizes.append(s)
        left -= s
    # Top-up rows: every cluster BASE below is a re-labeled existing row
    # (not an addition), so without these the table would come out
    # len(sizes) rows short of the requested n_rows — and bench corpora
    # named images_n600000 actually held 596,787 rows (generator v1).
    for _ in range(len(sizes)):
        lang = _pick_lang(rng)
        caps.append(_base_caption(rng, lang))
        pixel_list.append(_make_pixels(rng, dims))
        fmts.append("bmp" if rng.random() < 0.8 else "ppm")
        langs.append(lang)
        groups.append("")
    n_pool = len(caps)          # rows eligible as cluster bases
    for ci, size in enumerate(sizes):
        bi = int(rng.integers(0, n_base))
        # forward-probe past rows another cluster already claimed as its
        # base (deterministic, no extra rng draws): re-picking would
        # silently reassign the earlier cluster's base to this group,
        # splitting that group's base from its clones — corrupted dup
        # ground truth (near-certain by birthday bound at 100k+ rows:
        # ~534 clusters drawn from ~96k bases). Clone/edge rows live at
        # indices >= n_pool, so the modulo never probes them; the pool
        # always has >= len(sizes) ungrouped rows by construction.
        while groups[bi]:
            bi = (bi + 1) % n_pool
        gkey = f"dup{ci}"
        groups[bi] = gkey
        for _ in range(size - 1):
            noise = rng.integers(-2, 3, size=pixel_list[bi].shape).astype(np.int16)
            px = np.clip(pixel_list[bi].astype(np.int16) + noise, 0, 255).astype(np.uint8)
            caps.append(caps[bi] if rng.random() < 0.5
                        else caps[bi] + " alt view")
            pixel_list.append(px)
            fmts.append(fmts[bi])
            langs.append(langs[bi])
            groups.append(gkey)

    for cap, px, fmt, grp, lang in edge:
        caps.append(cap)
        pixel_list.append(px)
        fmts.append(fmt)
        langs.append(lang)
        groups.append(grp or "")

    n = len(caps)
    order = rng.permutation(n)

    image_id, data, ws, hs, out_fmt, out_cap, out_ph = [], [], [], [], [], [], []
    out_lang, out_grp = [], []
    out_px: list[np.ndarray] = []    # aligned pixel refs for the gt pass
    out_ok: list[bool] = []          # decodable by declared fmt
    # phash shared within a dup group: hash of the group's FIRST pixels
    group_phash: dict[str, int] = {}
    for new_idx, old in enumerate(order):
        old = int(old)
        px = pixel_list[old]
        fmt = fmts[old]
        grp = groups[old]
        if grp:
            ph = group_phash.setdefault(grp, average_hash(px))
        else:
            ph = average_hash(px)
        out_ok.append(fmt != "__mismatch__")
        if fmt == "__mismatch__":
            blob, fmt = encode_ppm(px), "bmp"      # declared bmp, actual ppm
        else:
            blob = _encode(px, fmt)
        image_id.append(f"img{new_idx:012d}")
        data.append(blob)
        hs.append(px.shape[0])
        ws.append(px.shape[1])
        out_fmt.append(fmt)
        out_cap.append(caps[old])
        out_ph.append(ph)
        out_lang.append(langs[old])
        out_grp.append(grp)
        out_px.append(px)

    table = {
        "image_id": image_id, "bytes": data,
        "w": np.array(ws, dtype=np.int32), "h": np.array(hs, dtype=np.int32),
        "fmt": out_fmt, "caption": out_cap,
        "phash": np.array(out_ph, dtype=np.int64),
    }
    meta = {"image_id": image_id, "true_lang": out_lang, "dup_group": out_grp}
    meta.update(_image_gt_columns(image_id, out_px, out_ok, out_ph))
    return table, meta


# What multimodal.image_stats reports for the declared-bmp/actual-ppm
# mismatch edge row (imgcodec.decode_bmp's magic check). Pinned as a
# literal so the oracle compare also binds on the operator's
# "{type}: {msg}" error formatting.
_MISMATCH_ERR = "ValueError: not a BMP"


def _image_gt_columns(image_id: list[str], out_px: list[np.ndarray],
                      out_ok: list[bool], out_ph: list[int]):
    """g4 generator ground truth for the three image registry oracles
    (image_stats / resize_thumbs / dup_pixel_verify), computed from the
    SOURCE pixel arrays and generation knowledge — never by calling the
    decoders under test. BMP/PPM are lossless, so a CORRECT
    decode(encode(px)) returns px exactly and the operator's outputs
    must match these values bit-for-bit; a codec/stats/psnr regression
    diverges and fails the DuckDB compare.

    The PSNR bar and the group-size cap are spec.PSNR_MIN and
    spec.MAX_DUP_GROUP, the constants multimodal.verify_dup_groups reads.
    Groups are keyed on the STAMPED phash column, exactly like the
    operator's groupBy; the self-row/undecodable/shape-mismatch ladder
    replicates verify_dup_groups' per-group ladder, and the PSNR
    arithmetic replicates imgcodec.psnr inline (independent copy: a
    regression there is caught too)."""
    from collections import defaultdict

    n = len(image_id)
    gt_ok, gt_err = [], []
    gt_mr, gt_mg, gt_mb = [], [], []
    gt_dw, gt_dh = [], []
    for px, ok in zip(out_px, out_ok):
        gt_ok.append(ok)
        if ok:
            m = px.reshape(-1, 3).mean(axis=0)
            gt_err.append(None)
            gt_mr.append(float(m[0]))
            gt_mg.append(float(m[1]))
            gt_mb.append(float(m[2]))
            gt_dh.append(int(px.shape[0]))
            gt_dw.append(int(px.shape[1]))
        else:
            gt_err.append(_MISMATCH_ERR)
            gt_mr.append(None)
            gt_mg.append(None)
            gt_mb.append(None)
            gt_dh.append(None)
            gt_dw.append(None)

    by_ph: dict[int, list[int]] = defaultdict(list)
    for i, ph in enumerate(out_ph):
        by_ph[ph].append(i)
    gt_in = [False] * n
    gt_canon: list[str | None] = [None] * n
    gt_psnr: list[float | None] = [None] * n
    gt_pd: list[bool | None] = [None] * n
    for idxs in by_ph.values():
        if not 1 < len(idxs) <= spec.MAX_DUP_GROUP:
            continue
        idxs = sorted(idxs, key=lambda i: image_id[i])
        canon_i = idxs[0]
        canon_px = out_px[canon_i] if out_ok[canon_i] else None
        for j, i in enumerate(idxs):
            gt_in[i] = True
            gt_canon[i] = image_id[canon_i]
            if j == 0:
                # canonical verifies against itself only if decodable
                gt_psnr[i] = float("inf") if canon_px is not None else None
                gt_pd[i] = canon_px is not None
            elif (not out_ok[i] or canon_px is None
                    or out_px[i].shape != canon_px.shape):
                gt_psnr[i] = None
                gt_pd[i] = False
            else:
                mse = np.mean((canon_px.astype(np.float64)
                               - out_px[i].astype(np.float64)) ** 2)
                p = (float("inf") if mse == 0
                     else float(10.0 * np.log10(255.0 ** 2 / mse)))
                gt_psnr[i] = p
                gt_pd[i] = bool(p >= spec.PSNR_MIN)
    return {
        "gt_ok": gt_ok, "gt_err": gt_err, "gt_mean_r": gt_mr,
        "gt_mean_g": gt_mg, "gt_mean_b": gt_mb, "gt_decoded_w": gt_dw,
        "gt_decoded_h": gt_dh, "gt_in_dup_group": gt_in,
        "gt_canonical_id": gt_canon, "gt_psnr_db": gt_psnr,
        "gt_pixel_dup": gt_pd,
    }


IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
])


AUDIO_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("fmt", pa.string()),
    ("gt_ok", pa.bool_()), ("gt_err", pa.string()),
    ("gt_duration_s", pa.float64()), ("gt_sample_rate", pa.int32()),
    ("gt_rms", pa.float64()),
])

VIDEO_SCHEMA = pa.schema([
    ("video_id", pa.string()), ("bytes", pa.binary()), ("fmt", pa.string()),
    ("gt_n_frames", pa.int32()), ("gt_spf", pa.float64()),
    ("gt_step", pa.int32()), ("gt_w", pa.int32()), ("gt_h", pa.int32()),
    ("gt_frame_bytes", pa.int32()),
])

# What multimodal.audio_features reports for a non-RIFF container (the
# generator's mp3/flac rows both fail the 4-byte magic check). Pinned as
# a literal so the oracle compare also binds on the operator's
# "{type}: {msg}" error formatting.
_NON_RIFF_ERR = "ValueError: not a RIFF/WAVE file"


def write_parquet_atomic(table: pa.Table, path: str, **kwargs) -> None:
    """Publish *table* at *path* whole or not at all: write it to a tmp
    name unique to this call beside *path*, then os.replace. A writer
    killed mid-write leaves no partial file for a generate-once exists
    check to serve later, and two processes building one file never
    write into each other's tmp."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        pq.write_table(table, tmp, **kwargs)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_audio_parquet(out_dir: str, n_rows: int, seed: int = 43) -> str:
    """Deterministic synthetic audio table (clip_id, bytes, fmt):
    mono PCM16 WAV sine+noise clips of varying rate/length, plus ~5%
    compressed-container rows (MP3/FLAC magic bytes — no codec in this
    sandbox) that must surface as error rows (F6). Generate-once cache
    keyed by every generation parameter, like write_images_parquet.

    g3 adds generator ground-truth columns (gt_*) so the driver's DuckDB
    oracle can check the extracted features value-exactly (round-5
    verdict item 1). They are computed from the generation parameters
    and the quantization arithmetic — NOT by calling the RIFF parser
    under test — so a parser regression (wrong chunk offset, wrong rate
    field) diverges from gt and fails the compare. The pipeline column
    set (clip_id, bytes, fmt) is untouched; audio_features() projects
    (clip_id, bytes) so gt columns never reach the Spark path."""
    path = os.path.join(out_dir, f"audio_n{n_rows}_s{seed}_g3.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    from ..operators.multimodal import encode_wav_pcm16
    ids, blobs, fmts = [], [], []
    gt_ok, gt_err, gt_dur, gt_rate, gt_rms = [], [], [], [], []
    for i in range(n_rows):
        ids.append(f"clip{i:08d}")
        u = float(rng.random())
        if u < 0.05:                       # compressed container -> error
            if u < 0.03:
                blobs.append(b"ID3\x03\x00" + rng.bytes(64))
                fmts.append("mp3")
            else:
                blobs.append(b"fLaC" + rng.bytes(64))
                fmts.append("flac")
            gt_ok.append(False)
            gt_err.append(_NON_RIFF_ERR)
            gt_dur.append(None)
            gt_rate.append(None)
            gt_rms.append(None)
        else:
            rate = (8000, 16000)[int(rng.integers(0, 2))]
            secs = 0.05 + float(rng.random()) * 0.2
            t = np.arange(int(rate * secs)) / rate
            freq = 100.0 + float(rng.random()) * 800.0
            amp = 0.2 + float(rng.random()) * 0.6
            wave = amp * np.sin(2 * np.pi * freq * t) \
                + 0.02 * rng.standard_normal(t.size)
            blobs.append(encode_wav_pcm16(wave, rate))
            fmts.append("wav")
            # Ground truth mirrors the PCM16 quantization (encode side)
            # and the /32768 dequantization (decode side) arithmetic, so
            # the value is bit-identical to what a CORRECT parser yields
            # — without routing through the parser itself.
            q = (np.clip(wave, -1.0, 1.0) * 32767.0).astype("<i2")
            pcm = q.astype(np.float64) / 32768.0
            gt_ok.append(True)
            gt_err.append(None)
            gt_dur.append(t.size / rate)
            gt_rate.append(rate)
            gt_rms.append(float(np.sqrt(np.mean(pcm ** 2))))
    write_parquet_atomic(pa.table(
        {"clip_id": ids, "bytes": blobs, "fmt": fmts, "gt_ok": gt_ok,
         "gt_err": gt_err, "gt_duration_s": gt_dur,
         "gt_sample_rate": gt_rate, "gt_rms": gt_rms},
        schema=AUDIO_SCHEMA), path, row_group_size=4096)
    return path


def write_video_parquet(out_dir: str, n_rows: int, seed: int = 44) -> str:
    """Deterministic synthetic video table (video_id, bytes, fmt):
    uncompressed RGB24 AVI clips (4-16 frames at 4 fps, small dims),
    plus ~5% compressed-container rows (H.264-ish magic) that the frame
    sampler must skip. Generate-once cache like write_images_parquet.

    g3 adds generator ground-truth columns (gt_*) for the driver's
    DuckDB oracle of video_frame_sample (round-5 verdict item 1),
    computed from the generation parameters — frame count / dims / fps
    are knowns, seconds-per-frame mirrors the avih microsecond rounding,
    the sampling stride mirrors video_frame_sample's step formula at
    spec.VIDEO_EVERY_S (its default, which the registry entry uses —
    baked into gt_step), and gt_frame_bytes is the BMP size formula
    (54-byte header + 4-aligned rows), NOT a call to encode_bmp. A
    parser/sampler/encoder regression diverges from gt and fails the
    compare."""
    from ..operators.multimodal import encode_avi_rgb24
    path = os.path.join(out_dir, f"video_n{n_rows}_s{seed}_g3.parquet")
    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    fps = 4
    spf = int(1e6 / fps) / 1e6            # avih stores integer microseconds
    step = max(1, round(spec.VIDEO_EVERY_S / spf))
    ids, blobs, fmts = [], [], []
    gt_nf, gt_spf, gt_step, gt_w, gt_h, gt_fb = [], [], [], [], [], []
    for i in range(n_rows):
        ids.append(f"vid{i:08d}")
        if float(rng.random()) < 0.05:     # compressed container -> skip
            blobs.append(b"\x00\x00\x00\x18ftypmp42" + rng.bytes(64))
            fmts.append("mp4")
            gt_nf.append(None)
            gt_spf.append(None)
            gt_step.append(None)
            gt_w.append(None)
            gt_h.append(None)
            gt_fb.append(None)
        else:
            n_frames = int(rng.integers(4, 17))
            w = int(rng.integers(4, 9))
            h = int(rng.integers(4, 9))
            frames = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                      for _ in range(n_frames)]
            blobs.append(encode_avi_rgb24(frames, fps=fps))
            fmts.append("avi")
            gt_nf.append(n_frames)
            gt_spf.append(spf)
            gt_step.append(step)
            gt_w.append(w)
            gt_h.append(h)
            gt_fb.append(54 + h * (3 * w + (4 - (3 * w) % 4) % 4))
    write_parquet_atomic(pa.table(
        {"video_id": ids, "bytes": blobs, "fmt": fmts, "gt_n_frames": gt_nf,
         "gt_spf": gt_spf, "gt_step": gt_step, "gt_w": gt_w, "gt_h": gt_h,
         "gt_frame_bytes": gt_fb},
        schema=VIDEO_SCHEMA), path, row_group_size=4096)
    return path


def write_images_parquet(out_dir: str, n_rows: int, seed: int = 42,
                         dims=(16, 32, 64)) -> str:
    """Generate-once cache keyed by EVERY generation parameter —
    (n_rows, seed, dims) — so two callers with different dims can never
    silently serve each other the wrong corpus. The g4 tag is the
    GENERATOR version (g2 = round 4 exact row counts + collision-free
    cluster bases; g4 = round 5 gt_* ground-truth columns in the meta
    sidecar for the image registry oracles — the MAIN table bytes are
    identical to g2, only the sidecar grew): bumping it retires stale
    cache files by name instead of deleting them (CLAUDE.md:
    .bench_cache regeneration is slow; old files stay for any in-flight
    reader)."""
    dtag = "x".join(str(d) for d in dims)
    path = os.path.join(out_dir,
                        f"images_n{n_rows}_s{seed}_d{dtag}_g4.parquet")
    meta_path = path.replace(".parquet", "_meta.parquet")
    if os.path.exists(path) and os.path.exists(meta_path):
        return path
    table, meta = generate(n_rows, seed=seed, dims=dims)
    write_parquet_atomic(pa.table(table, schema=IMAGES_SCHEMA), path,
                         row_group_size=8192)
    write_parquet_atomic(pa.table(meta), meta_path)
    return path
