"""Multimodal column operators: images as opaque binary + typed metadata.

The Spark-side plumbing (schema, Arrow batch shape, mapInPandas
signatures, error-row materialization) is real and tested, and so are
the decoders for every uncompressed container: images via the repo's own
pure-numpy BMP/PPM codec (datagen/imgcodec.py — no imaging libs exist in
the sandbox), audio via a pure-numpy RIFF/WAVE PCM16 parser, video via a
pure-numpy uncompressed-AVI (RGB24) frame sampler. Compressed codecs
(JPEG/MP3/H.264...) surface as error rows rather than stubs — the
pipeline semantics (decode-or-error, feature extraction, resize, frame
sampling) are fully exercised end to end.

Error semantics follow the reference's error-row materialization
(app/services/data_retrieval.py:395-408): a row that fails to decode
becomes (ok=false, err=...) and the pipeline continues.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..datagen import imgcodec
from .dedup import dup_groups

IMAGE_STATS_SCHEMA = ("image_id string, ok boolean, err string, "
                      "mean_r double, mean_g double, mean_b double, "
                      "decoded_w int, decoded_h int")


def _map_rows(df: DataFrame, cols: tuple[str, ...], schema: str,
              decode: Callable, emit: Callable,
              on_error: Callable | None = None) -> DataFrame:
    """The one decode-or-error row map (mapInPandas over *cols*, the
    first of which is the row key): per row, ``decode(*inputs)`` is the
    guarded step, and ``emit(key, decoded)`` returns the row's output
    dicts (keys missing from a dict are NULL). A row whose decode raises
    becomes the one row ``on_error(key, exc)``, or no row when
    *on_error* is None. Only decode is guarded: a fault in emit (an
    encoder bug) fails the task instead of silently dropping rows."""
    names = [c.split()[0] for c in schema.split(",")]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, *inputs in zip(*(pdf[c] for c in cols)):
                try:
                    decoded = decode(*inputs)
                except Exception as e:
                    if on_error is not None:
                        rows.append(on_error(key, e))
                    continue
                rows.extend(emit(key, decoded))
            yield pd.DataFrame({k: [r.get(k) for r in rows] for k in names})

    return df.select(*cols).mapInPandas(gen, schema=schema)


def _error_row(key_col: str) -> Callable:
    """``on_error`` of the stats operators: error-row materialization
    (F6), ``ok=false`` and ``err="<Type>: <msg>"``, features NULL."""
    return lambda key, e: {key_col: key, "ok": False,
                           "err": f"{type(e).__name__}: {e}"}


def _ok_row(key_col: str) -> Callable:
    """``emit`` of the stats operators: one ``ok=true`` row of the
    decoded feature dict."""
    return lambda key, feats: [{key_col: key, "ok": True, "err": None,
                                **feats}]


def _decode_image(blob, fmt) -> np.ndarray:
    return imgcodec.decode(bytes(blob), fmt)


def image_stats(df: DataFrame) -> DataFrame:
    """Decode + per-channel stats; fmt-mismatch rows become error rows."""

    def features(blob, fmt) -> dict:
        px = _decode_image(blob, fmt)
        m = px.reshape(-1, 3).mean(axis=0)
        return {"mean_r": float(m[0]), "mean_g": float(m[1]),
                "mean_b": float(m[2]), "decoded_w": px.shape[1],
                "decoded_h": px.shape[0]}

    return _map_rows(df, ("image_id", "bytes", "fmt"), IMAGE_STATS_SCHEMA,
                     features, _ok_row("image_id"), _error_row("image_id"))


def _nearest_index_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w, _ = px.shape
    yi = (np.arange(out_h) * h // out_h)
    xi = (np.arange(out_w) * w // out_w)
    return px[yi][:, xi]


RESIZED_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Thumbnail pass: decode -> nearest-index downsample -> re-encode BMP.
    Failed decodes are dropped (they surface via image_stats)."""

    def thumb(iid, px: np.ndarray) -> list[dict]:
        small = _nearest_index_resize(px, out_h, out_w)
        return [{"image_id": iid, "bytes": imgcodec.encode_bmp(small),
                 "w": out_w, "h": out_h, "fmt": "bmp"}]

    return _map_rows(df, ("image_id", "bytes", "fmt"), RESIZED_SCHEMA,
                     _decode_image, thumb)


def with_phash(df: DataFrame, bytes_col: str = "bytes",
               fmt_col: str = "fmt", out_col: str = "phash") -> DataFrame:
    """Derive the 64-bit perceptual hash from the binary image column
    (functions/phash.average_hash over decoded pixels) — a raw crawl does
    not arrive pre-stamped. Arrow-batched pandas UDF; undecodable rows
    get NULL (error-row semantics, F6). The synth generator stamps the
    SAME hash, so derived == stamped is a tested invariant."""
    import pyspark.sql.functions as F

    from ..functions.phash import average_hash

    @F.pandas_udf("long")
    def _ph(blobs: pd.Series, fmts: pd.Series) -> pd.Series:
        out = []
        for blob, fmt in zip(blobs, fmts):
            try:
                out.append(average_hash(imgcodec.decode(bytes(blob), fmt)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, _ph(F.col(bytes_col), F.col(fmt_col)))


DUP_VERIFY_SCHEMA = ("phash long, image_id string, canonical_id string, "
                     "psnr_db double, pixel_dup boolean")


def verify_dup_groups(df: DataFrame, psnr_min: float = 40.0,
                      max_group: int = 1024) -> DataFrame:
    """Pixel-level verification of phash dup groups via grouped-map
    ``applyInPandas`` — a phash collision is only a CANDIDATE duplicate;
    the keep/drop decision needs the decoded-pixel invariant
    (PSNR >= ``psnr_min``, BASELINE input_hint) against the group's min-id
    canonical.

    Binary-column hygiene note: this is the one operator that must
    co-locate image bytes by key, so it shuffles bytes — but only for
    rows inside multi-member phash groups (dedup.dup_groups, the exact
    rule's own group set, prunes singletons first, i.e. a few % of a
    crawl; an inner join whose strategy AQE picks), never the full
    table. A degenerate hot phash (solid-color/template images) would put
    every member's bytes into ONE Python worker, so groups larger than
    ``max_group`` are excluded here and belong to the batch dedup path,
    which already treats the whole group as duplicates without touching
    pixels (same mega-bucket discipline as dedup.cap_buckets).
    Undecodable members surface as psnr_db NULL / pixel_dup false
    (error-row semantics, F6)."""
    import pyspark.sql.functions as F

    # No broadcast hint: the multi-member group set is unbounded at crawl
    # scale (billions of rows at 10^12 images would OOM the driver under
    # a forced broadcast). AQE measures the materialized set at runtime
    # and broadcasts only when it is actually small.
    multi = dup_groups(df).where(F.col("_n") <= max_group).select("phash")
    cand = df.select("phash", "image_id", "bytes", "fmt").join(multi, "phash")

    def gp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id").reset_index(drop=True)
        decoded = []
        for blob, fmt in zip(pdf["bytes"], pdf["fmt"]):
            try:
                decoded.append(imgcodec.decode(bytes(blob), fmt))
            except Exception:
                decoded.append(None)
        canon_id = pdf["image_id"].iloc[0]
        canon_px = decoded[0]
        out = {"phash": pdf["phash"], "image_id": pdf["image_id"],
               "canonical_id": canon_id, "psnr_db": [], "pixel_dup": []}
        for i, px in enumerate(decoded):
            if i == 0:
                # the canonical verifies against itself ONLY if its own
                # bytes decode — an undecodable canonical must surface as
                # an error row (F6), not as a phantom inf-PSNR "verified"
                if canon_px is None:
                    out["psnr_db"].append(None)
                    out["pixel_dup"].append(False)
                else:
                    out["psnr_db"].append(float("inf"))
                    out["pixel_dup"].append(True)
            elif px is None or canon_px is None \
                    or px.shape != canon_px.shape:
                out["psnr_db"].append(None)
                out["pixel_dup"].append(False)
            else:
                p = imgcodec.psnr(canon_px, px)
                out["psnr_db"].append(p)
                out["pixel_dup"].append(bool(p >= psnr_min))
        return pd.DataFrame(out)

    return cand.groupBy("phash").applyInPandas(gp, schema=DUP_VERIFY_SCHEMA)


# --------------------------------------------------------------------------
# audio / video: pure-numpy parsers for uncompressed containers
# (WAV/PCM16, AVI/RGB24); compressed codecs -> error rows
# --------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = ("clip_id string, ok boolean, err string, "
                         "duration_s double, sample_rate int, rms double")

VIDEO_FRAMES_SCHEMA = ("video_id string, frame_idx int, ts_s double, "
                       "bytes binary, w int, h int, fmt string")


def _decode_wav_pcm16(data: bytes):
    """Minimal RIFF/WAVE PCM16 parser (pure numpy — WAV is uncompressed,
    like BMP/PPM). Returns (samples float64 in [-1,1], sample_rate)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt_info, payload = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8:pos + 8 + size]
        if len(body) < size:
            # a chunk whose declared size overruns the file must be an
            # ERROR, not a silently shortened payload (the slice clamps):
            # an even-length truncation would otherwise yield a wrong
            # duration/rms with ok=true (same guard as the AVI parser's
            # truncated-frame check)
            raise ValueError(
                f"truncated {cid!r} chunk: {len(body)} < {size}")
        if cid == b"fmt ":
            audio_fmt, n_ch, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported wav: fmt={audio_fmt} bits={bits}")
            fmt_info = (n_ch, rate)
        elif cid == b"data":
            payload = body
        pos += 8 + size + (size & 1)
    if fmt_info is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    n_ch, rate = fmt_info
    pcm = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
    if n_ch > 1:
        pcm = pcm[: len(pcm) - len(pcm) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return pcm, rate


def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Synthesize WAV bytes for tests (mono PCM16)."""
    import struct

    pcm = (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                   rate * 2, 2, 16)
           + b"data" + struct.pack("<I", len(pcm)))
    return hdr + pcm


def audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction over the binary column (mapInPandas):
    WAV/PCM16 decodes with the pure-numpy RIFF parser above -> duration,
    sample rate, RMS; compressed formats (mp3/flac/...) have no codec in
    this sandbox and surface as error rows (F6), keeping the production
    schema and batch shape real and tested."""

    def features(blob) -> dict:
        pcm, rate = _decode_wav_pcm16(bytes(blob))
        return {"duration_s": len(pcm) / rate, "sample_rate": rate,
                "rms": float(np.sqrt(np.mean(pcm ** 2))) if len(pcm)
                else 0.0}

    return _map_rows(df, ("clip_id", "bytes"), AUDIO_FEATURES_SCHEMA,
                     features, _ok_row("clip_id"), _error_row("clip_id"))


def _parse_avi_rgb24(data: bytes):
    """Minimal RIFF/AVI parser for uncompressed RGB24 '00db' frames
    (pure numpy — an uncompressed AVI is just a RIFF of DIB frames).
    Returns (frames list[(h,w,3) uint8], seconds_per_frame)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    us_per_frame, w, h = None, None, None
    frames: list[np.ndarray] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal us_per_frame, w, h
        pos = lo
        while pos + 8 <= hi:
            cid = data[pos:pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            body_lo = pos + 8
            if cid == b"LIST":
                walk(body_lo + 4, body_lo + size)     # skip list type tag
            elif cid == b"avih":
                us_per_frame = struct.unpack_from("<I", data, body_lo)[0]
                w, h = struct.unpack_from("<II", data, body_lo + 32)
            elif cid[2:] == b"db":                    # uncompressed DIB
                if w is None:
                    raise ValueError("avih not seen before frames")
                row = w * 3
                stride = row + (4 - row % 4) % 4
                if size < stride * h:
                    # a truncated frame chunk must be an ERROR, not a
                    # silent read past the chunk boundary into the next
                    # chunk's bytes (garbage pixels with no signal)
                    raise ValueError(
                        f"truncated frame chunk: {size} < {stride * h}")
                raw = np.frombuffer(data, np.uint8, stride * h, body_lo)
                px = raw.reshape(h, stride)[:, :row].reshape(h, w, 3)
                frames.append(px[::-1, :, ::-1].copy())   # bottom-up BGR
            pos = body_lo + size + (size & 1)

    walk(12, len(data))
    if us_per_frame is None:
        raise ValueError("missing avih header")
    return frames, us_per_frame / 1e6


def encode_avi_rgb24(frames, fps: int = 4) -> bytes:
    """Synthesize an uncompressed AVI for tests (RGB24 '00db' frames)."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    h, w, _ = frames[0].shape
    avih = struct.pack("<IIIIIIIIII4I", int(1e6 / fps), 0, 0, 0,
                       len(frames), 0, 1, 0, w, h, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi_frames = []
    row = w * 3
    pad = (4 - row % 4) % 4
    for px in frames:
        bgr = px[::-1, :, ::-1]
        if pad:
            rows = np.zeros((h, row + pad), dtype=np.uint8)
            rows[:, :row] = bgr.reshape(h, row)
            body = rows.tobytes()
        else:
            body = bgr.tobytes()
        movi_frames.append(chunk(b"00db", body))
    movi = chunk(b"LIST", b"movi" + b"".join(movi_frames))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def video_frame_sample(df: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Frame sampling over the binary video column (mapInPandas, one row
    per sampled frame — a row-multiplying operator): uncompressed
    RIFF/AVI decodes with the pure-numpy parser above, frames are sampled
    every ``every_s`` seconds of stream time and re-encoded as BMP bytes.
    Compressed codecs have no decoder in this sandbox; those rows are
    dropped (failures surface via a stats pass, mirroring resize)."""

    def sample(vid, parsed) -> list[dict]:
        frames, spf = parsed
        step = max(1, round(every_s / spf)) if spf > 0 else 1
        return [{"video_id": vid, "frame_idx": idx, "ts_s": idx * spf,
                 "bytes": imgcodec.encode_bmp(frames[idx]),
                 "w": frames[idx].shape[1], "h": frames[idx].shape[0],
                 "fmt": "bmp"} for idx in range(0, len(frames), step)]

    return _map_rows(df, ("video_id", "bytes"), VIDEO_FRAMES_SCHEMA,
                     lambda blob: _parse_avi_rgb24(bytes(blob)), sample)
