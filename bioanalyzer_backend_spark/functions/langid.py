"""fastText-style language ID: hashed byte-trigram linear classifier.

Graft of the reference's LLM field-extractor "UDF" boundary
(app/services/bugsigdb_analyzer.py:88-159) re-expressed as a broadcastable
numpy model scored over whole Arrow batches — one scatter-add + softmax per
batch, never per-row Python (north-rule requirement).

Model = log P(bucket | lang) matrix over B hash buckets x L languages,
trained by counting hashed trigrams of the deterministic synthetic corpus
(datagen/corpus.py). Stored as .npz; shipped to executors via
``spark-submit --files`` + SparkFiles (see jobs/quality_filter.py); loaded
once per Python worker (executor-singleton pattern, SURVEY.md F7).
"""

from __future__ import annotations

import os

import numpy as np

from .. import spec

N_BUCKETS = 4096
_MULT = np.int64(65599)
UNKNOWN = "und"

_MODEL_CACHE: dict[str, tuple[np.ndarray, np.ndarray]] = {}


# --------------------------------------------------------------------------
# featurization — shared by train and score; fully vectorized
# --------------------------------------------------------------------------

def encode_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """lower + utf-8 per row, concatenated into ONE byte buffer with
    per-byte row ids for boundary masking. The single text-normalization
    prologue BOTH byte-n-gram models build on (langid trigrams here,
    perplexity bigrams) — two hand-kept copies previously risked the two
    models silently diverging on a normalization change."""
    encoded = [str(t).lower().encode("utf-8") if t is not None else b""
               for t in texts]
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64,
                       count=len(encoded))
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int64)
    row_of = np.repeat(np.arange(len(encoded), dtype=np.int64), lens)
    return buf, row_of


def _trigram_buckets(texts) -> tuple[np.ndarray, np.ndarray]:
    """All byte-trigram hash buckets for a batch of strings.

    Returns (row_ids, buckets): one entry per trigram position, rows with
    <3 bytes contribute nothing. Strings are lowered and utf-8 encoded;
    a batch is processed as ONE concatenated buffer with boundary masking.
    """
    buf, row_of = encode_batch(texts)
    if buf.size < 3:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    h = (buf[:-2] * _MULT + buf[1:-1]) * _MULT + buf[2:]
    ok = row_of[:-2] == row_of[2:]              # trigram inside one string
    return row_of[:-2][ok], np.abs(h[ok]) % N_BUCKETS


# --------------------------------------------------------------------------
# training (deterministic: seeded corpus, fixed iteration order)
# --------------------------------------------------------------------------

def train(samples_per_lang: int = 3000, seed: int = 1234) -> dict[str, np.ndarray]:
    from ..datagen import corpus

    rng = np.random.default_rng(seed)
    langs = list(spec.LANGS)
    counts = np.ones((N_BUCKETS, len(langs)), dtype=np.float64)  # Laplace
    for li, lang in enumerate(langs):
        texts = [corpus.sample_caption(rng, lang)
                 for _ in range(samples_per_lang)]
        _, buckets = _trigram_buckets(texts)
        np.add.at(counts[:, li], buckets, 1.0)
    logp = np.log(counts / counts.sum(axis=0, keepdims=True)).astype(np.float32)
    return {"logp": logp, "langs": np.array(langs)}


def save_artifact(path: str, samples_per_lang: int = 3000) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    art = train(samples_per_lang)
    np.savez_compressed(path, **art)
    return path


def load_model(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Executor-singleton artifact load (cache per worker process)."""
    m = _MODEL_CACHE.get(path)
    if m is None:
        with np.load(path, allow_pickle=False) as z:
            m = (z["logp"].astype(np.float32), z["langs"].copy())
        _MODEL_CACHE[path] = m
    return m


# --------------------------------------------------------------------------
# scoring — one scatter-add + softmax per batch
# --------------------------------------------------------------------------

def predict_batch(texts, logp: np.ndarray, langs: np.ndarray,
                  conf_min: float = spec.LANG_CONF_MIN):
    """Vectorized langid for a batch -> (lang: np[str], conf: np[float64])."""
    n = len(texts)
    rows, buckets = _trigram_buckets(texts)
    # per-language bincount scatter: ~5x faster than np.add.at's
    # unbuffered 2D scatter (profiled at 24k captions: 1.79s -> 0.36s),
    # same left-to-right accumulation order per row
    gathered = logp[buckets].astype(np.float64)
    scores = np.empty((n, logp.shape[1]), dtype=np.float64)
    for li in range(logp.shape[1]):
        scores[:, li] = np.bincount(rows, weights=gathered[:, li],
                                    minlength=n)
    cnt = np.bincount(rows, minlength=n).astype(np.float64)
    has = cnt > 0
    mean_ll = np.where(has[:, None], scores / np.maximum(cnt, 1.0)[:, None], 0.0)
    # softmax over per-trigram mean log-likelihood -> confidence
    mx = mean_ll.max(axis=1, keepdims=True)
    p = np.exp((mean_ll - mx) * 8.0)        # temperature sharpens separation
    p /= p.sum(axis=1, keepdims=True)
    best = p.argmax(axis=1)
    conf = p[np.arange(n), best]
    lang = langs[best].astype(object)
    lang[~has] = UNKNOWN
    conf = np.where(has, conf, 0.0)
    lang[conf < conf_min] = UNKNOWN
    return lang, conf


def _resolve(path: str) -> str:
    """Resolve an artifact: absolute path, else SparkFiles distribution."""
    if os.path.exists(path):
        return path
    try:
        from pyspark import SparkFiles
        cand = SparkFiles.get(os.path.basename(path))
        if os.path.exists(cand):
            return cand
    except Exception:
        pass
    return path
