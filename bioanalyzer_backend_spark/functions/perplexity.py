"""KenLM-style n-gram perplexity scoring of captions.

Count-based byte-bigram language model trained on the deterministic
synthetic corpus (all languages pooled), stored as a 256x256 float32
log-prob table in .npz, broadcast via SparkFiles, scored over whole
Arrow batches with one gather + segment-mean per batch.

ppl(text) = exp(-mean log P(b_i | b_{i-1})) over utf-8 byte transitions.
Natural-language captions score low; symbol soup / random bytes hit the
smoothing floor and score orders of magnitude higher -> the PPL_MAX gate
(spec.PPL_MAX) is the junk filter.
"""

from __future__ import annotations

import os

import numpy as np

from .. import spec

_MODEL_CACHE: dict[str, np.ndarray] = {}


def _bigrams(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    # one shared normalization prologue with the langid trigram model —
    # see langid.encode_batch
    from .langid import encode_batch
    buf, row_of = encode_batch(texts)
    if len(buf) < 2:
        e = np.empty(0, np.int64)
        return e, e, e
    ok = row_of[:-1] == row_of[1:]
    return row_of[:-1][ok], buf[:-1][ok], buf[1:][ok]


def train(samples_per_lang: int = 3000, seed: int = 5678) -> np.ndarray:
    from ..datagen import corpus

    rng = np.random.default_rng(seed)
    counts = np.full((256, 256), 0.1, dtype=np.float64)   # smoothing floor
    for lang in spec.LANGS:
        texts = [corpus.sample_caption(rng, lang)
                 for _ in range(samples_per_lang)]
        _, a, b = _bigrams(texts)
        np.add.at(counts, (a, b), 1.0)
    logp = np.log(counts / counts.sum(axis=1, keepdims=True))
    return logp.astype(np.float32)


def save_artifact(path: str, samples_per_lang: int = 3000) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez_compressed(path, logp=train(samples_per_lang))
    return path


def load_model(path: str) -> np.ndarray:
    m = _MODEL_CACHE.get(path)
    if m is None:
        with np.load(path, allow_pickle=False) as z:
            m = z["logp"].astype(np.float64)
        _MODEL_CACHE[path] = m
    return m


def ppl_batch(texts, logp: np.ndarray) -> np.ndarray:
    """Vectorized perplexity; rows with <2 bytes get ppl = +inf sentinel
    capped to a large finite value (they are judged by other rules)."""
    n = len(texts)
    rows, a, b = _bigrams(texts)
    ll = np.bincount(rows, weights=logp[a, b], minlength=n)
    cnt = np.bincount(rows, minlength=n).astype(np.float64)
    has = cnt > 0
    mean_ll = np.where(has, ll / np.maximum(cnt, 1.0), 0.0)
    out = np.where(has, np.exp(-mean_ll), 1e9)
    return np.minimum(out, 1e9)
