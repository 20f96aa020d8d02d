"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k, fully native (zip_with + aggregate —
JVM-side, whole-stage codegen). Scale paths: (a) sign-LSH bucketing — a
fixed seeded hyperplane matrix hashes every vector to a bit signature
inside one Arrow-batched matmul; the query probes only buckets within a
Hamming radius, cutting candidates by ~2^planes/sum(C(planes,<=r)) before
the exact re-rank; (b) IVF — a sample-trained spherical k-means coarse
quantizer assigns every vector to a centroid list, and a query probes only
the n_probe nearest lists (list id doubles as a partition column at
warehouse scale, turning the probe into partition pruning).

Every operator reads ``vec_id`` and its ``embedding`` column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqlgen import SPARK, dot

# The seeds and IVF training shape, read by these operators and by the
# registry's numpy twins (catalog_queries._lsh_candidate_mask and
# _ivf_candidate_mask), which re-implement everything else.
LSH_SEED = 97
IVF_SEED = 131
IVF_SAMPLE_N = 2048
IVF_ITERS = 10


def cosine_topk(df: DataFrame, query_vec, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k vs one query vector. Native expressions;
    the top-k is a TakeOrderedAndProject (no full sort/shuffle)."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(np.dot(q, q)))
    qlit = "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in q) + ")"
    scored = df.selectExpr(
        "vec_id",
        f"{dot('embedding', qlit, SPARK)} AS dp",
        f"{dot('embedding', 'embedding', SPARK)} AS nn",
    ).selectExpr(
        "vec_id",
        # NULLIF guards zero-norm junk vectors: 0/0 = NaN and Spark
        # sorts NaN ABOVE all real values in descending order, which
        # would put undefined-similarity rows at the top of the top-k;
        # NULL instead sorts last under desc (nulls-last default)
        f"dp / (SQRT(NULLIF(nn, CAST(0.0 AS DOUBLE))) "
        f"* CAST({qn!r} AS DOUBLE)) AS cos_sim")
    return scored.orderBy(F.desc("cos_sim"), F.col("vec_id")).limit(k)


def _planes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def _row_vec(x, dim: int) -> np.ndarray | None:
    """One embedding cell -> float64 vector of length *dim*, or None for
    NULL / wrong-length / non-numeric junk."""
    if x is None:
        return None
    try:
        arr = np.asarray(x, dtype=np.float64)
    except (TypeError, ValueError):
        return None
    return arr if arr.shape == (dim,) else None


def _batch_matrix(v: pd.Series, dim: int) -> np.ndarray | None:
    """Whole Arrow batch -> (n, dim) matrix on the hot path; None when
    any row is NULL/ragged (caller takes the per-row fallback). A
    previous version np.asarray'd the raw list: one NULL row raised
    'inhomogeneous shape' and failed the whole stage, and an all-empty
    batch produced an (n, 0) matrix whose size==0 guard returned a
    WRONG-LENGTH (zero-row) result for n input rows."""
    vals = v.tolist()
    if any(x is None or not hasattr(x, "__len__") or len(x) != dim
           for x in vals):
        return None
    try:
        return np.asarray(vals, dtype=np.float64).reshape(len(vals), dim)
    except (TypeError, ValueError):
        return None


def _vector_udf(dim: int, score, out_type: str):
    """Arrow-batched pandas UDF over one embedding column, the one
    batch-at-a-time scoring path: a clean batch is scored as one
    ``(n, dim)`` matrix by ``score`` (a ``(0, dim)`` matrix scores to an
    empty result); a batch holding a NULL or ragged row is scored row by
    row, and those rows get NULL."""

    @F.pandas_udf(out_type)
    def _udf(v: pd.Series) -> pd.Series:
        mat = _batch_matrix(v, dim)
        if mat is not None:
            return pd.Series(score(mat))
        out = []
        for x in v.tolist():
            arr = _row_vec(x, dim)
            out.append(None if arr is None else score(arr[None, :])[0].item())
        return pd.Series(out, dtype="object")

    return _udf


def with_lsh_bucket(df: DataFrame, dim: int, n_planes: int = 16) -> DataFrame:
    """Append a LONG bucket = sign-bit signature of seeded hyperplanes.
    One matmul per Arrow batch. The column is int64 end to end: an int32
    signature silently wraps negative at n_planes >= 32 while the
    Python-side query signature stays an unwrapped int, so every XOR
    grows 32 phantom bits and radius probes return nothing."""
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes must be in [1, 63], got {n_planes}")
    planes = _planes(dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def bucket(mat: np.ndarray) -> np.ndarray:
        return (((mat @ planes) > 0) @ weights).astype(np.int64)

    return df.withColumn("lsh_bucket",
                         _vector_udf(dim, bucket, "long")(F.col("embedding")))


def lsh_cosine_topk(df: DataFrame, query_vec, k: int = 10,
                    n_planes: int = 16,
                    hamming_radius: int = 2) -> DataFrame:
    """LSH-pruned cosine top-k: probe buckets within a Hamming radius of
    the query signature, exact cosine only on survivors."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    planes = _planes(len(q), n_planes)
    qbits = int(((q @ planes) > 0).astype(np.int64)
                @ (1 << np.arange(n_planes)))
    bucketed = with_lsh_bucket(df, len(q), n_planes)
    xor = F.col("lsh_bucket").bitwiseXOR(F.lit(qbits))
    hamming = F.bit_count(xor)
    cand = bucketed.where(hamming <= F.lit(hamming_radius))
    return cosine_topk(cand, q.tolist(), k)


def ivf_train_centroids(df: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Deterministic coarse quantizer for IVF: spherical k-means on a
    bounded, id-ordered sample (standard IVF practice — the quantizer
    trains on a sample, never the full corpus, so the collect is O(sample)
    regardless of table size). Seeded init + fixed iteration count keeps
    the index reproducible across runs/retries."""
    rows = (df.select("vec_id", "embedding").orderBy("vec_id")
            .limit(IVF_SAMPLE_N).collect())
    vecs = [np.asarray(r[1], dtype=np.float64) for r in rows
            if r[1] is not None]
    if not vecs:
        raise ValueError(
            "ivf_train_centroids: the training sample is empty (or all "
            "embeddings NULL) — cannot train a quantizer")
    if len({v.shape for v in vecs}) != 1:
        raise ValueError(
            "ivf_train_centroids: ragged embedding lengths in the "
            f"training sample: {sorted({v.shape for v in vecs})}")
    return _kmeans_core(np.asarray(vecs), n_centroids)


def _kmeans_core(mat: np.ndarray, n_centroids: int) -> np.ndarray:
    """Pure-numpy spherical k-means (the quantizer itself — shared by the
    Spark trainer above and the registry's numpy oracle twin, the same
    way spec constants are shared; what the twin re-implements
    independently is everything downstream: assignment, probing,
    re-rank)."""
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    # fewer sample rows than requested centroids: train what the data
    # supports (rng.choice(replace=False) would raise an opaque
    # 'larger sample than population'); every vector becomes a seed
    n_centroids = min(n_centroids, len(mat))
    rng = np.random.default_rng(IVF_SEED)
    cent = mat[rng.choice(len(mat), size=n_centroids, replace=False)]
    for _ in range(IVF_ITERS):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def with_ivf_list(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Append ivf_list = argmax-cosine centroid id. One matmul per Arrow
    batch against the broadcast centroid matrix (executor-side numpy)."""
    cent = centroids.copy()

    def assign(mat: np.ndarray) -> np.ndarray:
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                               1e-12)
        return (mat @ cent.T).argmax(axis=1).astype(np.int32)

    return df.withColumn("ivf_list", _vector_udf(
        int(cent.shape[1]), assign, "int")(F.col("embedding")))


def ivf_cosine_topk(df: DataFrame, query_vec, k: int = 10,
                    n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF ANN: partition vectors into centroid lists, probe only the
    n_probe lists nearest the query, exact cosine re-rank on survivors.

    Scale path vs the LSH variant: at warehouse scale ivf_list is a
    partition column of the embedding table, so a probe reads n_probe
    partitions (partition pruning via the IN filter below) instead of the
    full corpus; n_probe == n_centroids degenerates to exact brute force
    (tested invariant)."""
    centroids = ivf_train_centroids(df, n_centroids)
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    probe = np.argsort(-(centroids @ qn))[:n_probe].tolist()
    listed = with_ivf_list(df, centroids)
    cand = listed.where(F.col("ivf_list").isin([int(p) for p in probe]))
    return cosine_topk(cand, q.tolist(), k)


def embedding_neardup_pairs(df: DataFrame, dim: int,
                            threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup: same-bucket candidate pairs -> exact
    cosine >= threshold.

    Shuffle hygiene (same discipline knn_join_lsh documents): the bucket
    self-join carries SLIM (id, bucket) rows only — shipping full float
    vectors through the candidate join would duplicate every vector once
    per candidate pair on the wire. Vectors (with norms hoisted, so
    per-pair work is one dot product) re-attach BY ID after the pair set
    exists."""
    b = with_lsh_bucket(df.select("vec_id", "embedding"), dim, 12)
    # snapshot before the a/b self-join: slim feeds both aliases, and an
    # un-checkpointed pandas-UDF lineage re-executes the hyperplane
    # matmul + full-corpus Arrow transfer once per branch (the same
    # multi-branch landmine simhash_candidates documents)
    slim = b.select(F.col("vec_id").alias("_id"), "lsh_bucket") \
        .localCheckpoint(eager=True)
    a, c = slim.alias("a"), slim.alias("b")
    cand = (a.join(c, (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b")))
    pairs = (cand.join(_with_norm(df, "id_a", "va", "na"), "id_a")
             .join(_with_norm(df, "id_b", "vb", "nb"), "id_b"))
    scored = pairs.selectExpr(
        "id_a", "id_b",
        # NULLIF: a zero-norm junk vector in a bucket pair makes
        # 0/0 = NaN, and Spark evaluates NaN >= threshold as TRUE —
        # junk pairs would surface as confirmed near-dups. NULL fails
        # the filter instead, matching the _q_embedding_neardup SQL
        # twin's NULLIF(a.nrm * b.nrm, 0.0) and cosine_topk's guard.
        f"{dot('va', 'vb', SPARK)} / "
        f"NULLIF(na * nb, CAST(0.0 AS DOUBLE)) AS cos_sim")
    return scored.where(F.col("cos_sim") >= threshold)


def _with_norm(df: DataFrame, id_alias: str, vec_alias: str,
               norm_alias: str) -> DataFrame:
    """(id, vec, norm) projection — norm hoisted BEFORE any join so the
    per-pair work downstream is one dot product, not three."""
    return df.selectExpr(
        f"vec_id AS {id_alias}", f"embedding AS {vec_alias}",
        f"SQRT({dot('embedding', 'embedding', SPARK)}) AS {norm_alias}")


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window
    w = (Window.partitionBy("qid")
         .orderBy(F.desc_nulls_last("cos_sim"), F.asc("cid")))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """Batched k-NN join: for EVERY query row, its top-k cosine
    neighbors in the corpus — the training-pipeline shape (hard-negative
    mining, dedup-vs-reference-set) that single-probe cosine_topk cannot
    express. Brute-force baseline: broadcast the (small) query side into
    a nested-loop join — the corpus streams through ONE task pass, norms
    hoisted pre-join, the per-query top-k is a row_number window keyed
    by qid (shuffle carries only (qid, cid, cos_sim) triples, never
    vectors). NULL cosines (zero-norm junk) sort last, like cosine_topk.

    Returns (qid, cid, cos_sim rounded to 5 — the dialect-portable
    compare convention of the cosine_top10 oracle).
    """
    q = _with_norm(queries, "qid", "qe", "qn")
    c = _with_norm(corpus, "cid", "ce", "cn")
    scored = (c.crossJoin(F.broadcast(q))
              .selectExpr("qid", "cid",
                          f"ROUND({dot('ce', 'qe', SPARK)} / "
                          f"NULLIF(cn * qn, CAST(0.0 AS DOUBLE)), 5)"
                          f" AS cos_sim"))
    return _topk_per_query(scored, k)


def knn_join_lsh(corpus: DataFrame, queries: DataFrame, k: int = 3,
                 dim: int = 16) -> DataFrame:
    """Scale path for the k-NN join: block-banded sign-LSH equi-join.

    Both sides get a 16-bit signature (seeded hyperplanes, one Arrow
    matmul), split into 4 key blocks; candidates are pairs agreeing on
    AT LEAST ONE block — by pigeonhole this covers every pair with
    signature Hamming distance <= 3 (tested), and
    random-hyperplane theory makes low-angle pairs likely to collide.
    The candidate join is a pure EQUI-join on (block, key): at 10^12
    rows it shuffles slim (id, block, key) rows and never compares
    all pairs — the brute nested loop is O(|Q| x |C|), this is
    O(sum of bucket^2). Re-rank is exact cosine on candidates only;
    vectors rejoin by id AFTER candidate dedup (queries broadcast,
    corpus equi-join), so signatures and vectors never travel together.
    """
    n_planes, n_blocks = 16, 4
    bits = n_planes // n_blocks
    mask = (1 << bits) - 1

    def blocks(df: DataFrame, out_id: str) -> DataFrame:
        b = with_lsh_bucket(df, dim, n_planes)
        keys = ", ".join(
            f"{i}, shiftright(lsh_bucket, {i * bits}) & {mask}"
            for i in range(n_blocks))
        return b.selectExpr(
            f"vec_id AS {out_id}",
            f"stack({n_blocks}, {keys}) AS (block, key)")

    cand = (blocks(queries, "qid")
            .join(blocks(corpus, "cid"), ["block", "key"])
            .select("qid", "cid").distinct())
    c = _with_norm(corpus, "cid", "ce", "cn")
    q = _with_norm(queries, "qid", "qe", "qn")
    scored = (cand.join(c, "cid").join(F.broadcast(q), "qid")
              .selectExpr("qid", "cid",
                          f"ROUND({dot('ce', 'qe', SPARK)} / "
                          f"NULLIF(cn * qn, CAST(0.0 AS DOUBLE)), 5)"
                          f" AS cos_sim"))
    return _topk_per_query(scored, k)
