"""Query catalog: every SURVEY.md section-2 operator as a (Spark, DuckDB) pair.

Each SQL-expressible entry is ONE builder rendered to both dialects by
sqlgen, so the Spark plan and its DuckDB oracle cannot drift. Entries whose
semantics need model artifacts or binary columns are oracled against
precomputed ground truth instead (generator gt_* columns for the
multimodal entries, the numpy-reference expected-label table for the
flagship, numpy-twin expected tables for the langid_udf_documents entry
and the approximate ANN paths) — since round 5 every entry carries an
oracle; the analytic numpy/pytest oracles in tests/ stay as the
independent gate for the UDF surfaces.

Each caching pattern is said once. An intermediate several join
branches read is a _STAGED entry a builder reads through _staged (a
cached view on Spark, staged by _spark_sql because the SQL names it; an
inline CTE on DuckDB). A numpy-twin expected table is
_expected_path(writer, *tags), keyed by the code the writer reaches
(_twin_key). The ANN and SimHash UDF entries come from one builder per
family (_ann_entry at the _ANN settings, _simhash_pairs_entry).

Registry contract (consumed by __spark_entry__):
    REGISTRY[name] = (spark_fn(spark, sf_dir) -> DataFrame, duck_sql)
"""

from __future__ import annotations

import inspect
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .. import session as _session
from .. import spec, sqlgen
from ..session import register_testdata_views
from ..sqlgen import DUCK, SPARK
from .pipeline import DEFAULT_ARTIFACT_DIR

# --------------------------------------------------------------------------
# builders (dialect -> SQL). Reference operator ids from SURVEY.md section 2.
# --------------------------------------------------------------------------

def _q_core(d: str) -> str:
    """P1-P8 + R1-R16 rule battery + A2/A4 rollup + R10 keep (the heart)."""
    return sqlgen.quality_core_sql(d)


def _q_scrub(d: str) -> str:
    """R9/P1: PII + citation/figure scrub chain."""
    return sqlgen.scrub_sql(d)


def _q_keep_by_lang(d: str) -> str:
    """A8-style rollup: keep-rate per language (audit-table query)."""
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)})
SELECT dd.lang AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(q.keep AS INT)) AS BIGINT) AS n_keep,
       CAST(SUM(CAST(q.n_present AS INT)) AS BIGINT) AS sum_present
FROM q JOIN documents dd ON q.row_id = dd.doc_id
GROUP BY dd.lang
"""


_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7)


def _q_threshold_sweep(d: str) -> str:
    """Quality-threshold calibration sweep (round-5 addition): keep-rate
    of the rule battery at five candidate quality_score cutoffs in ONE
    scan — the tuning query a quality-filter operator runs before
    committing a threshold change fleet-wide. Formulated as a SINGLE
    aggregate with one conditional accumulator per cutoff (no row
    expansion: an earlier cross-join-then-group form fed 5x the rows
    into the partial agg — at 10^12 rows that is 4x10^12 wasted row
    evaluations), then pivoted to rows by joining the 1-row aggregate
    with the 5-row threshold dim (CASE picks the matching accumulator;
    the equality compares identical CAST(x AS DOUBLE) literals, so it
    is exact in both dialects). COALESCE: over an empty table SUM is
    NULL while the count is 0 — n_keep must read 0 there too."""
    accs = ",\n       ".join(
        f"CAST(COALESCE(SUM(CASE WHEN quality_score >= {sqlgen.fmt(t)} "
        f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS k{int(t * 10)}"
        for t in _SWEEP_THRESHOLDS)
    picks = " ".join(
        f"WHEN t.threshold = {sqlgen.fmt(t)} THEN agg.k{int(t * 10)}"
        for t in _SWEEP_THRESHOLDS)
    ths = "\nUNION ALL ".join(
        f"SELECT {sqlgen.fmt(t)} AS threshold" for t in _SWEEP_THRESHOLDS)
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       {accs}
       FROM q),
t AS ({ths})
SELECT t.threshold AS threshold,
       agg.n AS n_docs,
       CASE {picks} END AS n_keep
FROM agg CROSS JOIN t
"""


def _q_score_quantiles(d: str) -> str:
    """Portable EXACT discrete quantiles (p50/p90/p99) of quality_score
    per language (round-5 addition): rank/count windows + pick the value
    at CEIL(p*n) — the dialect-portable (and at scale the shuffle-frugal:
    ONE exchange on lang) formulation of quantile_disc, with a total
    (score, row_id) tie order so both engines pick the same row. Outputs
    are actual score values (no interpolation arithmetic), so the
    compare is float-exact by construction. CEIL yields an
    integral-valued double; casting that is safe in both engines (the
    DuckDB round-half-even vs Spark truncate divergence needs a
    fractional part — see _q_pack_sequences)."""
    picks = ",\n       ".join(
        f"MAX(CASE WHEN rn = CAST(CEIL(n * {sqlgen.fmt(p)}) AS BIGINT) "
        f"THEN score END) AS p{int(p * 100)}"
        for p in (0.5, 0.9, 0.99))
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
s AS (SELECT dd.lang AS lang, q.quality_score AS score, q.row_id AS rid
      FROM q JOIN documents dd ON q.row_id = dd.doc_id),
r AS (SELECT lang, score,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score, rid) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM s)
SELECT lang,
       {picks}
FROM r
GROUP BY lang
"""


def _q_tok_stats(d: str) -> str:
    """R15 analogue: token counting (whitespace + punct-trim) per doc."""
    toks = sqlgen.tokens_expr("text", d)
    stop_arr = sqlgen.str_array(spec.ALL_STOPWORDS, d)
    return f"""
WITH b AS (SELECT doc_id AS row_id, {toks} AS toks FROM documents)
SELECT row_id,
       CAST({sqlgen.arr_len('toks', d)} AS BIGINT) AS n_tok,
       CAST({sqlgen.arr_len(sqlgen.arr_distinct('toks', d), d)} AS BIGINT) AS n_utok,
       CAST({sqlgen.arr_len(sqlgen.arr_filter('toks', f'x -> {sqlgen.arr_contains(stop_arr, "x", d)}', d), d)} AS BIGINT) AS n_stop
FROM b
"""


def _q_fingerprint(d: str) -> str:
    """Document fingerprinting: md5 over normalized token stream."""
    toks = sqlgen.tokens_expr("text", d)
    return (f"SELECT doc_id AS row_id, "
            f"md5({sqlgen.arr_join(toks, ' ', d)}) AS fp FROM documents")


def _q_dedup_exact(d: str) -> str:
    """Exact dedup via content hash; canonical = min id (A7 semantics)."""
    toks = sqlgen.tokens_expr("text", d)
    return f"""
WITH f AS (SELECT doc_id AS row_id,
                  md5({sqlgen.arr_join(toks, ' ', d)}) AS fp
           FROM documents)
SELECT row_id, fp,
       CASE WHEN row_id = MIN(row_id) OVER (PARTITION BY fp)
            THEN FALSE ELSE TRUE END AS is_dup
FROM f
"""


_MARKER_LANGS = ("en", "es", "de", "fr")


def _q_langid_marker(d: str) -> str:
    """R4/F4 analogue: marker-word language guess (SQL-expressible twin of
    the hashed-n-gram langid UDF; first-match-wins tie-break like
    fallback_extractor.py:58-61)."""
    toks = sqlgen.tokens_expr("text", d)
    hits = []
    for lang in _MARKER_LANGS:
        arr = sqlgen.str_array(spec.STOPWORDS[lang], d)
        flt = sqlgen.arr_filter("toks", f"x -> {sqlgen.arr_contains(arr, 'x', d)}", d)
        hits.append(f"CAST({sqlgen.arr_len(flt, d)} AS BIGINT) AS n_{lang}")
    guess = """CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
       WHEN n_es >= n_de AND n_es >= n_fr AND n_es > 0 THEN 'es'
       WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
       WHEN n_fr > 0 THEN 'fr'
       ELSE 'und' END"""
    return f"""
WITH b AS (SELECT doc_id AS row_id, {toks} AS toks FROM documents),
h AS (SELECT row_id, {', '.join(hits)} FROM b)
SELECT row_id, n_en, n_es, n_de, n_fr, {guess} AS lang_guess FROM h
"""


def _staged(d: str, view: str) -> str:
    """The CTE block a builder writes for the staged intermediate *view*
    (a key of _STAGED). An intermediate read from several join branches
    re-runs its whole pipeline per branch once Spark inlines the CTE, so
    the Spark side reads it as a cached view, ``<cte> AS (SELECT * FROM
    <view>)`` (at warehouse scale: a staged table) that _spark_sql stages
    because the rendered SQL names it; DuckDB renders the same block
    inline. Both dialects come from the one builder, so results stay
    identical."""
    cte, block = _STAGED[view]
    return f"{cte} AS (SELECT * FROM {view})" if d == SPARK else block(d)


def _shingles(d: str) -> str:
    """Word 3-gram shingles of the token stream."""
    toks = sqlgen.tokens_expr("text", d)
    return (f"SELECT doc_id AS row_id, toks, "
            f"{sqlgen.shingle_array('toks', d)} AS sh "
            f"FROM (SELECT doc_id, {toks} AS toks FROM documents)")


def _q_ngram_jaccard(d: str) -> str:
    """Near-dup detection: 3-gram shingle Jaccard, top-20 pairs.

    Hot-shingle cap: a boilerplate shingle shared by m docs contributes
    m^2/2 rows to the posting-list self-join — quadratic in corpus size
    at 10^12 rows while carrying near-zero signal ("template text").
    Shingles with posting count > 32 are removed from the
    shingle UNIVERSE (both the intersection join and the per-doc sizes,
    so Jaccard stays a well-defined similarity over the filtered space).
    Both dialects render the same cap, so the oracle compare still holds;
    at sf0.01 the hottest shingle posts 7 docs, so 32 never binds there —
    the cap exists for the 100x corpus. The operator twin with a
    dropped-bucket report is operators/dedup.jaccard_verify."""
    return f"""
WITH {_staged(d, "shingles_v")},
e0 AS (SELECT row_id, {sqlgen.explode_col('sh', 'g', d)} FROM s),
hot AS (SELECT g FROM e0 GROUP BY g HAVING COUNT(*) > 32),
e AS (SELECT e0.row_id, e0.g FROM e0 LEFT JOIN hot ON e0.g = hot.g
      WHERE hot.g IS NULL),
sz AS (SELECT row_id, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY row_id),
inter AS (
  SELECT a.row_id AS ra, b.row_id AS rb, CAST(COUNT(*) AS BIGINT) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.row_id < b.row_id
  GROUP BY a.row_id, b.row_id
)
SELECT ra, rb,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter JOIN sz sa ON sa.row_id = ra JOIN sz sb ON sb.row_id = rb
ORDER BY CAST(i AS DOUBLE) / (sa.n + sb.n - i) DESC, ra, rb
LIMIT 20
"""


def _minhash_sig_ctes(d: str) -> str:
    """CTEs ``s`` (the staged shingles) -> ``sig(row_id, band, mh)``.

    Banded MinHash with sqlgen.MINHASH_BANDS bands of
    sqlgen.MINHASH_ROWS rows (b=4, r=4 —
    candidate threshold (1/b)^(1/r) ~= 0.71, matched to the 0.8 Jaccard
    verify bar; r=1 admits candidates from s ~= 0.16, which explodes the
    candidate volume quadratically at 10^12 rows). The digests and band
    signatures render in sqlgen (minhash_hash_exprs / minhash_band_exprs,
    shared with operators/dedup.minhash_lsh_candidates); short docs (<3
    tokens) get NULL signatures in both dialects.

    Everything is a NATIVE per-row expression — no explode, no groupBy:
    the only shuffle in the whole candidates plan is the final slim
    bucket join (scale-critical at 10^12 rows).

    NO null-filter on mh: NULL signatures can never match an equi-join
    anyway — and an explicit ``WHERE mh IS NOT NULL`` gets pushed below
    the projection by both optimizers, re-evaluating the whole
    shingle+md5 expression a second time per branch (measured 10x
    slowdown in Spark)."""
    n_bands, n_rows = sqlgen.MINHASH_BANDS, sqlgen.MINHASH_ROWS
    hashes = ", ".join(sqlgen.minhash_hash_exprs("sh", n_bands, n_rows, d))
    mins = ", ".join(sqlgen.minhash_band_exprs(n_bands, n_rows, d))
    unions = " UNION ALL ".join(
        f"SELECT row_id, {b} AS band, mh{b} AS mh FROM m" for b in range(n_bands))
    return f"""{_staged(d, "shingles_v")},
hh AS (SELECT row_id, {hashes} FROM s),
m AS (SELECT row_id, {mins} FROM hh),
sig AS ({unions})"""


def _q_minhash_bands(d: str) -> str:
    """MinHash-LSH candidate pairs: 4 bands x 4 rows, band signature =
    concat of 4 md5-digest-slice minhashes (threshold ~0.71).
    (shingle -> minhash -> band -> bucket-join; deterministic via md5.)

    Band-bucket cap (same always-on discipline as _q_ngram_jaccard's
    posting cap of 32, rendered in BOTH dialects so the oracle compare
    holds): a band bucket of m docs contributes m^2/2 candidate pairs,
    and a bucket > 32 means >32 docs share a band signature —
    boilerplate, where pairwise candidates carry no signal. At sf0.01
    the hottest bucket is far below 32, so the cap never binds there;
    it exists for the 100x corpus. The operator twin with a
    dropped-bucket report is operators/dedup.minhash_lsh_candidates
    (max_bucket="auto"); its auto cap resolves to 64 (the shared
    derived_bucket_cap floor), NOT this query's 32 — an intentional
    divergence: this entry is self-consistent across both dialects at
    32, the operator follows the one cap policy shared with
    simhash_candidates, and neither cap binds outside degenerate
    boilerplate buckets.

    The bucket filter keeps only sizes in [2, 32] (the
    cap_buckets(min_bucket=2) pattern): a singleton band-bucket can
    never produce an a.row_id < b.row_id pair, so pruning it before the
    self-join is value-identical while removing the MAJORITY of the
    joined rows (measured at sf0.1: 18,299 of 20,000 band-signature
    rows are singletons — banded minhashes over distinct docs rarely
    collide, which is the point of banding). Rendered identically in
    both dialects.

    The signatures are staged whole (_staged): the capped query reads
    ``sig`` from three branches (bucket counts, bucket filter,
    self-join)."""
    return f"""
WITH {_staged(d, "minhash_sig_v")},
okb AS (SELECT band, mh FROM sig GROUP BY band, mh
        HAVING COUNT(*) BETWEEN 2 AND 32),
sigk AS (SELECT sig.row_id, sig.band, sig.mh FROM sig
         JOIN okb ON sig.band = okb.band AND sig.mh = okb.mh)
SELECT DISTINCT a.row_id AS ra, b.row_id AS rb
FROM sigk a JOIN sigk b
  ON a.band = b.band AND a.mh = b.mh AND a.row_id < b.row_id
"""


def _tok_hashes(d: str, distinct: bool) -> str:
    """Per-doc array of 32-bit token hashes (md5-prefix family)."""
    toks = sqlgen.tokens_expr("text", d)
    src = sqlgen.arr_distinct("toks", d) if distinct else "toks"
    hs = sqlgen.arr_transform(src, f"x -> {sqlgen.md5_hash32('x', d)}", d)
    return (f"SELECT doc_id AS row_id, {hs} AS hs "
            f"FROM (SELECT doc_id, {toks} AS toks FROM documents)")


def _q_simhash16(d: str) -> str:
    """SimHash near-dup signature, 16-bit SQL-expressible twin of the
    64-bit pandas-UDF SimHash (operators/dedup.py): per-bit +1/-1 votes
    over distinct-token hashes, sign -> bit. Vote fold is commutative so
    array order never matters."""
    votes = []
    for j in range(16):
        bit = f"({sqlgen.shiftr('h', j, d)}) % 2"
        body = f"acc + CASE WHEN {bit} = 1 THEN 1 ELSE -1 END"
        votes.append(f"{sqlgen.fold_bigint('hs', body, d)} AS v{j}")
    sig = " + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END"
                     for j in range(16))
    return f"""
WITH h AS ({_tok_hashes(d, distinct=True)}),
v AS (SELECT row_id, {', '.join(votes)} FROM h)
SELECT row_id, CAST({sig} AS BIGINT) AS simhash16 FROM v
"""


def _tok_hashes64(d: str) -> str:
    """Per-doc arrays of the hi/lo 32-bit halves of 64-bit md5-slice
    token hashes over DISTINCT tokens — the same hash family as the
    vectorized SimHash UDF (operators/dedup._token_hash64: first 16 md5
    hex chars as uint64), so SQL folds reproduce the UDF exactly. Hash
    once per token, slice twice (md5 in HOF lambdas is the cost)."""
    toks = sqlgen.tokens_expr("text", d)
    dt = sqlgen.arr_distinct("toks", d)
    hs = sqlgen.arr_transform(dt, "x -> md5(x)", d)
    hi = sqlgen.arr_transform("hs", f"h -> {sqlgen.hex_hash32('h', d, 1)}", d)
    lo = sqlgen.arr_transform("hs", f"h -> {sqlgen.hex_hash32('h', d, 9)}", d)
    return (f"SELECT row_id, {hi} AS hi, {lo} AS lo FROM "
            f"(SELECT doc_id AS row_id, {hs} AS hs FROM "
            f"(SELECT doc_id, {toks} AS toks FROM documents))")


def _simhash64_expr(d: str) -> str:
    """CTE body computing (row_id, simhash64) — 64-bit twin of
    _q_simhash16's vote fold: per-bit +1/-1 votes over distinct-token
    hashes (bits 0..31 from the lo half, 32..63 from hi), sign -> bit.
    Bit 63 contributes the BIGINT sign, added as MIN_LONG (written as
    -(2^63-1)-1: the bare literal fails to parse as a BIGINT in Spark).
    The vote fold is commutative, so list_distinct/array_distinct
    ordering differences between engines never matter."""
    votes = []
    for j in range(64):
        arr = "lo" if j < 32 else "hi"
        bit = f"({sqlgen.shiftr('h', j % 32, d)}) % 2"
        body = f"acc + CASE WHEN {bit} = 1 THEN 1 ELSE -1 END"
        votes.append(f"{sqlgen.fold_bigint(arr, body, d)} AS v{j}")
    terms = ["CASE WHEN v63 > 0 THEN CAST(-9223372036854775807 AS BIGINT) "
             "- 1 ELSE CAST(0 AS BIGINT) END"]
    terms += [f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
              for j in range(63)]
    sig = " + ".join(terms)
    return f"""h AS ({_tok_hashes64(d)}),
v AS (SELECT row_id, {', '.join(votes)} FROM h),
sg AS (SELECT row_id, CAST({sig} AS BIGINT) AS simhash64 FROM v)"""


def _q_simhash64(d: str) -> str:
    """64-bit SimHash per document — the driver-visible oracle for the
    vectorized pandas-UDF signatures (operators/dedup.simhash_batch):
    the registry's Spark side runs the UDF, this SQL runs in DuckDB,
    and the value-hash compare proves them identical."""
    return f"WITH {_simhash64_expr(d)} SELECT row_id, simhash64 FROM sg"


def _q_simhash_pairs(d: str, capped: bool = True) -> str:
    """SimHash near-dup candidate pipeline, fully SQL-expressible twin:
    16-bit block-permutation bucketing (pigeonhole: Hamming<=3 pairs
    agree on >=1 of 4 blocks) -> exact Hamming verify via
    bit_count(xor). (x >> s) & 65535 extracts block bits identically in
    both dialects even for negative signatures (sign-extension is masked
    off).

    ``capped`` renders the default-on mega-bucket cap of the Spark
    operator (dedup.simhash_candidates max_bucket="auto") — blocks whose
    bucket exceeds GREATEST(64, ceil(16*n/65536)) are excluded, the
    integer-exact twin of dedup.derived_bucket_cap (ceil via
    FLOOR((16n + 65535)/65536): DuckDB '/' is float division, so the
    FLOOR form is the one rendering both engines agree on). The uncapped
    variant is the oracle for the WIDE-key operator entry, whose bucket
    space differs but whose verified Hamming<=3 output is provably the
    same set."""
    blocks = " UNION ALL ".join(
        f"SELECT row_id, {b} AS block, "
        f"(({sqlgen.shiftr('simhash64', 16 * b, d)}) & 65535) AS key, "
        f"simhash64 FROM sg" for b in range(4))
    ham = sqlgen.popcount(
        sqlgen.bxor("a.simhash64", "b.simhash64", d), d)
    cap_ctes = f""",
cap AS (SELECT GREATEST(CAST(64 AS BIGINT),
                        CAST(FLOOR(({sqlgen.fmt(16.0)} * COUNT(*) + 65535)
                                   / {sqlgen.fmt(65536.0)})
                             AS BIGINT)) AS mx FROM documents),
hotb AS (SELECT block, key FROM
         (SELECT block, key, COUNT(*) AS bucket_n FROM bl
          GROUP BY block, key) bn, cap
         WHERE bn.bucket_n > cap.mx),
blk AS (SELECT bl.row_id, bl.block, bl.key, bl.simhash64 FROM bl
        LEFT JOIN hotb ON bl.block = hotb.block AND bl.key = hotb.key
        WHERE hotb.block IS NULL)""" if capped else ""
    src = "blk" if capped else "bl"
    return f"""
WITH {_simhash64_expr(d)},
bl AS ({blocks}){cap_ctes},
p AS (SELECT DISTINCT a.row_id AS id_a, b.row_id AS id_b,
             CAST({ham} AS INT) AS hamming
      FROM {src} a JOIN {src} b
        ON a.block = b.block AND a.key = b.key AND a.row_id < b.row_id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
"""


def _q_rolling_fp(d: str) -> str:
    """Document fingerprint via order-sensitive polynomial rolling hash
    (acc*131 + tok_hash mod 2^31-1 — Karp-Rabin shape, overflow-free under
    ANSI mode: intermediate < 2^40)."""
    fold = sqlgen.fold_bigint("hs", "(acc * 131 + h) % 2147483647", d)
    return (f"WITH h AS ({_tok_hashes(d, distinct=False)}) "
            f"SELECT row_id, CAST({fold} AS BIGINT) AS rolling_fp FROM h")


def _q_embedding_neardup(d: str) -> str:
    """Embedding-cosine near-dup pairs, scale path: sign-LSH bucket on the
    first 8 dims prunes the pair space (same-bucket join), exact cosine
    re-rank on survivors. Threshold low because the synthetic embeddings
    are near-orthogonal (max pairwise cos ~0.4)."""
    bucket = " + ".join(
        f"CASE WHEN {sqlgen.arr_get('embedding', str(j + 1), d)} > 0 "
        f"THEN {1 << j} ELSE 0 END" for j in range(8))
    dot_ab = sqlgen.dot("a.embedding", "b.embedding", d)
    dot_self = sqlgen.dot("embedding", "embedding", d)
    # norm computed ONCE per vector before the join — per-pair work is a
    # single dot product, not three (O(pairs*dim) saved)
    return f"""
WITH e AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bkt,
                  SQRT({dot_self}) AS nrm FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND({dot_ab} / NULLIF(a.nrm * b.nrm, CAST(0.0 AS DOUBLE)),
                   5) AS cos_sim
      FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= CAST(0.15 AS DOUBLE)
ORDER BY cos_sim DESC, id_a, id_b
"""


def _neardup_ctes(d: str) -> str:
    """Shared CTE block: shingles -> minhash sig -> candidates ->
    Jaccard-verified pairs ``vp(pa, pb)`` (>= 0.8), plus ``s`` (one row
    per doc) for join-back."""
    return f"""{_minhash_sig_ctes(d)},
ex AS (SELECT row_id, {sqlgen.explode_col('sh', 'g', d)} FROM s),
cand AS (SELECT DISTINCT a.row_id AS ra, b.row_id AS rb
         FROM sig a JOIN sig b
           ON a.band = b.band AND a.mh = b.mh AND a.row_id < b.row_id),
sz AS (SELECT row_id, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY row_id),
ver AS (SELECT c.ra, c.rb, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN ex x ON x.row_id = c.ra
        JOIN ex y ON y.row_id = c.rb AND x.g = y.g
        GROUP BY c.ra, c.rb),
vp AS (SELECT v.ra AS pa, v.rb AS pb
       FROM ver v JOIN sz sa ON sa.row_id = v.ra
                  JOIN sz sb ON sb.row_id = v.rb
       WHERE CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) >= {sqlgen.fmt(0.8)})"""


def _q_neardup_dedup(d: str) -> str:
    """End-to-end near-dedup: MinHash-LSH candidates -> exact Jaccard
    verify (>=0.8) -> per-doc is_neardup flag (dup = verified partner with
    smaller id). The full shingle->minhash->band->bucket-join->verify
    pipeline as one plan."""
    return f"""
WITH {_neardup_ctes(d)},
dup AS (SELECT DISTINCT pb AS row_id FROM vp)
SELECT s.row_id,
       CASE WHEN dup.row_id IS NOT NULL THEN TRUE ELSE FALSE END AS is_neardup
FROM s LEFT JOIN dup ON s.row_id = dup.row_id
"""


def _q_decontaminate(d: str) -> str:
    """Benchmark decontamination: flag corpus docs (doc_id >= 20) that
    share >= 3 distinct 3-gram shingles with a held-out benchmark
    set (doc_id < 20) — the test-set-overlap removal step of a training
    pipeline (a doc quoting eval data must not be trained on). The
    benchmark shingle set is DISTINCT and bounded (|bench| x shingles),
    so at 10^12 corpus rows it broadcasts and the probe is map-side; the
    per-doc distinct-hit count is one groupBy on slim (row_id, shingle)
    rows."""
    return f"""
WITH {_staged(d, "shingles_v")},
e AS (SELECT row_id, {sqlgen.explode_col('sh', 'g', d)} FROM s),
bench AS (SELECT DISTINCT g FROM e WHERE row_id < 20),
hits AS (SELECT e.row_id, CAST(COUNT(DISTINCT e.g) AS BIGINT) AS n_overlap
         FROM e JOIN bench b ON e.g = b.g
         WHERE e.row_id >= 20
         GROUP BY e.row_id)
SELECT s.row_id,
       COALESCE(h.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       COALESCE(h.n_overlap, CAST(0 AS BIGINT)) >= 3
         AS contaminated
FROM s LEFT JOIN hits h ON s.row_id = h.row_id
WHERE s.row_id >= 20
"""


def _q_verified_pairs(d: str) -> str:
    """Jaccard-verified near-dup pairs as (id_a, id_b) — the edge set
    the transitive-dedup entry feeds into connected components."""
    return f"""
WITH {_neardup_ctes(d)}
SELECT pa AS id_a, pb AS id_b FROM vp
"""


def _q_dedup_transitive(d: str) -> str:
    """Transitive near-dedup over documents: verified MinHash pairs ->
    connected components (WITH RECURSIVE min-label closure) -> per-doc
    component id + keep flag (keep = untouched doc or the component's
    min-id canonical). The pairwise flag (neardup_dedup_documents)
    over-deletes on chains a~b~c; this is the component-canonical
    version. Spark side: the SAME pair SQL feeding the iterative
    operators/dedup.dup_components."""
    return f"""
WITH RECURSIVE {_neardup_ctes(d)},
ed AS (SELECT pa AS src, pb AS dst FROM vp
       UNION ALL SELECT pb, pa FROM vp),
reach(id, label) AS (
  SELECT src AS id, src AS label FROM ed
  UNION
  SELECT ed.src AS id, r.label FROM ed JOIN reach r ON r.id = ed.dst
),
comp AS (SELECT id, MIN(label) AS component FROM reach GROUP BY id)
SELECT s.row_id,
       CAST(COALESCE(c.component, s.row_id) AS BIGINT) AS component,
       (c.component IS NULL OR c.component = s.row_id) AS keep
FROM s LEFT JOIN comp c ON s.row_id = c.id
"""


def _q_confidence_boost(d: str) -> str:
    """A3 (gemini_qa.py:679-708): confidence mean with high-score boost —
    scores >= 0.8 weighted x1.2, mean over rules, clamped to 1.0."""
    terms = " + ".join(
        f"(CASE WHEN score_{r} >= {sqlgen.fmt(0.8)} "
        f"THEN score_{r} * {sqlgen.fmt(1.2)} "
        f"ELSE score_{r} END)" for r in spec.RULE_NAMES)
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)})
SELECT row_id,
       LEAST(CAST(1.0 AS DOUBLE),
             ({terms}) / {len(spec.RULE_NAMES)}) AS boosted_conf
FROM q
"""


def _q_curation_summary(d: str) -> str:
    """R16 (gemini_qa.py:721-729 / field_validator.py:234-244): summary
    message keyed by number of missing (non-PRESENT) rules: 0 / 1 / <=3 / >3."""
    n_missing = f"{len(spec.RULE_NAMES)} - n_present"
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)})
SELECT row_id, CAST({n_missing} AS INT) AS n_missing,
       CASE WHEN {n_missing} = 0 THEN 'ready: all fields present'
            WHEN {n_missing} = 1 THEN 'nearly ready: 1 field missing'
            WHEN {n_missing} <= 3 THEN 'partial: a few fields missing'
            ELSE 'not ready: most fields missing' END AS curation_summary
FROM q
"""


def _q_audit_grouping_sets(d: str) -> str:
    """A8 audit rollup at three grains in one pass: GROUPING SETS over
    (lang, verdict) / (lang) / () — the keep-rate-by-language audit query
    plus its subtotals and grand total without three scans (SURVEY.md
    section 2.4). Null group keys from the rollup are renamed '<all>'
    (data langs are non-null, so no conflation)."""
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
j AS (SELECT dd.lang AS lang,
             CASE WHEN q.keep THEN 'keep' ELSE 'drop' END AS verdict
      FROM q JOIN documents dd ON q.row_id = dd.doc_id)
SELECT COALESCE(lang, '<all>') AS lang,
       COALESCE(verdict, '<all>') AS verdict,
       CAST(COUNT(*) AS BIGINT) AS n
FROM j
GROUP BY GROUPING SETS ((lang, verdict), (lang), ())
"""


def _q_zscore_quality_by_lang(d: str) -> str:
    """Window AGGREGATES (beyond row_number): per-language z-score
    calibration of the document quality score — the vectorized analogue of
    normalizing rule confidences per cohort. AVG/STDDEV window over the
    lang partition; constant-score languages yield NULL (NULLIF guard,
    ANSI-safe)."""
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
j AS (SELECT q.row_id, dd.lang AS lang, q.quality_score AS qs
      FROM q JOIN documents dd ON q.row_id = dd.doc_id)
SELECT row_id, lang,
       ROUND((qs - AVG(qs) OVER (PARTITION BY lang))
             / NULLIF(STDDEV_SAMP(qs) OVER (PARTITION BY lang),
                      CAST(0.0 AS DOUBLE)), 5) AS qs_z
FROM j
"""


def _q_stats_by_lang(d: str) -> str:
    """Statistical aggregates per language: exact interpolated MEDIAN of
    the quality score and the CORR between rules-present count and score
    (A9-style batch summary, one pass). Zero-variance cohorts: Spark's
    corr yields NaN where DuckDB yields NULL — normalize NaN -> NULL so
    both dialects agree."""
    corr = "CORR(np, qs)"
    corr = f"CASE WHEN ISNAN({corr}) THEN NULL ELSE {corr} END" \
        if d == SPARK else corr
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
j AS (SELECT dd.lang AS lang, q.quality_score AS qs,
             CAST(q.n_present AS DOUBLE) AS np
      FROM q JOIN documents dd ON q.row_id = dd.doc_id)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(MEDIAN(qs), 5) AS median_qs,
       ROUND({corr}, 5) AS corr_present_qs
FROM j GROUP BY lang
"""


def _q_inverted_index_top5(d: str) -> str:
    """J3/T2 (data_processor.py:24-46): word -> matching doc ids via an
    inverted index (explode + join), capped at 5 docs per word."""
    toks = sqlgen.tokens_expr("text", d)
    return f"""
WITH e AS (SELECT doc_id, {sqlgen.explode_col('toks', 'g', d)}
           FROM (SELECT doc_id, {toks} AS toks FROM documents)),
q AS (SELECT * FROM (VALUES ('scan'), ('join'), ('filter'), ('shuffle'),
                            ('window')) AS q(w)),
m AS (SELECT q.w AS w, e.doc_id AS doc_id FROM q JOIN e ON e.g = q.w
      GROUP BY q.w, e.doc_id),
r AS (SELECT w, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id) AS INT)
             AS rn
      FROM m)
SELECT w, doc_id, rn FROM r WHERE rn <= 5
"""


def _q_taxa_extract(d: str) -> str:
    """R8 (api_utils.py:13-26): two-word term regex extract-all -> explode
    -> distinct corpus terms with frequencies (genus-species shape; the
    synthetic corpus is lowercase, so the head-word class stands in for
    the capitalized genus)."""
    matches = sqlgen.rx_extract_all_full(
        "text", "(scan|sort|merge|window|batch) [a-z]+", d)
    return f"""
WITH t AS (SELECT {sqlgen.explode_col(matches, 'term', d)} FROM documents)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY term ORDER BY n DESC, term LIMIT 50
"""


def _q_events_ttl(d: str) -> str:
    """S6/F3 TTL-validity analogue (cache_manager.py:296-307): rows within
    24h of the latest timestamp, per type."""
    return """
WITH m AS (SELECT MAX(ts) AS mx FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events, m
WHERE ts > mx - INTERVAL 24 HOURS
GROUP BY event_type
"""


def _q_sessionize_events(d: str) -> str:
    """Gap-based sessionization: a user's events split into sessions
    wherever consecutive events are more than 30 minutes apart (the
    classic LAG -> boundary flag -> running-SUM session id), rolled up
    to one row per (user, session). Both windows partition on user_id —
    ONE shuffle total, and at 10^12 events a user_id-bucketed layout
    makes it shuffle-free. Order is (ts, event_id) so ties are
    deterministic in both engines."""
    return f"""
WITH w AS (
  SELECT event_id, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
),
f AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR ts > prev_ts + INTERVAL 30 MINUTES
              THEN 1 ELSE 0 END AS new_sess
  FROM w
),
s AS (
  SELECT user_id, ts, event_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_seq
  FROM f
)
SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sess_seq
"""


def _q_asof_join_events(d: str) -> str:
    """As-of join (an operator Spark lacks natively), Spark-first: for
    every 'error' event, the most recent 'click' by the SAME user at or
    before it. Implemented as ONE sorted window pass — a running MAX of
    click timestamps over the per-user event stream — instead of the
    naive inequality self-join whose candidate set explodes
    quadratically per user at 10^12 events. One shuffle (user_id);
    bucketed-by-user layout makes it shuffle-free.

    Output is the as-of LAG in whole seconds, not the raw matched
    timestamp: tz-invariant and unit-identical in both engines (Spark
    renders TIMESTAMP through the session zone, DuckDB is naive — a raw
    timestamp column would hash-mismatch on representation alone)."""

    def ep(e: str) -> str:
        if d == SPARK:
            return f"unix_timestamp({e})"
        return f"CAST(floor(epoch({e})) AS BIGINT)"

    return f"""
WITH w AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_click_ts
  FROM events
)
SELECT event_id, user_id,
       CAST({ep('ts')} - {ep('last_click_ts')} AS BIGINT) AS lag_s
FROM w
WHERE event_type = 'error'
"""


def _q_range_join_events(d: str) -> str:
    """Range join: band each event's value against a small interval
    dimension (lo <= value < hi) — the dim is tiny and broadcasts, so
    the inequality join is a map-side scan per row, never a cross
    product; at 10^12 events this is the only sane plan and Catalyst
    picks it from the declarative form."""
    return """
WITH bands(lo, hi, band) AS (
  VALUES (CAST(0.0 AS DOUBLE), CAST(5.0 AS DOUBLE), 'low'),
         (CAST(5.0 AS DOUBLE), CAST(20.0 AS DOUBLE), 'mid'),
         (CAST(20.0 AS DOUBLE), CAST(1000000.0 AS DOUBLE), 'high')
)
SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n,
       -- DECIMAL-exact sum (the _q_events_summary discipline): a raw
       -- DOUBLE sum's value depends on partial-aggregate combine order,
       -- which diverges between engines the moment the scan splits
       CAST(SUM(CAST(e.value AS DECIMAL(18, 2))) AS DOUBLE) AS total
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
"""


def _q_hypertable_rollup(d: str) -> str:
    """Hypertable-style continuous-aggregate rollup (TimescaleDB
    time_bucket shape): hourly buckets x event_type, count + sum. The
    bucket is computed as epoch-hours (floor(epoch/3600)) rather than a
    truncated TIMESTAMP so both engines emit the identical integer (a
    raw truncated timestamp would differ in zone/precision rendering).
    At 10^12 events this is the canonical incremental-rollup shape: the
    agg is algebraic (map-side partial), the bucket column doubles as
    the partition key of the rollup table, and refreshing a window
    touches only its bucket partitions."""
    ep = ("unix_timestamp(ts)" if d == SPARK
          else "CAST(floor(epoch(ts)) AS BIGINT)")
    return f"""
SELECT CAST(FLOOR({ep} / CAST(3600 AS DOUBLE)) AS BIGINT) AS bucket_h,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       -- DECIMAL-exact sum: order-independent across engines/splits
       CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
"""


def _q_events_summary(d: str) -> str:
    """A9: batch summary stats (count/min/max/sum) per event type."""
    return """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
FROM events GROUP BY event_type
"""


def _q_lineitem_rollup(d: str) -> str:
    """A2-style weighted rollup at TPC-H Q1 shape (decimal-exact sums)."""
    return """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_join_nation(d: str) -> str:
    """J1/J4: keyed equi-joins (orders->customer->nation), small-dim side."""
    return """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def _q_shipping_priority(d: str) -> str:
    """TPC-H Q3 shape: 3-way join with date predicates on both fact
    tables, revenue agg, top-10 — selective-filter pushdown + broadcast
    dim + TakeOrderedAndProject in one plan."""
    return """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


def _q_local_supplier_volume(d: str) -> str:
    """TPC-H Q5 shape: 6-way snowflake join (region->nation->customer/
    supplier->orders->lineitem) with the local-supplier constraint
    (c_nationkey = s_nationkey), revenue per nation."""
    return """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


def _q_antijoin_resume(d: str) -> str:
    """S6/F3 resume semantics: anti-join of ids vs 'done' set."""
    return """
SELECT c.c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 150000)
"""


def _q_topk_orders(d: str) -> str:
    """T1/T3: global top-k with deterministic tie-break."""
    return """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _q_window_top3(d: str) -> str:
    """T2: per-key top-3 via row_number."""
    return """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
  FROM orders WHERE o_custkey <= 100)
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM r WHERE rn <= 3
"""


def _q_union_distinct(d: str) -> str:
    """U1: UNION-dedup across sources."""
    return """
SELECT o_custkey AS k FROM orders
UNION
SELECT c_custkey AS k FROM customer
"""


def _q_slice_tokens(d: str) -> str:
    """T4: author-list style truncation (first 3 tokens)."""
    toks = sqlgen.tokens_expr("text", d)
    return (f"SELECT doc_id AS row_id, "
            f"{sqlgen.arr_join(sqlgen.arr_slice('toks', 1, 3, d), ' ', d)} AS head3 "
            f"FROM (SELECT doc_id, {toks} AS toks FROM documents)")


def _q_coalesce_priority(d: str) -> str:
    """P8: abstract-priority coalesce (append tail only when short)."""
    return """
SELECT doc_id AS row_id,
       md5(CASE WHEN length(text) < 200
                THEN text || ' ' || substring(text, 1, 100)
                ELSE text END) AS fp
FROM documents
"""


def _q_extract_props(d: str) -> str:
    """R5/R13: regex numeric extraction from a JSON-ish payload."""
    ext = sqlgen.rx_extract("props", '"k": ([0-9]+)', 1, d)
    return (f"SELECT event_id, CAST({ext} AS INT) AS k FROM events")


def _q_pattern_extract_all(d: str) -> str:
    """R8: extract-all + distinct count (taxa-extraction shape)."""
    matches = sqlgen.rx_extract_all_full("text", "(scan|sort|merge) [a-z]+", d)
    return (f"SELECT doc_id AS row_id, "
            f"CAST({sqlgen.arr_len(sqlgen.arr_distinct(matches, d), d)} AS BIGINT) "
            f"AS n_patterns FROM documents")


# GPT-2-style pre-tokenizer pattern, restricted to the Java/RE2/Python
# common regex subset (no \p{L}, no lookahead): contractions, then
# space-prefixed letter runs, digit runs, punctuation runs, whitespace.
_BPE_PAT = "('s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+)"


def _q_bpe_tokens(d: str) -> str:
    """R15 analogue, BPE-ish path: token counts from the GPT-2 pre-tokenizer
    regex (the subword-budget estimator a training pipeline runs before
    the real BPE merge), alongside the whitespace count for calibration."""
    ws = sqlgen.arr_len(sqlgen.tokens_expr("text", d), d)
    bpe = sqlgen.arr_len(sqlgen.rx_extract_all_full("text", _BPE_PAT, d), d)
    return (f"SELECT doc_id AS row_id, "
            f"CAST({bpe} AS BIGINT) AS n_bpe, "
            f"CAST({ws} AS BIGINT) AS n_ws FROM documents")


def _q_nonempty_filter(d: str) -> str:
    """P3/P5/P6: empty-content + null-sentinel filter."""
    sentinels = ", ".join(sqlgen.slit(s) for s in spec.NULL_SENTINELS if s)
    return (f"SELECT doc_id FROM documents "
            f"WHERE length(trim(text)) > 0 "
            f"AND lower(trim(text)) NOT IN ({sentinels})")


def _q_cosine_topk(d: str) -> str:
    """Similarity search: brute-force cosine top-10 vs anchor vec_id=0.
    The query vector's norm is computed once in the (broadcast) single-row
    CTE, so the per-row work is one dot product + one self-norm."""
    dot_ab = sqlgen.dot("a.embedding", "q.qe", d)
    dot_aa = sqlgen.dot("a.embedding", "a.embedding", d)
    dot_qq = sqlgen.dot("embedding", "embedding", d)
    return f"""
WITH q AS (SELECT embedding AS qe, SQRT({dot_qq}) AS qn
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT a.vec_id,
             {dot_ab} AS dp, {dot_aa} AS na, q.qn AS qn
      FROM embeddings a, q WHERE a.vec_id != 0)
SELECT vec_id,
       ROUND(dp / (SQRT(NULLIF(na, CAST(0.0 AS DOUBLE))) * qn), 5) AS cos_sim
FROM s
ORDER BY ROUND(dp / (SQRT(NULLIF(na, CAST(0.0 AS DOUBLE))) * qn), 5) DESC,
         vec_id LIMIT 10
"""


def _q_pivot_keep_by_lang(d: str) -> str:
    """K2 wide pivot (cli.py:553-649 CSV row-per-field export shape):
    rule-status rows x one count column per language, expressed as
    conditional aggregation — the dialect-portable (and at 10^12 rows
    the SCALABLE) pivot: one groupBy, map-side partial aggregation, no
    per-column shuffle; engine-native PIVOT syntax differs between
    Spark and DuckDB but this form is identical in both."""
    langs = ("de", "en", "es", "fr", "zz")
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN j.lang = '{lg}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{lg}" for lg in langs)
    return f"""
WITH q AS ({sqlgen.quality_core_sql(d)}),
j AS (SELECT q.status_stop AS status, dd.lang
      FROM q JOIN documents dd ON q.row_id = dd.doc_id)
SELECT status, {cols}
FROM j
GROUP BY status
"""


def _q_stratified_sample(d: str) -> str:
    """Deterministic stratified sample: 20 docs per language, chosen by
    md5 order of the doc id — the per-language quota primitive of
    training-data curation (downsample hot languages, keep the tail).
    Hash-ordered instead of rand(): reproducible across engines, runs
    and retries, and at 10^12 rows the window is a single shuffle on
    lang (salt-able via operators/skew for hot languages)."""
    h = sqlgen.md5_hash32(sqlgen.int_str("doc_id", d), d)
    return f"""
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang FROM r WHERE rn <= 20
"""


def _q_split_assign(d: str) -> str:
    """Deterministic train/val/test split: md5(doc_id) mod 100 ->
    80/10/10. Hash-based (not rand()) so the assignment is stable under
    re-runs, resumes and engine changes — the property a training
    pipeline needs so examples never migrate between splits."""
    h = sqlgen.md5_hash32(sqlgen.int_str("doc_id", d), d)
    return f"""
SELECT doc_id,
       CASE WHEN ({h}) % 100 < 80 THEN 'train'
            WHEN ({h}) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _q_pack_sequences(d: str) -> str:
    """Sequence packing: assign docs (in deterministic doc_id order,
    per language) to 512-token training packs — pack_id =
    exclusive-prefix-sum(tokens) DIV 512. The window cumulative sum
    is one shuffle on lang; at 10^12 rows packing runs per partition of
    a lang-bucketed layout. Whitespace token counts via the same
    tokens_expr the tok_stats entry uses."""
    toks = sqlgen.arr_len(f"({sqlgen.tokens_expr('text', d)})", d)
    return f"""
WITH t AS (SELECT doc_id, lang, CAST({toks} AS BIGINT) AS n_tok
           FROM documents),
c AS (SELECT doc_id, lang, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      CAST(0 AS BIGINT)) AS prefix
      FROM t)
SELECT doc_id, lang, n_tok,
       CAST(FLOOR(prefix / CAST(512 AS DOUBLE)) AS BIGINT) AS pack_id
FROM c
"""


def _q_mixture_sample(d: str) -> str:
    """Weighted mixture sampling: per-language keep probabilities
    applied via a deterministic md5 threshold (NOT rand()) — upsampling
    weights for rare languages, downsampling for hot ones, stable under
    re-runs/resume so the sampled corpus is reproducible. The hash is
    uniform on [0, 2^32); keep iff hash < weight * 2^32."""
    weights = {"en": 0.5, "es": 0.8, "de": 1.0, "fr": 1.0, "zz": 0.25}
    h = sqlgen.md5_hash32(sqlgen.int_str("doc_id", d), d)
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN CAST({int(w * (1 << 32))} AS BIGINT)"
        for lang, w in weights.items())
    return f"""
SELECT doc_id, lang
FROM documents
WHERE ({h}) < CASE {arms} ELSE CAST(0 AS BIGINT) END
"""


def _q_gopher_repetition(d: str) -> str:
    """Repetition-based quality filters in the style of the Gopher rules
    (Rae et al. 2021, public): per-doc fraction of tokens claimed by the
    single most frequent 2-gram, and fraction of DUPLICATE 3-grams
    (1 - distinct/total) — the signals that catch template spam and
    keyboard-mash that length/stopword ratios miss. keep_repetition
    applies the published-style thresholds (top-2gram <= 0.18,
    dup-3gram <= 0.30) ONLY to docs with enough grams to make the
    statistic meaningful (>= 9 bigrams / >= 8 trigrams, i.e. >= 10
    tokens): a clean 5-token caption has top_bigram_frac >= 1/4 = 0.25
    by pigeonhole alone, so an ungated threshold would reject every
    short doc regardless of content (Gopher applies its repetition
    rules behind a minimum-length gate for the same reason; shortness
    itself is the core battery's length rule's job).

    Scale shape at 10^12 rows: ZERO shuffles — both statistics are
    per-row array expressions (the naive explode -> groupBy(doc, gram)
    pipeline ships ~200 gram rows per doc, ~10^14 shuffle rows at
    10^12 docs). The 2-gram mode is computed exactly via sorted-array
    run lengths: boundary positions of the sorted gram array, run_j =
    next_boundary - boundary_j, top count = max run. Out-of-bounds
    element_at is guarded with greatest()/CASE — Spark's ANSI mode
    THROWS on invalid array indices where DuckDB returns NULL — and
    every division runs through NULLIF (ANSI divide-by-zero) with
    CAST AS DOUBLE (DuckDB '/' is always float division, Spark's is
    not)."""
    toks = sqlgen.tokens_expr("text", d)
    n = sqlgen.arr_len("toks", d)

    def grams(k: int) -> str:
        parts = ", ".join(sqlgen.arr_get("toks", f"i + {j}", d)
                          for j in range(k))
        return sqlgen.arr_transform(
            sqlgen.int_seq("1", f"{n} - {k - 1}", d),
            f"i -> concat_ws(' ', {parts})", d)

    sort2 = (f"array_sort({grams(2)})" if d == SPARK
             else f"list_sort({grams(2)})")
    g3 = grams(3)
    # boundary positions i where sorted s2 starts a new run; i=1 uses a
    # self-compare via greatest() so no index-0 access ever evaluates.
    # Every index stays INT (Spark's element_at rejects BIGINT indices).
    prev = sqlgen.arr_get("s2", "CAST(greatest(i - 1, 1) AS INT)", d)
    cur = sqlgen.arr_get("s2", "CAST(i AS INT)", d)
    bpos = sqlgen.arr_filter(sqlgen.int_seq("1", "n2", d),
                             f"i -> i = 1 OR {prev} <> {cur}", d)
    nb = sqlgen.arr_len("bpos", d)
    nxt = (f"CASE WHEN j + 1 <= {nb} "
           f"THEN {sqlgen.arr_get('bpos', 'CAST(j + 1 AS INT)', d)} "
           f"ELSE n2 + 1 END")
    runs = sqlgen.arr_transform(
        sqlgen.int_seq("1", nb, d),
        f"j -> ({nxt}) - {sqlgen.arr_get('bpos', 'CAST(j AS INT)', d)}", d)
    top_c = (f"array_max({runs})" if d == SPARK else f"list_max({runs})")
    top_frac = "CAST(top_c AS DOUBLE) / NULLIF(n2, 0)"
    dup_frac = ("CAST(1.0 AS DOUBLE) "
                "- CAST(d3 AS DOUBLE) / NULLIF(n3, 0)")
    # min-gram gates: below them the fraction is NULL-or-meaningless and
    # the doc passes (n2 < 9 OR ... is TRUE even when the frac is NULL)
    keep = (f"((n2 < 9 OR {top_frac} <= {sqlgen.fmt(0.18)}) "
            f"AND (n3 < 8 OR {dup_frac} <= {sqlgen.fmt(0.30)}))")
    return f"""
WITH b AS (SELECT doc_id AS row_id, {toks} AS toks FROM documents),
a AS (SELECT row_id, {sort2} AS s2,
             CAST({sqlgen.arr_len(g3, d)} AS BIGINT) AS n3,
             CAST({sqlgen.arr_len(sqlgen.arr_distinct(g3, d), d)} AS BIGINT)
               AS d3
      FROM b),
p AS (SELECT row_id, n3, d3,
             CAST({sqlgen.arr_len('s2', d)} AS INT) AS n2, s2
      FROM a),
q AS (SELECT row_id, n2, n3, d3, {bpos} AS bpos FROM p),
r AS (SELECT row_id, n2, n3, d3,
             CAST({top_c} AS BIGINT) AS top_c
      FROM q)
SELECT row_id,
       ROUND({top_frac}, 5) AS top_bigram_frac,
       ROUND({dup_frac}, 5) AS dup_trigram_frac,
       {keep} AS keep_repetition
FROM r
"""


def _tfidf_tf(d: str) -> str:
    """The per-(doc, term) term-frequency aggregate the TF-IDF entry
    builds on (staged: it feeds BOTH the df rollup and the scoring
    join)."""
    toks = sqlgen.tokens_expr("text", d)
    return f"""
WITH b AS (SELECT doc_id AS row_id, {toks} AS toks FROM documents),
e AS (SELECT row_id, {sqlgen.explode_col('toks', 'g', d)} FROM b)
SELECT row_id, g, CAST(COUNT(*) AS BIGINT) AS tf
FROM e GROUP BY row_id, g"""


# The staged intermediates (_staged): cached view -> (the CTE name
# builders read it by, its inline CTE block). The signature block reads
# the staged shingles, so staging minhash_sig_v stages shingles_v first.
_STAGED: dict[str, tuple[str, Callable[[str], str]]] = {
    "shingles_v": ("s", lambda d: f"s AS ({_shingles(d)})"),
    "minhash_sig_v": ("sig", _minhash_sig_ctes),
    "tfidf_tf_v": ("tf", lambda d: f"tf AS ({_tfidf_tf(d)})"),
}


def _view_sql(view: str) -> str:
    """The Spark SQL staged as *view*: its inline CTE block, whole."""
    cte, block = _STAGED[view]
    return f"WITH {block(SPARK)} SELECT * FROM {cte}"


def _q_tfidf_top_terms(d: str) -> str:
    """Per-document keyword extraction: top-3 terms by TF-IDF
    (tf x ln(N/df)) — the corpus-statistics text-analysis primitive
    (doc tagging, topic balance audits) a curation pipeline runs beside
    the quality rules. Ranked on the ROUNDED score with a term
    tie-break: ln() may differ between engines in the last ulp, and the
    k-boundary must not depend on it (same lesson as the ANN exact-mode
    rerank).

    Scale shape at 10^12 rows: tf = one groupBy(doc, term) with
    map-side combine, staged once on the Spark side (_staged) since
    two branches consume it; df = one agg over the staged tf; the tf-df
    join is on term (df is vocabulary-sized — AQE broadcasts a bounded
    vocabulary, shuffles an unbounded one); top-k is one window shuffle
    on doc id. N arrives via a single-row cross join, never a driver
    collect."""
    w = "ROUND(CAST(tf.tf AS DOUBLE) * LN(nn.n / CAST(df.df AS DOUBLE)), 5)"
    return f"""
WITH {_staged(d, "tfidf_tf_v")},
df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY g),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
s AS (SELECT tf.row_id, tf.g AS term, {w} AS tfidf
      FROM tf JOIN df ON tf.g = df.g CROSS JOIN nn),
r AS (SELECT row_id, term, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY row_id
                  ORDER BY tfidf DESC, term) AS INT) AS rn
      FROM s)
SELECT row_id, term, tfidf, rn FROM r WHERE rn <= 3
"""


def _q_dup_components(d: str) -> str:
    """Connected components of the embedding near-dup pair graph
    (component id = min vec_id reachable): the canonicalization step
    after pairwise near-dup detection — pairs alone over-delete when
    dups chain (a~b, b~c: keeping a and c double-counts b's content).
    DuckDB twin: WITH RECURSIVE min-label closure over the SAME pair SQL
    the embedding_neardup_pairs oracle uses. The Spark side is the
    iterative large-star/small-star loop (operators/dedup.dup_components)."""
    pairs = _q_embedding_neardup(d).strip().rstrip(";")
    return f"""
WITH RECURSIVE pr AS ({pairs}),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr
       UNION ALL SELECT id_b, id_a FROM pr),
reach(id, label) AS (
  SELECT src AS id, src AS label FROM ed
  UNION
  SELECT ed.src AS id, r.label FROM ed JOIN reach r ON r.id = ed.dst
)
SELECT id, CAST(MIN(label) AS BIGINT) AS component
FROM reach GROUP BY id
"""


def _q_knn_join(d: str) -> str:
    """Batched k-NN join, brute-force twin: every query row (vec_id <
    20) gets its top-3 cosine neighbors from the corpus (vec_id >= 20).
    Exactly mirrors operators/similarity.knn_join: norms hoisted into
    the per-side CTEs, ROUND(...,5), NULLS LAST so zero-norm junk sorts
    out of the top-k identically in both dialects."""
    dot_qq = sqlgen.dot("embedding", "embedding", d)
    dot_cq = sqlgen.dot("ce", "qe", d)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe, SQRT({dot_qq}) AS qn
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS cid, embedding AS ce, SQRT({dot_qq}) AS cn
      FROM embeddings WHERE vec_id >= 20),
s AS (SELECT qid, cid,
             ROUND({dot_cq} / NULLIF(cn * qn, CAST(0.0 AS DOUBLE)), 5)
               AS cos_sim
      FROM c, q),
r AS (SELECT qid, cid, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC NULLS LAST, cid)
               AS rn
      FROM s)
SELECT qid, cid, cos_sim FROM r WHERE rn <= 3
"""


def _q_groupmin_lineitem(d: str) -> str:
    """A7 keyed first-occurrence: min line number per order."""
    return ("SELECT l_orderkey, CAST(MIN(l_linenumber) AS INT) AS first_line "
            "FROM lineitem GROUP BY l_orderkey")


def _q_error_rows(d: str) -> str:
    """F6: error-row materialization — errors flow as data."""
    return ("SELECT event_id, event_type, value FROM events "
            "WHERE event_type = 'error'")


def _q_ops_dashboard(d: str) -> str:
    """Ops-dashboard rollup (scripts/log_dashboard.py:52-143): the
    reference tails its performance/error/main logs into global counters
    — total / successful / failed / cached queries, average response
    time, recent errors, recent activity. Re-expressed as ONE
    GROUPING-SETS aggregate over the events stream: the () row IS the
    dashboard's global panel (total, ok/error split + rate, avg/min/max
    duration, recent-window activity) and the per-event_type rows are
    the per-operation drill-down the log format implies. "Recent" is
    anchored to MAX(ts) (deterministic — no wall clock), mirroring the
    dashboard's tail-of-log semantics. Scale: one scan + one shuffle;
    the max-ts scalar subquery broadcasts; the DECIMAL-cast sum keeps
    the avg independent of partial-agg combine order (CLAUDE.md)."""
    return """
WITH m AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT COALESCE(event_type, '<all>') AS op,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)
            AS BIGINT) AS n_ok,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS error_rate,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       CAST(SUM(CASE WHEN ts >= max_ts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recent
FROM events CROSS JOIN m
GROUP BY GROUPING SETS ((event_type), ())
"""


def _q_cache_search(d: str) -> str:
    """Cache search across stores (cache_manager.py:395-426
    search_cache): ONE LIKE-'%q%' substring query probes all three
    cache stores — the analysis store's two-column OR
    (cache_manager.py:403-409), the metadata store (:410-415) and the
    fulltext store (:418-426's union branch) — with results newest
    first (ORDER BY timestamp DESC, :409/:415). Store mapping onto the
    testdata tables: analysis = events (props + event_type payloads,
    real ingest ts), metadata / fulltext = documents (the lang/source
    metadata string and the text body; the cache-insert timestamp
    analogue is a deterministic per-doc epoch interleaved with the
    events range). Timestamps compare as epoch-microsecond BIGINTs
    (sqlgen.epoch_us) and the sort is a TOTAL order (ts DESC, store,
    id), so the LIMIT cut is bit-reproducible in both dialects. Scale:
    three pushdown-scanned branches, one union, one top-k sort —
    TakeOrderedAndProject, no full sort at 10^12 rows. The stride
    scalar subquery executes once per documents branch (Spark does not
    reuse it across branches): two extra doc_id-only column-pruned agg
    scans, small next to each branch's own LIKE scan of the text."""
    ev_ts = sqlgen.epoch_us("ts", d)
    # documents "cached at" analogue: 2024-01-01 UTC + doc_id evenly
    # spread over the SAME 30-day window the events table covers (the
    # testdata event window is fixed at 30 days for every sf), so the
    # merged newest-first top-k interleaves all three stores at any
    # scale factor instead of one store's range dominating the LIMIT
    # window. The per-doc stride is a scalar subquery (one broadcast
    # value at any corpus size); FLOOR+CAST keeps the integer division
    # identical in both dialects (DuckDB / is float division).
    doc_stride = ("(SELECT CAST(FLOOR(2592000000000 / "
                  "CAST(MAX(doc_id) + 1 AS DOUBLE)) AS BIGINT) "
                  "FROM documents)")
    doc_ts = f"1704067200000000 + doc_id * {doc_stride}"
    return f"""
WITH hits AS (
  SELECT 'analysis' AS store, CAST(event_id AS BIGINT) AS hit_id,
         {ev_ts} AS ts_us
  FROM events
  WHERE props LIKE '%e%' OR event_type LIKE '%e%'
  UNION ALL
  SELECT 'metadata' AS store, CAST(doc_id AS BIGINT) AS hit_id,
         CAST({doc_ts} AS BIGINT) AS ts_us
  FROM documents
  WHERE (lang || '/' || source) LIKE '%e%'
  UNION ALL
  SELECT 'fulltext' AS store, CAST(doc_id AS BIGINT) AS hit_id,
         CAST({doc_ts} AS BIGINT) AS ts_us
  FROM documents
  WHERE text LIKE '%e%'
)
SELECT store, hit_id, ts_us
FROM hits
ORDER BY ts_us DESC, store, hit_id
LIMIT 200
"""


_SQL_BUILDERS: dict[str, Callable[[str], str]] = {
    "qf_core_documents": _q_core,
    "qf_scrub_documents": _q_scrub,
    "qf_keep_by_lang": _q_keep_by_lang,
    # Round-5 additions: threshold calibration sweep + portable exact
    # per-lang score quantiles (the two tuning queries a quality-filter
    # operator runs before changing a cutoff).
    "keep_threshold_sweep_documents": _q_threshold_sweep,
    "score_quantiles_by_lang": _q_score_quantiles,
    "tok_stats_documents": _q_tok_stats,
    "bpe_token_count_documents": _q_bpe_tokens,
    "fingerprint_documents": _q_fingerprint,
    "dedup_exact_documents": _q_dedup_exact,
    "langid_marker_documents": _q_langid_marker,
    "ngram_jaccard_top20": _q_ngram_jaccard,
    "minhash_lsh_pairs": _q_minhash_bands,
    "simhash16_documents": _q_simhash16,
    "rolling_fp_documents": _q_rolling_fp,
    "embedding_neardup_pairs": _q_embedding_neardup,
    "neardup_dedup_documents": _q_neardup_dedup,
    "confidence_boost_documents": _q_confidence_boost,
    "curation_summary_documents": _q_curation_summary,
    "zscore_quality_by_lang": _q_zscore_quality_by_lang,
    "stats_by_lang": _q_stats_by_lang,
    "audit_grouping_sets": _q_audit_grouping_sets,
    "inverted_index_top5": _q_inverted_index_top5,
    "taxa_extract_documents": _q_taxa_extract,
    "events_ttl_recent": _q_events_ttl,
    "events_summary": _q_events_summary,
    "lineitem_rollup": _q_lineitem_rollup,
    "join_orders_nation": _q_join_nation,
    "shipping_priority_top10": _q_shipping_priority,
    "local_supplier_volume": _q_local_supplier_volume,
    "antijoin_resume": _q_antijoin_resume,
    "topk_orders": _q_topk_orders,
    "window_top3_per_cust": _q_window_top3,
    "union_distinct_keys": _q_union_distinct,
    "slice_first3_tokens": _q_slice_tokens,
    "coalesce_priority": _q_coalesce_priority,
    "extract_props_k": _q_extract_props,
    "pattern_extract_all": _q_pattern_extract_all,
    "nonempty_filter": _q_nonempty_filter,
    "cosine_top10": _q_cosine_topk,
    "groupmin_lineitem": _q_groupmin_lineitem,
    "error_rows_events": _q_error_rows,
    # Literal reference-formula entries (R2/A1/R6/A5/A6): rendered by
    # sqlgen from spec constants, numpy twins in rules/reference_impl.
    "field_confidence_documents": sqlgen.field_confidence_sql,
    "methods_coverage_documents": sqlgen.methods_coverage_sql,
    "condition_extract_documents": sqlgen.condition_extract_sql,
    "factor_score_documents": sqlgen.factor_score_sql,
    "finding_confidence_documents": sqlgen.finding_confidence_sql,
    "id_valid_documents": sqlgen.id_valid_sql,
    "found_terms_documents": sqlgen.found_terms_sql,
    # Round-4 micro-fidelity ports: per-field fallback record
    # (api_utils.py:32-73 literals), allowed-domain normalization
    # (utils.py:87-117 enumerations), cache search across stores
    # (cache_manager.py:395-426).
    "field_fallback_documents": sqlgen.field_fallback_sql,
    "domain_normalize_documents": sqlgen.domain_normalize_sql,
    "cache_search_events": _q_cache_search,
    # Round-5 micro-fidelity port: ops-dashboard rollup
    # (scripts/log_dashboard.py:52-143) — the last unported reference
    # behavior of substance (round-4 verdict item 3).
    "ops_dashboard_events": _q_ops_dashboard,
    # Training-split / sampling primitives (deterministic hash-based).
    "stratified_sample_documents": _q_stratified_sample,
    "split_assign_documents": _q_split_assign,
    "pack_sequences_documents": _q_pack_sequences,
    "mixture_sample_documents": _q_mixture_sample,
    "decontaminate_documents": _q_decontaminate,
    # Repetition-quality filters (Gopher-style) + TF-IDF keyword
    # extraction (round 3).
    "gopher_repetition_documents": _q_gopher_repetition,
    "tfidf_top_terms_documents": _q_tfidf_top_terms,
    # R11: LLM-output section parser — generate the sectioned report,
    # parse it back with the literal reference rules (quirk included).
    "report_parse_documents": sqlgen.report_parse_sql,
    # K2 wide pivot as conditional aggregation (portable + scalable).
    "pivot_keep_by_lang": _q_pivot_keep_by_lang,
    # Gap-based sessionization (LAG -> boundary -> running sum).
    "sessionize_events": _q_sessionize_events,
    # As-of join via one sorted window pass; range join via broadcast
    # band dim (the two "operators Spark lacks" from the driver brief).
    "asof_join_events": _q_asof_join_events,
    "range_join_events": _q_range_join_events,
    "hypertable_rollup_events": _q_hypertable_rollup,
}


# --------------------------------------------------------------------------
# UDF / binary-column queries — driver-oracled against precomputed
# ground truth (generator gt_* columns or numpy-twin expected tables);
# the analytic pytest oracles in tests/ remain the independent gate.
# --------------------------------------------------------------------------

_SYNTH_ROWS = 2000


def _bench_cache_dir() -> str:
    """The repo-level generate-once corpus cache (shared with bench.py)."""
    import os
    return os.path.abspath(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.pardir, ".bench_cache"))


def _synth_df(spark: SparkSession):
    """Deterministic synthetic image+caption table as a distributed parquet
    scan (generate-once cache). A driver-local createDataFrame would ship
    the binary column inside task payloads — exactly what breaks at scale —
    so the bytes come off a file scan like any real input."""
    from ..datagen import synth
    path = synth.write_images_parquet(_bench_cache_dir(), _SYNTH_ROWS)
    return spark.read.parquet(path).select(*synth.IMAGES_SCHEMA.names)


def _q_full_pipeline_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full quality-filter over the synthetic image+caption table
    (langid UDF + perplexity UDF + core rules + scrub + phash dedup)."""
    from . import pipeline as P
    P.ensure_artifacts()
    df = _synth_df(spark)
    out = P.quality_filter(df)
    return out.select("image_id", "lang", "lang_conf", "ppl",
                      "quality_score", "n_present", "keep_core", "keep",
                      "is_dup", "scrubbed_caption")


def _q_langid_udf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import pipeline as P
    P.ensure_artifacts()
    register_testdata_views(spark, sf_dir)
    df = spark.table("documents")
    out = P.apply_langid_ppl(df, text_col="text")
    return out.select("doc_id", "lang", "lang_conf", "ppl")


# The approximate ANN settings, said once: kind -> (width, probe), i.e.
# sign-LSH hyperplanes and probed Hamming radius, IVF centroid lists and
# probed lists. The entries run the operators at them (_ann_entry) and
# the numpy twins read them (_lsh/_ivf_candidate_mask, _ann_twin).
_ANN = {"lsh": (16, 4), "ivf": (16, 4)}


def _ann_entry(kind: str, exact: bool) -> Callable[[SparkSession, str],
                                                   DataFrame]:
    """Spark side of ``ann_<kind>_top10`` / ``ann_<kind>_exact_top10``:
    cosine top-10 of query vec_id 0 with exact cosine re-rank on the
    survivors (operators/similarity.py). ``lsh`` probes the sign-LSH
    buckets within the Hamming radius of the query signature; ``ivf``
    probes the lists of a sample-trained coarse quantizer nearest the
    query. Output follows the rounded-rerank convention
    (_ann_exact_rerank: k-boundary rounding ties).

    At the _ANN settings the entry is approximate, DuckDB-oracled since
    round 5 against a numpy twin (_ann_twin) that shares only the
    hyperplane matrix or the quantizer and re-implements probe and
    re-rank. ``exact`` probes every bucket or list (radius = planes,
    probe = lists): the plan degenerates to brute force, so the
    cosine_top10 SQL is its oracle and the probe ≡ brute-force
    equivalence (proven in tests/test_ops_extra.py) is driver-visible."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from ..operators import similarity
        register_testdata_views(spark, sf_dir)
        emb = spark.table("embeddings")
        q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
        topk = (similarity.lsh_cosine_topk if kind == "lsh"
                else similarity.ivf_cosine_topk)
        width, probe = _ANN[kind]
        return _ann_exact_rerank(topk(emb.where("vec_id != 0"), q, 1 << 30,
                                      width, width if exact else probe))
    return fn


def _parity_sf_dir() -> str:
    """The sf dir of the parity gate — the ONE source both sides read:
    the numpy-twin expected tables below and the Spark side of
    tests/test_oracle_parity.py. The driver contract fixes sf0.01; a
    deeper sweep points SPARK_GRAFT_PARITY_SF_DIR at the sf0.1 dir and
    runs ``pytest tests/test_oracle_parity.py`` (one entry: ``-k name``)."""
    import os
    return os.environ.get("SPARK_GRAFT_PARITY_SF_DIR",
                          "/root/testdata/sf0.01")


def _source(obj) -> str:
    """The source text of a function or module: what _twin_sources keys
    on."""
    return inspect.getsource(obj)


def _twin_sources(writer: Callable) -> list[str]:
    """The twin code of one expected table, in name order: *writer*, the
    function that computes it; every function or plain constant of this
    module it reaches by name, transitively, not descending into the key
    itself (_twin_key); every package module those functions import; and
    the package modules each of those imports in turn. Derived from the
    source, so an edit to a registry SQL builder, or to a helper or
    module only another table's twin reads, leaves it unchanged while an
    edit to this table's twin does not."""
    import ast
    import importlib.util
    import types

    g = globals()
    pkg = __name__.split(".")[0]

    def imports(nodes, package: str):
        for n in nodes:
            if isinstance(n, ast.ImportFrom) and n.level:
                base = importlib.util.resolve_name(
                    "." * n.level + (n.module or ""), package)
                for a in n.names:
                    try:        # ``from <package> import <module>``
                        yield importlib.import_module(f"{base}.{a.name}")
                    except ImportError:   # ``from <module> import <name>``
                        yield importlib.import_module(base)

    todo: list = [(writer.__name__, writer)]
    seen: dict[str, str] = {}
    while todo:
        name, v = todo.pop()
        if isinstance(v, types.ModuleType):
            name = v.__name__
        if name in seen or v is _twin_key:
            continue
        if isinstance(v, types.ModuleType) and name.split(".")[0] == pkg:
            seen[name] = _source(v)
            todo += [(None, m) for m in imports(ast.parse(seen[name]).body,
                                                v.__package__)]
        elif isinstance(v, types.FunctionType) and v.__module__ == __name__:
            seen[name] = _source(v)
            tree = ast.parse(seen[name])
            todo += [(n.id, g[n.id]) for n in ast.walk(tree)
                     if isinstance(n, ast.Name) and n.id in g
                     and not n.id.startswith("__")]
            todo += [(None, m) for m in imports(ast.walk(tree), __package__)]
        elif isinstance(v, (bool, int, float, str, tuple, dict)):
            seen[name] = repr(v)
    return [seen[n] for n in sorted(seen)]


def _twin_key(writer: Callable, *tags: str) -> str:
    """Short sha256 over *tags*, the model artifacts and the
    _twin_sources of *writer*: the cache key of the expected table
    ``writer(*tags)``. A changed tag, constant, artifact, module or twin
    yields a new key, so a stale table is never read back."""
    import hashlib
    import os

    from . import pipeline as P
    art = P.ensure_artifacts()
    h = hashlib.sha256("\0".join(tags).encode())
    for a in ("langid.npz", "lm.npz"):
        with open(os.path.join(art, a), "rb") as f:
            h.update(f.read())
    for src in _twin_sources(writer):
        h.update(src.encode())
    return h.hexdigest()[:16]


def _expected_path(writer: Callable[..., "pd.DataFrame"],
                   *tags: str) -> str:
    """The numpy-twin expected table ``writer(*tags)`` as a parquet file
    in the bench cache, named by the writer, its tags (a path tag by its
    basename) and _twin_key(writer, *tags). The writer runs only on a
    miss and the file is published atomically, so a reader sees a whole
    table or none and a stale one is never read back. A writer reads
    nothing but its tags (the parity sf dir is one), the code
    _twin_sources reaches and the model artifacts."""
    import os

    import pyarrow as pa

    from ..datagen import synth
    name = "_".join(["expected", writer.__name__.strip("_"),
                     *map(os.path.basename, tags), _twin_key(writer, *tags)])
    path = os.path.join(_bench_cache_dir(), name + ".parquet")
    if not os.path.exists(path):
        synth.write_parquet_atomic(
            pa.Table.from_pandas(writer(*tags), preserve_index=False), path)
    return path


def _load_embeddings_np(sf_dir: str):
    """(vec_ids int64, mat float64 (n, dim)) from the sf_dir embeddings
    parquet, float32-exact-widened like Arrow->Python->Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(sf_dir + "/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    rows = t.column("embedding").to_pylist()
    mat = np.asarray(rows, dtype=np.float64)
    return ids, mat


def _ann_rounded_topk_np(ids: np.ndarray, mat: np.ndarray, q: np.ndarray,
                         keep: np.ndarray) -> "pd.DataFrame":
    """Numpy re-implementation of the rounded-rerank convention
    (_ann_exact_rerank): exact cosine on the candidate mask, ROUND(_, 5),
    ORDER BY cos DESC, vec_id LIMIT 10.

    Float caveats (latent, not observed on any tested corpus): numpy
    rounds half-even while Spark ROUND is HALF_UP — an exact 5-decimal
    half-tie would diverge, but cosines of real-valued data land on
    exact half-ties with probability ~0; and the unrounded cosine sums
    in BLAS order vs Spark's left fold, so only values within ~1e-11 of
    a rounding boundary could differ post-round. The +0.0 below
    normalizes numpy's -0.0 (for cosines in (-5e-6, 0)) to the +0.0
    Spark's BigDecimal ROUND emits."""
    import pandas as pd

    # qlit round-trips through CAST(x AS FLOAT) in cosine_topk's literal
    qf = q.astype(np.float32).astype(np.float64)
    qn = float(np.sqrt(np.dot(q.tolist(), q.tolist())))
    dp = mat[keep] @ qf
    nn = np.einsum("ij,ij->i", mat[keep], mat[keep])
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(nn > 0.0, dp / (np.sqrt(nn) * qn), np.nan)
    out = pd.DataFrame({"vec_id": ids[keep],
                        "cos_sim": np.round(cos, 5) + 0.0})
    out = out.dropna(subset=["cos_sim"])          # NULLIF zero-norm guard
    out = out.sort_values(["cos_sim", "vec_id"],
                          ascending=[False, True]).head(10)
    return out.reset_index(drop=True)


def _lsh_candidate_mask(ids: np.ndarray, mat: np.ndarray, q: np.ndarray,
                        radius: int) -> np.ndarray:
    """The LSH twin's candidate set: signature packing + Hamming-radius
    probe, independent of the Spark plan. Parameterized on radius so the
    binding tests (tests/test_gt_oracle_binding.py) exercise THIS code
    at perturbed radii rather than a private copy."""
    from ..operators import similarity

    n_planes = _ANN["lsh"][0]
    planes = similarity._planes(mat.shape[1], n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    sigs = ((mat @ planes) > 0) @ weights
    qbits = int(((q @ planes) > 0) @ weights)
    hamming = np.array([bin(int(s) ^ qbits).count("1") for s in sigs])
    return (ids != 0) & (hamming <= radius)


def _ivf_candidate_mask(ids: np.ndarray, mat: np.ndarray, q: np.ndarray,
                        n_probe: int) -> np.ndarray:
    """The IVF twin's candidate set: identically-constructed id-ordered
    training sample -> shared quantizer -> independent assignment and
    probe selection. Parameterized on n_probe for the binding tests."""
    from ..operators import similarity

    rest = ids != 0
    order = np.argsort(ids[rest], kind="stable")
    sample = mat[rest][order][:similarity.IVF_SAMPLE_N]
    cent = similarity._kmeans_core(sample, _ANN["ivf"][0])
    norm = mat / np.maximum(
        np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    assign = (norm @ cent.T).argmax(axis=1)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    probe = set(np.argsort(-(cent @ qn))[:n_probe].tolist())
    return rest & np.isin(assign, list(probe))


def _ann_twin(kind: str, sf_dir: str) -> "pd.DataFrame":
    """Numpy twin of the approximate entry ``ann_<kind>_top10`` over the
    sf_dir embeddings (query = vec_id 0): its candidate set is
    _lsh_candidate_mask at the _ANN radius or _ivf_candidate_mask at the
    _ANN probe (the first shares only the hyperplane matrix, the second
    only the quantizer — algorithm parameters, like spec constants), and
    the cosine plus rounded re-rank are re-implemented independently of
    the Spark plan (pandas-UDF matmul + bit_count / list assignment +
    HOF fold + TakeOrdered). A weight regression, int wrap, radius or
    probe off-by-one, assignment bug or NULLIF loss diverges."""
    ids, mat = _load_embeddings_np(sf_dir)
    q = mat[ids == 0][0]
    mask = _lsh_candidate_mask if kind == "lsh" else _ivf_candidate_mask
    return _ann_rounded_topk_np(ids, mat, q,
                                mask(ids, mat, q, _ANN[kind][1]))


def _gate_scores_np(texts: "pd.Series") -> dict[str, np.ndarray]:
    """lang, lang_conf and ppl of *texts* from the numpy scorers the
    fused gate UDF wraps, after apply_langid_ppl's truncation
    (spec.TRUNCATE_CHARS; NULL scores as ""). A compare against these
    columns pins the distribution plumbing (truncation, NULL fill, Arrow
    transfer, per-batch invariance, fused-gate wiring), not the models:
    their own oracles are the analytic pytest gates
    (tests/test_langid_ppl.py)."""
    import os

    from ..functions import langid, perplexity
    texts = [x[:spec.TRUNCATE_CHARS] for x in texts.fillna("")]
    logp, langs = langid.load_model(
        os.path.join(DEFAULT_ARTIFACT_DIR, "langid.npz"))
    lang, conf = langid.predict_batch(texts, logp, langs)
    lm = perplexity.load_model(os.path.join(DEFAULT_ARTIFACT_DIR, "lm.npz"))
    return {"lang": lang,
            "lang_conf": np.asarray(conf, dtype=np.float64),
            "ppl": np.asarray(perplexity.ppl_batch(texts, lm),
                              dtype=np.float64)}


def _langid_udf_twin(sf_dir: str) -> "pd.DataFrame":
    """Numpy twin of _q_langid_udf_documents: _gate_scores_np over the
    sf_dir documents table."""
    import pandas as pd
    import pyarrow.parquet as pq

    t = pq.read_table(sf_dir + "/documents.parquet",
                      columns=["doc_id", "text"]).to_pandas()
    return pd.DataFrame({"doc_id": t["doc_id"].to_numpy(),
                         **_gate_scores_np(t["text"])})


def _read_expected_sql(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}')"


def _ann_exact_rerank(scored: DataFrame) -> DataFrame:
    """Round + re-rank an ANN candidate set exactly like the cosine_top10
    oracle SQL (ORDER BY ROUND(cos_sim, 5) DESC, vec_id LIMIT 10). The
    operators rank on the UNROUNDED score; at the k-boundary two rows can
    round to the same 5-decimal value, so hash parity with the oracle
    requires ranking on the rounded value itself. Zero-norm vectors
    (NULL cos_sim) are dropped, like the numpy twin's dropna — under DESC
    they sort last, but a sparse candidate set would keep them."""
    from pyspark.sql import functions as F

    return (scored
            .select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))
            .where(F.col("cos_sim").isNotNull())
            .orderBy(F.desc("cos_sim"), "vec_id").limit(10))


def _q_dedup_transitive_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of dedup_transitive_documents: verified pairs from the
    cached-shingle MinHash pipeline -> iterative dup_components ->
    component id + canonical keep flag for EVERY document."""
    from pyspark.sql import functions as F

    from ..operators import dedup as dd
    pairs = _spark_sql(spark, sf_dir, _q_verified_pairs(SPARK))
    comp = dd.dup_components(pairs).withColumnRenamed("id", "row_id")
    docs = spark.table("documents").select(F.col("doc_id").alias("row_id"))
    return (docs.join(comp, "row_id", "left")
            .selectExpr(
                "row_id",
                "CAST(COALESCE(component, row_id) AS BIGINT) AS component",
                "(component IS NULL OR component = row_id) AS keep"))


def _q_dup_components_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of dup_components_embeddings: iterative large-star/
    small-star components (operators/dedup.dup_components) over the SAME
    near-dup pair SQL the embedding_neardup_pairs oracle uses; the DuckDB
    twin is a WITH RECURSIVE closure — an iterative DataFrame algorithm
    made driver-oracle-checkable."""
    from ..operators import dedup as dd
    pairs = _spark_sql(spark, sf_dir, _q_embedding_neardup(SPARK))
    # cast at the ORACLE boundary only: dup_components keeps the id's
    # native type (a blanket BIGINT cast inside the operator silently
    # NULLed string-id components — round-2 advice); vec_id is integral,
    # so this cast is lossless and matches the twin's CAST(... AS BIGINT)
    return dd.dup_components(pairs).selectExpr(
        "id", "CAST(component AS BIGINT) AS component")


def _q_knn_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of knn_join_top3: the DataFrame operator (broadcast
    nested-loop + window top-k), value-hash-checked against the
    _q_knn_join SQL twin in DuckDB."""
    from ..operators import similarity
    register_testdata_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return similarity.knn_join(emb.where("vec_id >= 20"),
                               emb.where("vec_id < 20"), k=3)


def _q_simhash64_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized 64-bit SimHash pandas UDF over documents; oracled by
    the _q_simhash64 SQL fold twin in DuckDB (same md5-slice family)."""
    from pyspark.sql import functions as F

    from ..operators import dedup
    register_testdata_views(spark, sf_dir)
    df = spark.table("documents").select(
        F.col("doc_id").alias("row_id"), "text")
    out = dedup.with_simhash(df, text_col="text")
    return out.select("row_id", F.col("simhash").alias("simhash64"))


def _simhash_pairs_entry(**candidates) -> Callable[[SparkSession, str],
                                                   DataFrame]:
    """Spark side of a SimHash near-dup pair entry over documents:
    pandas-UDF signatures -> dedup.simhash_candidates(**candidates) ->
    exact Hamming verify <= 3, oracled end-to-end by the _q_simhash_pairs
    SQL twin (signatures + bucketing + verify all reproduced in DuckDB).

    simhash_pairs_documents runs the operator's defaults: 16-bit block
    bucketing (Hamming<=3 guaranteed by pigeonhole) under the mega-bucket
    cap, against the capped twin. simhash_pairs_wide_documents runs WIDE
    keys (Manku-style permuted prefixes: C(6,3)=20 tables of ~32-bit
    three-block keys — the 10^12-row candidate-generation path, where
    16-bit buckets would hold ~10^7 rows each) against the UNCAPPED
    4-block twin: both schemes are complete for Hamming<=3 by pigeonhole,
    so after exact verify the outputs are provably the same pair set —
    the driver's value-hash compare makes wide-key recall driver-visible."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from ..operators import dedup
        register_testdata_views(spark, sf_dir)
        df = spark.table("documents").select("doc_id", "text")
        pairs = dedup.simhash_candidates(df, text_col="text",
                                         id_col="doc_id", **candidates)
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return (pairs.withColumn("hamming", ham.cast("int"))
                .where(F.col("hamming") <= 3)
                .select("id_a", "id_b", "hamming"))
    return fn


def _q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode binary image column -> per-channel means + error
    rows (mapInPandas, operators/multimodal.py). DuckDB-oracled since
    round 5 against the generator's gt_* meta columns (datagen/synth.py
    g4) — value-exact incl. the fmt-mismatch error literal; BMP/PPM are
    lossless, so a correct decode must reproduce the source pixel means
    bit-for-bit."""
    from ..operators import multimodal
    return multimodal.image_stats(_synth_df(spark))


def _images_meta_path() -> str:
    """Generate-once image corpus meta sidecar (gt_* ground truth) for
    the DuckDB side of the three image oracles. Generating here keeps
    the oracle valid even if the driver runs DuckDB first."""
    from ..datagen import synth
    path = synth.write_images_parquet(_bench_cache_dir(), _SYNTH_ROWS)
    return path.replace(".parquet", "_meta.parquet")


def _image_stats_oracle() -> str:
    """Ground-truth twin of _q_image_stats: the g4 gt_* columns renamed
    to the operator's schema (synth._image_gt_columns computes them from
    the source pixel arrays, never via the codecs under test)."""
    return f"""
SELECT image_id, gt_ok AS ok, gt_err AS err, gt_mean_r AS mean_r,
       gt_mean_g AS mean_g, gt_mean_b AS mean_b,
       CAST(gt_decoded_w AS INT) AS decoded_w,
       CAST(gt_decoded_h AS INT) AS decoded_h
FROM read_parquet('{_images_meta_path()}')
"""


def _q_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode -> 8x8 thumbnail -> re-encode BMP (mapInPandas).
    DuckDB-oracled since round 5: the oracle derives the surviving row
    set (decode failures dropped) from gt_ok and the thumb byte size
    from the BMP size formula — the pixel-exact resize pytest stays the
    content oracle."""
    from pyspark.sql import functions as F

    from ..operators import multimodal
    out = multimodal.resize_images(_synth_df(spark), 8, 8)
    return out.select("image_id", "w", "h", "fmt",
                      F.length("bytes").alias("n_bytes"))


def _resize_thumbs_oracle() -> str:
    """Ground-truth twin of _q_resize_thumbs: every decodable row yields
    one 8x8 BMP thumb; n_bytes is the BMP size formula (54-byte header +
    4-aligned rows), NOT a call to encode_bmp."""
    return f"""
SELECT image_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, 'bmp' AS fmt,
       CAST(54 + 8 * (3 * 8 + (4 - (3 * 8) % 4) % 4) AS INT) AS n_bytes
FROM read_parquet('{_images_meta_path()}')
WHERE gt_ok
"""


def _q_dup_pixel_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: pixel-level PSNR verification of phash
    dup groups vs min-id canonical (operators/multimodal.py). psnr_db is
    finite-ized for the driver's hash (inf -> 999.0). DuckDB-oracled
    since round 5: the generator replays the group/canonical/PSNR ladder
    on the SOURCE pixel arrays (synth._image_gt_columns, which reads
    the operator's spec.PSNR_MIN and spec.MAX_DUP_GROUP), so a codec,
    grouping, or psnr regression fails the compare."""
    from pyspark.sql import functions as F

    from ..operators import multimodal
    out = multimodal.verify_dup_groups(_synth_df(spark))
    fin = F.when(F.col("psnr_db") == float("inf"), F.lit(999.0)) \
        .otherwise(F.round("psnr_db", 3))
    return out.select("phash", "image_id", "canonical_id",
                      fin.alias("psnr_db"), "pixel_dup")


def _dup_pixel_verify_oracle() -> str:
    """Ground-truth twin of _q_dup_pixel_verify: gt rows inside
    multi-member phash groups, joined back to the main table for the
    stamped phash, with the same inf->999 / ROUND(_,3) finalization
    (both engines round positive halves identically)."""
    meta = _images_meta_path()
    main = meta.replace("_meta.parquet", ".parquet")
    return f"""
SELECT i.phash, m.image_id, m.gt_canonical_id AS canonical_id,
       CASE WHEN isinf(m.gt_psnr_db) THEN 999.0
            ELSE ROUND(m.gt_psnr_db, 3) END AS psnr_db,
       m.gt_pixel_dup AS pixel_dup
FROM read_parquet('{meta}') m
JOIN read_parquet('{main}') i USING (image_id)
WHERE m.gt_in_dup_group
"""


def _qf_full_twin() -> "pd.DataFrame":
    """Numpy-reference expected-label table for the flagship oracle.

    The rule battery / scrub / dedup columns come from
    rules/reference_impl (the INDEPENDENT numpy implementation — the
    same binding layer the qf_core/qf_scrub oracles and the
    test_rules_units mutation meta-tests prove out); lang/lang_conf/ppl
    come from _gate_scores_np, so for those three columns (and the
    final-keep composition) the compare pins the distribution plumbing
    rather than model independence. Same accounting as the north-rule
    pytest (test_pipeline_oracle)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ..datagen import synth
    from ..functions import langid
    from ..rules import reference_impl as ri

    imgs = pq.read_table(
        synth.write_images_parquet(_bench_cache_dir(), _SYNTH_ROWS),
        columns=["image_id", "caption", "phash"]).to_pandas()
    exp = ri.expected_labels(imgs)
    gates = _gate_scores_np(imgs["caption"])
    keep_core = exp["keep"].to_numpy(dtype=bool)
    return pd.DataFrame({
        "image_id": exp["image_id"].tolist(),
        **gates,
        "quality_score": exp["quality_score"].to_numpy(dtype=np.float64),
        "n_present": exp["n_present"].to_numpy(dtype=np.int32),
        "keep_core": keep_core,
        "keep": (keep_core & (gates["lang"] != langid.UNKNOWN)
                 & (gates["ppl"] <= spec.PPL_MAX)),
        "is_dup": exp["is_dup"].to_numpy(dtype=bool),
        "scrubbed_caption": exp["scrubbed_caption"].tolist(),
    })


def _qf_full_images_oracle() -> str:
    """Oracle twin of _q_full_pipeline_images: the numpy-reference
    expected-label parquet, column-for-column. Verified bit-for-bit
    exact on every column (incl. lang_conf/ppl doubles — the scorers are
    per-row batch-size-independent) before registration; the ppl gate's
    nearest caption sits 0.55 from PPL_MAX on this corpus, so no
    float-boundary flip risk."""
    return f"""
SELECT image_id, lang, lang_conf, ppl, quality_score, n_present,
       keep_core, keep, is_dup, scrubbed_caption
FROM read_parquet('{_expected_path(_qf_full_twin)}')
"""


_SYNTH_AV_ROWS = 600


def _synth_audio_df(spark: SparkSession):
    """Deterministic synthetic audio table off a parquet scan (same
    bytes-never-in-task-payloads discipline as _synth_df)."""
    from ..datagen import synth
    path = synth.write_audio_parquet(_bench_cache_dir(), _SYNTH_AV_ROWS)
    return spark.read.parquet(path)


def _synth_video_df(spark: SparkSession):
    from ..datagen import synth
    path = synth.write_video_parquet(_bench_cache_dir(), _SYNTH_AV_ROWS)
    return spark.read.parquet(path)


def _q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio: decode binary WAV/PCM16 column -> duration /
    rate / RMS features + error rows for compressed containers
    (mapInPandas, operators/multimodal.audio_features). DuckDB-oracled
    since round 5 against the generator's ground-truth columns
    (datagen/synth.py g3) — value-exact incl. the error-row message;
    the known-sine pytest (test_audio_features_wav_pcm16) stays as the
    independent analytic oracle. Reference analogue: binary content
    handling S2 (data_retrieval.py:258-357)."""
    from ..operators import multimodal
    return multimodal.audio_features(_synth_audio_df(spark))


def _audio_stats_oracle() -> str:
    """Ground-truth twin of _q_audio_stats: the gt_* columns written by
    write_audio_parquet, renamed to the operator's schema. Generating
    the parquet here (idempotent, 600 rows) keeps the oracle valid even
    if the driver runs DuckDB before the Spark side."""
    from ..datagen import synth
    path = synth.write_audio_parquet(_bench_cache_dir(), _SYNTH_AV_ROWS)
    return f"""
SELECT clip_id, gt_ok AS ok, gt_err AS err, gt_duration_s AS duration_s,
       CAST(gt_sample_rate AS INT) AS sample_rate, gt_rms AS rms
FROM read_parquet('{path}')
"""


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: uncompressed-AVI frame sampling, one row per
    sampled frame (mapInPandas row-multiplier); frame bytes projected to
    lengths like the resize entry (binary stays out of the compare).
    DuckDB-oracled since round 5: the oracle re-derives the sampled
    frame set (indices, timestamps, BMP byte sizes, dims) from the
    generator ground-truth columns — the pixel-exact pytest
    (test_video_frame_sample_avi) remains the frame-content oracle."""
    from pyspark.sql import functions as F

    from ..operators import multimodal
    out = multimodal.video_frame_sample(_synth_video_df(spark))
    return out.select("video_id", "frame_idx", "ts_s",
                      F.length("bytes").alias("n_bytes"), "w", "h", "fmt")


def _video_frames_oracle() -> str:
    """Ground-truth twin of _q_video_frames: expand each AVI row into its
    sampled frame indices (generate_series over gt_n_frames/gt_step —
    inclusive stop, so n-1 matches Python's range(0, n, step)) and
    compute ts/bytes/dims from the generator columns. mp4 rows are
    excluded, mirroring the sampler's skip."""
    from ..datagen import synth
    path = synth.write_video_parquet(_bench_cache_dir(), _SYNTH_AV_ROWS)
    return f"""
WITH gt AS (SELECT * FROM read_parquet('{path}') WHERE fmt = 'avi'),
fx AS (SELECT video_id,
              UNNEST(generate_series(0, gt_n_frames - 1, gt_step)) AS fi,
              gt_spf, gt_frame_bytes, gt_w, gt_h
       FROM gt)
SELECT video_id, CAST(fi AS INT) AS frame_idx,
       CAST(fi AS DOUBLE) * gt_spf AS ts_s,
       CAST(gt_frame_bytes AS INT) AS n_bytes,
       CAST(gt_w AS INT) AS w, CAST(gt_h AS INT) AS h,
       'bmp' AS fmt
FROM fx
"""


def _q_keep_by_lang_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defused twin of qf_keep_by_lang: the hot-language groupBy runs
    as a two-phase salted aggregation (operators/skew.py) — same result,
    but a hot language is reduced by up to 16 parallel tasks instead of
    one. Registered with the PLAIN groupBy's oracle SQL: the driver's
    value-hash compare is the equivalence proof."""
    from pyspark.sql import functions as F

    from ..operators.skew import salted_sum_agg
    core = _spark_sql(spark, sf_dir, sqlgen.quality_core_sql(SPARK))
    docs = spark.table("documents").select("doc_id", "lang")
    joined = core.join(docs, core.row_id == docs.doc_id).select(
        "row_id", "lang", "keep", "n_present")
    out = salted_sum_agg(
        joined, keys=["lang"],
        sums={"n_docs": F.lit(1).cast("long"),
              "n_keep": F.col("keep").cast("int"),
              "sum_present": F.col("n_present").cast("int")},
        id_col="row_id", n_salt=16)
    return out.select("lang",
                      F.col("n_docs").cast("long"),
                      F.col("n_keep").cast("long"),
                      F.col("sum_present").cast("long"))


# --------------------------------------------------------------------------
# public registry
# --------------------------------------------------------------------------

# Per-view (applicationId -> sf_dir) memos for the staged views
# (_STAGED). Several registry entries consume each view; without the
# memo each one re-created and re-cached it, re-running the expensive
# upstream pass per entry — the dominant cost of the sf0.01 sweep.
_STAGED_FOR: dict[str, dict[str, str]] = {}


def _invalidate_staged(spark: SparkSession) -> None:
    """session.invalidate_testdata_views hook: uncache + drop every
    staged view this session holds and forget its memo — a derived
    cached view that outlives a base-view replacement would otherwise
    lazily recompute from the impostor view after cache eviction
    (round-3 advice)."""
    app_id = spark.sparkContext.applicationId
    for name, memo in _STAGED_FOR.items():
        if memo.pop(app_id, None) is not None:
            try:
                spark.catalog.uncacheTable(name)
            except Exception:
                pass   # already evicted / view dropped externally
            spark.catalog.dropTempView(name)


_session.on_view_invalidation(_invalidate_staged)


def _materialize_view(spark: SparkSession, sf_dir: str, name: str,
                      sql: str) -> None:
    """Register + cache ``name`` as ``sql`` (ONE evaluation feeding every
    plan branch AND every consuming registry entry — Spark re-inlines
    CTEs per branch). Locally a cached temp view; at warehouse scale
    each of these IS a staged intermediate table (shingles, signatures,
    term frequencies) of a curation pipeline. Idempotent per
    (session, sf_dir); a vanished view or a new sf_dir re-materializes,
    uncaching the stale cache entry first."""
    memo = _STAGED_FOR.setdefault(name, {})
    app_id = spark.sparkContext.applicationId
    if memo.get(app_id) == sf_dir and spark.catalog.tableExists(name):
        return
    register_testdata_views(spark, sf_dir)
    if memo.get(app_id) is not None:
        try:
            spark.catalog.uncacheTable(name)
        except Exception:
            pass  # view dropped externally — nothing stale to release
    spark.sql(sql).createOrReplaceTempView(name)
    spark.catalog.cacheTable(name)
    memo[app_id] = sf_dir


def _stage_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    """Stage every _STAGED view *sql* reads, each after the views its
    own SQL reads."""
    for view in _STAGED:
        if f"FROM {view}" in sql:
            view_sql = _view_sql(view)
            _stage_views(spark, sf_dir, view_sql)
            _materialize_view(spark, sf_dir, view, view_sql)


def _spark_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run Spark *sql* over the sf_dir testdata views and the staged
    views it reads."""
    register_testdata_views(spark, sf_dir)
    _stage_views(spark, sf_dir, sql)
    return spark.sql(sql)


def _mk_spark_fn(builder: Callable[[str], str]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _spark_sql(spark, sf_dir, builder(SPARK))
    return fn


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]]:
    """Assemble the full (spark_fn, oracle_sql) registry, in builder
    order (the driver's sweep order is computed by __spark_entry__).

    Deliberate: the precomputed-ground-truth oracle builders below
    (generator corpora + expected tables) run EAGERLY here, so every
    oracle's input file exists before any consumer runs — the driver may
    execute the DuckDB side before the Spark side, and a missing input
    must fail loudly at build time rather than render SQL that points at
    a file nobody wrote. The cost is a generate-once cache hit after the
    first call; the testdata dir is a driver guarantee. (Considered and
    rejected: lazy builders would narrow the failure to one oracle but
    break the runs-DuckDB-first contract.)"""
    reg: dict[str, tuple] = {}
    for name, builder in _SQL_BUILDERS.items():
        reg[name] = (_mk_spark_fn(builder), builder(DUCK))
    # Salted two-phase agg vs the plain-groupBy oracle SQL: result parity
    # IS the skew-defusal equivalence proof.
    reg["keep_by_lang_salted"] = (_q_keep_by_lang_salted,
                                  _q_keep_by_lang(DUCK))
    # Pandas-UDF SimHash vs the DuckDB fold twin: the value-hash compare
    # makes the UDF itself driver-oracled (signature family = md5 slices
    # in both implementations).
    reg["simhash64_documents"] = (_q_simhash64_udf, _q_simhash64(DUCK))
    reg["simhash_pairs_documents"] = (_simhash_pairs_entry(),
                                      _q_simhash_pairs(DUCK))
    # Wide-key (6-block / 3-agree) candidate generation vs the UNCAPPED
    # 4-block twin: both complete for Hamming<=3, so verified outputs
    # are the same set (see _simhash_pairs_entry docstring).
    reg["simhash_pairs_wide_documents"] = (
        _simhash_pairs_entry(n_blocks=6, agree_blocks=3, max_bucket=None),
        _q_simhash_pairs(DUCK, capped=False))
    # Batched k-NN join: the Spark side is the DataFrame operator
    # (broadcast nested loop + per-query window top-k), the oracle the
    # brute-force SQL twin.
    reg["knn_join_top3"] = (_q_knn_join_spark, _q_knn_join(DUCK))
    # Iterative connected components vs a WITH RECURSIVE DuckDB closure.
    reg["dup_components_embeddings"] = (_q_dup_components_spark,
                                        _q_dup_components(DUCK))
    reg["dedup_transitive_documents"] = (_q_dedup_transitive_spark,
                                         _q_dedup_transitive(DUCK))
    # Exact-mode ANN (full Hamming radius / probe-all): the approximate
    # plans degenerate to brute force, so the brute-force cosine SQL is
    # their oracle — approx ≡ exact equivalence becomes driver-visible.
    for kind in _ANN:
        reg[f"ann_{kind}_exact_top10"] = (_ann_entry(kind, exact=True),
                                          _q_cosine_topk(DUCK))
    # Multimodal audio/video vs generator ground truth (round-5 verdict
    # item 1): feature extraction and frame sampling become driver-oracled
    # instead of rows-only.
    reg["audio_stats_multimodal"] = (_q_audio_stats, _audio_stats_oracle())
    reg["video_frames_multimodal"] = (_q_video_frames,
                                      _video_frames_oracle())
    # Multimodal image entries vs generator ground truth (g4 meta
    # sidecar): stats / thumbnail / pixel-PSNR verification become
    # driver-oracled instead of rows-only.
    reg["image_stats_multimodal"] = (_q_image_stats, _image_stats_oracle())
    reg["resize_thumbs_multimodal"] = (_q_resize_thumbs,
                                       _resize_thumbs_oracle())
    reg["dup_pixel_verify_images"] = (_q_dup_pixel_verify,
                                      _dup_pixel_verify_oracle())
    # Flagship vs the numpy-reference expected-label table: keep/drop,
    # scrub, dedup, scores AND the langid/ppl gate composition become
    # driver-oracled value-exactly (see _qf_full_twin docstring
    # for what each column's compare does and does not bind).
    reg["qf_full_images"] = (_q_full_pipeline_images,
                             _qf_full_images_oracle())
    # Numpy-twin expected tables: the langid/ppl gate UDF on the
    # documents table and the two APPROXIMATE ANN paths (their
    # exact-mode twins above remain).
    sf_dir = _parity_sf_dir()
    reg["langid_udf_documents"] = (_q_langid_udf_documents,
                                   _read_expected_sql(_expected_path(
                                       _langid_udf_twin, sf_dir)))
    for kind in _ANN:
        reg[f"ann_{kind}_top10"] = (_ann_entry(kind, exact=False),
                                    _read_expected_sql(_expected_path(
                                        _ann_twin, kind, sf_dir)))
    return reg
