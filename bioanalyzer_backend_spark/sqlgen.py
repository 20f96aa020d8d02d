"""Dual-dialect SQL renderer for the quality-rule battery.

The same logical expressions are rendered to BOTH
  * Spark SQL (executed by Catalyst — the production path), and
  * DuckDB SQL (the driver's correctness oracle),
from the single rule spec in ``spec.py``.  This guarantees structural parity
between the pipeline and its oracle: a rule change edits one constant and
both sides move together.

Dialect differences handled here:
  * string-literal escaping: Spark SQL treats ``\\`` as an escape inside
    literals (Hive-style), DuckDB does not -> regex literals double their
    backslashes for Spark only;
  * ``regexp_replace`` replaces all matches by default in Spark but needs
    the ``'g'`` flag in DuckDB;
  * array fns: ``size/filter/transform/array_distinct/array_contains``
    (Spark) vs ``len/list_filter/list_transform/list_distinct/
    list_contains`` (DuckDB);
  * ``split`` (Spark) vs ``regexp_split_to_array`` (DuckDB);
  * ``regexp_count`` (Spark) vs ``len(regexp_extract_all(...))`` (DuckDB).

Everything else (CASE/LEAST/GREATEST/CAST/arithmetic) is common ANSI and
rendered identically, so IEEE-754 double results match bit-for-bit.
"""

from __future__ import annotations

from . import spec

SPARK = "spark"
DUCK = "duck"
DIALECTS = (SPARK, DUCK)


# --------------------------------------------------------------------------
# dialect helpers
# --------------------------------------------------------------------------

def rlit(pattern: str, d: str) -> str:
    """Render a regex as a SQL string literal for dialect *d*.

    Single quotes are escaped by doubling — `''` parses identically in
    Spark SQL and DuckDB (verified: both return a literal apostrophe)."""
    if d == SPARK:
        pattern = pattern.replace("\\", "\\\\")
    return f"'{pattern.replace(chr(39), chr(39) * 2)}'"


def slit(s: str) -> str:
    """Plain string literal (no backslashes allowed -> dialect-safe)."""
    if "\\" in s or "'" in s:
        raise ValueError("unsafe string literal")
    return f"'{s}'"


def rx_replace_all(col: str, pattern: str, repl: str, d: str) -> str:
    if d == SPARK:
        return f"regexp_replace({col}, {rlit(pattern, d)}, {slit(repl)})"
    return f"regexp_replace({col}, {rlit(pattern, d)}, {slit(repl)}, 'g')"


def rx_count(col: str, pattern: str, d: str) -> str:
    if d == SPARK:
        return f"regexp_count({col}, {rlit(pattern, d)})"
    return f"len(regexp_extract_all({col}, {rlit(pattern, d)}))"


def rx_split(col: str, pattern: str, d: str) -> str:
    if d == SPARK:
        return f"split({col}, {rlit(pattern, d)})"
    return f"regexp_split_to_array({col}, {rlit(pattern, d)})"


def arr_len(e: str, d: str) -> str:
    return f"size({e})" if d == SPARK else f"len({e})"


def arr_distinct(e: str, d: str) -> str:
    return f"array_distinct({e})" if d == SPARK else f"list_distinct({e})"


def arr_min(e: str, d: str) -> str:
    return f"array_min({e})" if d == SPARK else f"list_min({e})"


def arr_filter(e: str, lam: str, d: str) -> str:
    return f"filter({e}, {lam})" if d == SPARK else f"list_filter({e}, {lam})"


def arr_transform(e: str, lam: str, d: str) -> str:
    return (f"transform({e}, {lam})" if d == SPARK
            else f"list_transform({e}, {lam})")


def arr_contains(arr: str, x: str, d: str) -> str:
    return (f"array_contains({arr}, {x})" if d == SPARK
            else f"list_contains({arr}, {x})")


def str_array(items: tuple[str, ...], d: str) -> str:
    body = ", ".join(slit(w) for w in items)
    return f"array({body})" if d == SPARK else f"[{body}]"


def arr_get(e: str, i: str, d: str) -> str:
    """1-based element access."""
    return (f"element_at({e}, {i})" if d == SPARK
            else f"list_extract({e}, {i})")


def arr_slice(e: str, start: int, length: int, d: str) -> str:
    return (f"slice({e}, {start}, {length})" if d == SPARK
            else f"list_slice({e}, {start}, {start + length - 1})")


def arr_join(e: str, sep: str, d: str) -> str:
    return (f"array_join({e}, {slit(sep)})" if d == SPARK
            else f"array_to_string({e}, {slit(sep)})")


def int_seq(lo: str, hi: str, d: str) -> str:
    """Inclusive [lo..hi] int array; EMPTY when hi < lo (Spark's sequence
    would count down, DuckDB's range is exclusive-empty — normalized here)."""
    if d == SPARK:
        return (f"CASE WHEN ({hi}) >= ({lo}) THEN sequence({lo}, {hi}) "
                f"ELSE CAST(array() AS array<int>) END")
    return f"range(CAST({lo} AS BIGINT), CAST({hi} AS BIGINT) + 1)"


def rx_extract(col: str, pattern: str, grp: int, d: str) -> str:
    """Group extract, normalized to NULL on no-match in both dialects."""
    return f"NULLIF(regexp_extract({col}, {rlit(pattern, d)}, {grp}), '')"


def rx_extract_all_full(col: str, pattern: str, d: str) -> str:
    """All full matches (group 0) as an array."""
    if d == SPARK:
        return f"regexp_extract_all({col}, {rlit(pattern, d)}, 0)"
    return f"regexp_extract_all({col}, {rlit(pattern, d)})"


def int_str(e: str, d: str) -> str:
    return f"CAST({e} AS STRING)" if d == SPARK else f"CAST({e} AS VARCHAR)"


def explode_col(e: str, alias: str, d: str) -> str:
    """SELECT-list explode/unnest of an array column."""
    return (f"explode({e}) AS {alias}" if d == SPARK
            else f"unnest({e}) AS {alias}")


def epoch_us(e: str, d: str) -> str:
    """TIMESTAMP expression -> epoch microseconds (BIGINT). Spark needs
    an NTZ->LTZ cast first (parquet testdata timestamps load as
    TIMESTAMP_NTZ; the session tz is pinned UTC in session.build_session
    so the cast is wall-clock-preserving); DuckDB's epoch_us is direct.
    Comparing epoch integers instead of timestamp objects keeps the
    driver's value-hash free of timezone-rendering semantics."""
    if d == SPARK:
        return f"unix_micros(CAST({e} AS TIMESTAMP))"
    return f"epoch_us({e})"


def md5_hash32(e: str, d: str) -> str:
    """Deterministic 32-bit hash of a string expr: the first 8 hex chars
    of its md5 digest as a BIGINT (dialect-portable hash family for
    SimHash / rolling fingerprints — both engines agree on md5;
    ``hex_hash32`` slices other offsets as independent hash functions)."""
    if d == SPARK:
        return f"CAST(conv(substring(md5({e}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST('0x' || substring(md5({e}), 1, 8) AS BIGINT)"


def hex_hash32(h: str, d: str, start: int = 1) -> str:
    """32-bit BIGINT from 8 hex chars of an ALREADY-COMPUTED digest expr
    (hash once per element, slice many — md5 inside interpreted HOF
    lambdas is the expensive part)."""
    if d == SPARK:
        return f"CAST(conv(substring({h}, {start}, 8), 16, 10) AS BIGINT)"
    return f"CAST('0x' || substring({h}, {start}, 8) AS BIGINT)"


def shiftr(e: str, n: int, d: str) -> str:
    """Arithmetic right shift of a BIGINT. Both dialects sign-extend, so
    masking the shifted value (``(x >> n) & m``) extracts the two's
    complement bit pattern identically for negative inputs (verified:
    (-1 >> 48) & 65535 = 65535 in Spark and DuckDB)."""
    return f"shiftright({e}, {n})" if d == SPARK else f"({e} >> {n})"


def bxor(a: str, b: str, d: str) -> str:
    """Bitwise XOR of two BIGINTs (DuckDB's ``^`` is exponentiation)."""
    return f"({a} ^ {b})" if d == SPARK else f"xor({a}, {b})"


def popcount(e: str, d: str) -> str:
    """Set-bit count over the 64-bit two's complement pattern
    (bit_count(-1) = 64 in both engines)."""
    return f"bit_count({e})"


def fold_bigint(arr: str, body: str, d: str) -> str:
    """Left fold over a BIGINT array with accumulator init 0.

    *body* uses lambda vars ``(acc, h)``. Spark: higher-order ``aggregate``;
    DuckDB: ``list_reduce`` seeded by prepending the init element (same
    left-to-right semantics, verified empty-array safe)."""
    if d == SPARK:
        return f"aggregate({arr}, CAST(0 AS BIGINT), (acc, h) -> {body})"
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), "
            f"(acc, h) -> {body})")


# --------------------------------------------------------------------------
# shared fragments
# --------------------------------------------------------------------------

def lowtrim(col: str) -> str:
    """lower(trim(coalesce(col, ''))) — the ONE null-safe lowered base
    every text query builds on. COALESCE first: a NULL text must behave
    exactly like the empty string, because the numpy reference oracle
    maps None -> "" (fillna) while bare SQL NULL would propagate into
    LEAST/GREATEST — which SKIP NULL args in both engines — silently
    clamping a NULL document's rule scores to their MAXIMUM (empirically:
    score_rep/alpha/stop = 1.0, readiness READY for a NULL row). The
    shipped testdata has no NULLs, so only this coalesce keeps arbitrary
    crawl inputs on the three-implementation invariant."""
    return f"lower(trim(coalesce({col}, '')))"


def tokens_expr(col: str, d: str) -> str:
    """Lowered, whitespace-split, punct-trimmed, non-empty tokens."""
    raw = rx_split(lowtrim(col), spec.TOKEN_SPLIT_RE, d)
    trimmed = arr_transform(
        raw, f"x -> {rx_replace_all('x', spec.TOKEN_TRIM_RE, '', d)}", d)
    return arr_filter(trimmed, "x -> x != ''", d)


def shingle_array(toks: str, d: str) -> str:
    """Distinct word 3-gram shingles of the token array *toks* — the ONE
    rendering the registry SQL and the dedup operators both build on."""
    parts = ", ".join(arr_get(toks, f"i + {j}" if j else "i", d)
                      for j in range(3))
    seq = int_seq("1", f"{arr_len(toks, d)} - 2", d)
    return arr_distinct(
        arr_transform(seq, f"i -> concat_ws(' ', {parts})", d), d)


# Banded MinHash shape of the registry SQL and the dedup operator: b=4
# bands of r=4 minhashes (candidate threshold (1/b)^(1/r) ~= 0.71).
MINHASH_BANDS = 4
MINHASH_ROWS = 4


def minhash_hash_exprs(sh: str, n_bands: int, n_rows: int,
                       d: str) -> list[str]:
    """``hs{k}``: per-shingle md5 digests of the shingle array *sh*, one
    seeded digest per 8 minhashes (``'~' * k`` salts digest k). Hash ONCE
    per digest, slice many (minhash_band_exprs): md5 inside interpreted
    HOF lambdas is the expensive part."""
    n_digests = -(-(n_bands * n_rows) // 8)
    return [arr_transform(sh, f"g -> md5({slit('~' * k)} || g)"
                          if k else "g -> md5(g)", d) + f" AS hs{k}"
            for k in range(n_digests)]


def minhash_band_exprs(n_bands: int, n_rows: int, d: str) -> list[str]:
    """``mh{b}``: band b's signature over the ``hs{k}`` digest columns —
    the ``||``-concat of ``n_rows`` minhashes, each the min of one 4-hex
    slice of a digest. ``||`` rather than concat(): DuckDB's concat()
    skips NULL args while Spark's returns NULL; ``||`` null-propagates
    identically in both, so a doc with no shingle gets a NULL band."""

    def _min_slice(i: int) -> str:
        dig, off = divmod(i, 8)
        return arr_min(arr_transform(
            f"hs{dig}", f"h -> substring(h, {4 * off + 1}, 4)", d), d)

    return [" || ".join(_min_slice(b * n_rows + r) for r in range(n_rows))
            + f" AS mh{b}" for b in range(n_bands)]


def dot(a: str, b: str, d: str) -> str:
    """Deterministic left-to-right double dot product of float arrays."""
    if d == SPARK:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
                f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    return (f"list_sum(list_transform(range(1, CAST(len({a}) AS BIGINT) + 1), "
            f"i -> CAST(list_extract({a}, i) AS DOUBLE) * "
            f"CAST(list_extract({b}, i) AS DOUBLE)))")


def scrub_expr(col: str, d: str) -> str:
    """The ordered PII/noise scrub chain (text_processing.py:110-125 style).

    Steps with a spec.SCRUB_GUARDS literal render as
    ``CASE WHEN col LIKE '%lit%' THEN <regex step> ELSE <chain so far>``
    — a fast substring scan that skips the regex on the ~95% of rows
    that cannot possibly match (soundness argued at SCRUB_GUARDS). The
    taken CASE branch evaluates the prior chain exactly once per row, so
    this changes evaluation COST only, never the value — pinned by the
    hypothesis scrub==reference_impl property and the DuckDB oracle."""
    e = f"coalesce({col}, '')"   # NULL scrubs like '' (numpy fillna twin)
    for pattern, repl in spec.SCRUB_CHAIN:
        step = rx_replace_all(e, pattern, repl, d)
        guard = spec.SCRUB_GUARDS.get(pattern)
        if guard is not None:
            e = (f"CASE WHEN {col} LIKE {slit('%' + guard + '%')} "
                 f"THEN {step} ELSE {e} END")
        else:
            e = step
    return f"trim({e})"


def fmt(x: float) -> str:
    """Render a float constant as an explicit DOUBLE for both dialects.

    Bare literals like ``0.5`` parse as DECIMAL in BOTH Spark and DuckDB,
    silently switching subexpressions to decimal arithmetic — which agrees
    with IEEE-754 doubles on most inputs but diverges at band edges (e.g.
    0.375 * 0.3 is exact in decimal, 0.11249999999999999 in double). The
    numpy reference oracle is double throughout, so the SQL must be too."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def _status_case(score: str) -> str:
    return (f"CASE WHEN {score} >= {fmt(spec.PRESENT_MIN)} THEN "
            f"{slit(spec.STATUS_PRESENT)} "
            f"WHEN {score} >= {fmt(spec.PARTIAL_MIN)} AND {score} <= "
            f"{fmt(spec.PARTIAL_MAX)} THEN {slit(spec.STATUS_PARTIAL)} "
            f"ELSE {slit(spec.STATUS_ABSENT)} END")


# --------------------------------------------------------------------------
# staged expression lists — shared by the CTE oracle query AND the
# DataFrame pipeline (selectExpr stages), so both render from one source.
# --------------------------------------------------------------------------

def base_exprs(d: str, text_col: str) -> list[str]:
    return [f"trim(coalesce({text_col}, '')) AS t",
            f"{tokens_expr(text_col, d)} AS toks"]


def count_exprs(d: str) -> list[str]:
    stop_arr = str_array(spec.ALL_STOPWORDS, d)
    stop_filter = arr_filter("toks", f"x -> {arr_contains(stop_arr, 'x', d)}", d)
    return [
        "length(t) AS n",
        f"{arr_len('toks', d)} AS n_tok",
        f"{arr_len(arr_distinct('toks', d), d)} AS n_utok",
        f"{arr_len(stop_filter, d)} AS n_stop",
        f"{rx_count('t', '[A-Za-z]', d)} AS n_alpha",
        f"length({rx_replace_all('t', spec.TOKEN_SPLIT_RE, '', d)}) AS n_nonspace",
    ]


def score_exprs(d: str) -> list[str]:
    sentinels = ", ".join(slit(s) for s in spec.NULL_SENTINELS if s != "")
    return [
        f"""CASE WHEN n = 0 THEN {fmt(0.0)}
              WHEN n < {spec.LEN_FULL_LO} THEN (n / {fmt(spec.LEN_FULL_LO)}) * {fmt(0.5)}
              WHEN n <= {spec.LEN_FULL_HI} THEN {fmt(1.0)}
              ELSE GREATEST({fmt(0.0)}, {fmt(1.0)} - (n - {spec.LEN_FULL_HI}) / {fmt(spec.LEN_DECAY)}) END AS score_len""",
        # NULLIF keeps ANSI-mode Spark from raising DIVIDE_BY_ZERO on empty
        # captions: NULL comparison -> NULL -> CASE falls through to ELSE.
        f"""LEAST({fmt(1.0)}, n_tok / {fmt(spec.WORD_TOK_FULL)}) *
           CASE WHEN n_tok > 0
                 AND CAST(n_nonspace AS DOUBLE) / NULLIF(n_tok, 0) >= {fmt(spec.WORD_AVG_LEN_LO)}
                 AND CAST(n_nonspace AS DOUBLE) / NULLIF(n_tok, 0) <= {fmt(spec.WORD_AVG_LEN_HI)}
                THEN {fmt(1.0)} ELSE {fmt(spec.WORD_AVG_LEN_PENALTY)} END AS score_word""",
        f"""CASE WHEN n_tok = 0 THEN {fmt(0.0)}
              WHEN n_tok < {spec.REP_MIN_TOKENS} THEN {fmt(1.0)}
              ELSE LEAST({fmt(1.0)}, (CAST(n_utok AS DOUBLE) / n_tok) * {fmt(spec.REP_BOOST)}) END AS score_rep""",
        f"""CASE WHEN n_nonspace = 0 THEN {fmt(0.0)}
              ELSE LEAST({fmt(1.0)}, (CAST(n_alpha AS DOUBLE) / n_nonspace) * {fmt(spec.ALPHA_BOOST)}) END AS score_alpha""",
        f"""CASE WHEN n_tok = 0 THEN {fmt(0.0)}
              ELSE LEAST({fmt(1.0)}, {fmt(spec.STOP_FLOOR)} + {fmt(spec.STOP_BOOST)} * (CAST(n_stop AS DOUBLE) / n_tok)) END AS score_stop""",
        f"CASE WHEN lower(t) IN ({sentinels}) OR t = '' THEN TRUE ELSE FALSE END AS is_sentinel",
    ]


def _n_present_expr() -> str:
    terms = " + ".join(
        f"CAST(score_{r} >= {fmt(spec.PRESENT_MIN)} AS INT)"
        for r in spec.RULE_NAMES)
    return f"CAST({terms} AS INT)"


def quality_expr() -> str:
    w = spec.RULE_WEIGHTS
    return " + ".join(f"{fmt(w[r])} * score_{r}" for r in spec.RULE_NAMES)


def final_exprs(d: str) -> list[str]:
    """Statuses + rollup + keep; reference score_*/is_sentinel/n columns."""
    quality = quality_expr()
    out = ["CAST(n AS BIGINT) AS n_chars"]
    out += [f"{_status_case(f'score_{r}')} AS status_{r}" for r in spec.RULE_NAMES]
    out.append(f"{quality} AS quality_score")
    out.append(f"{_n_present_expr()} AS n_present")
    out.append(f"""CASE WHEN ({quality}) >= {fmt(spec.KEEP_QUALITY_MIN)}
             AND ({_n_present_expr()}) >= {spec.KEEP_PRESENT_MIN}
             AND NOT ({_status_case('score_len')} = {slit(spec.STATUS_ABSENT)})
             AND NOT is_sentinel
             AND n > 0
            THEN TRUE ELSE FALSE END AS keep""")
    return out


# --------------------------------------------------------------------------
# the quality-core query (SQL-expressible slice of the pipeline)
# --------------------------------------------------------------------------

# Every registry builder reads the ``documents`` table: ``doc_id`` keys
# each row and ``text`` is the document; most start from this base.
_DOC_BASE = f"SELECT doc_id AS row_id, {lowtrim('text')} AS t FROM documents"


def quality_core_sql(d: str) -> str:
    """Full rule battery -> scores, statuses, quality_score, keep.

    Semantics (reference file:line cites in spec.py):
      5 heuristic rules -> [0,1] scores -> 0.8/0.4 status bands (with the
      (0.7,0.8)->ABSENT quirk) -> weighted rollup -> keep/drop.
    """
    base = ",\n         ".join(base_exprs(d, "text"))
    cnt = ",\n         ".join(count_exprs(d))
    scores = ",\n         ".join(score_exprs(d))
    fin = ",\n       ".join(final_exprs(d))
    score_cols = ", ".join(f"score_{r}" for r in spec.RULE_NAMES)
    return f"""
WITH base AS (
  SELECT doc_id AS row_id,
         {base}
  FROM documents
),
cnt AS (
  SELECT row_id, t,
         {cnt}
  FROM base
),
scores AS (
  SELECT row_id, n,
         {scores}
  FROM cnt
)
SELECT row_id,
       {score_cols},
       {fin}
FROM scores
"""


def scrub_sql(d: str) -> str:
    """PII/noise scrub projection (text_processing.py:110-125 analogue)."""
    return (f"SELECT doc_id AS row_id, {scrub_expr('text', d)} "
            f"AS scrubbed FROM documents")


# --------------------------------------------------------------------------
# R2: pattern-dictionary field confidence (field_validator.py:30-69 dicts,
# :121-147 arithmetic — the literal formula, not an analogue).
# --------------------------------------------------------------------------

def field_confidence_sql(d: str) -> str:
    """Best-category pattern confidence.

    Per category: n = patterns matching the text; if n > 0,
    conf = min(1, SAME_SLOPE*n + SAME_BASE) when a matched pattern also
    hits the content prefix, else min(1, CROSS_SLOPE*n + CROSS_BASE);
    best-confidence category wins, first category winning ties (the
    reference's strict `>` scan in dict order)."""
    cats = list(spec.FIELD_PATTERNS)
    # stage 1: one boolean column per (category, pattern) x (text, content)
    match_cols = []
    for c in cats:
        for i, p in enumerate(spec.FIELD_PATTERNS[c]):
            match_cols.append(f"{rx_count('t', p, d)} > 0 AS m_{c}_{i}")
            match_cols.append(f"{rx_count('content', p, d)} > 0 AS c_{c}_{i}")
    matches = ",\n         ".join(match_cols)
    # stage 2: per-category counts + content-match flags
    cat_cols = []
    for c in cats:
        idx = range(len(spec.FIELD_PATTERNS[c]))
        n = " + ".join(f"CAST(m_{c}_{i} AS INT)" for i in idx)
        cm = " OR ".join(f"(m_{c}_{i} AND c_{c}_{i})" for i in idx)
        cat_cols.append(f"CAST({n} AS INT) AS n_{c}")
        cat_cols.append(f"({cm}) AS cm_{c}")
    catexprs = ",\n         ".join(cat_cols)
    # stage 3: per-category confidence (the reference formula verbatim)
    conf_cols = []
    for c in cats:
        conf_cols.append(
            f"""CASE WHEN n_{c} = 0 THEN {fmt(0.0)}
              WHEN cm_{c} THEN LEAST({fmt(1.0)}, {fmt(spec.R2_SAME_CAT_SLOPE)} * n_{c} + {fmt(spec.R2_SAME_CAT_BASE)})
              ELSE LEAST({fmt(1.0)}, {fmt(spec.R2_CROSS_CAT_SLOPE)} * n_{c} + {fmt(spec.R2_CROSS_CAT_BASE)}) END AS conf_{c}""")
    confexprs = ",\n         ".join(conf_cols)
    best = "GREATEST(" + ", ".join(f"conf_{c}" for c in cats) + ")"
    # first category reaching the max wins the tie (CASE order = dict order)
    argmax = "CASE WHEN " + " WHEN ".join(
        f"conf_{c} = best THEN {slit(c)}" for c in cats) + " END"
    return f"""
WITH base AS (
  SELECT doc_id AS row_id,
         {lowtrim('text')} AS t,
         substring({lowtrim('text')}, 1, {spec.CONTENT_PREFIX_CHARS}) AS content
  FROM documents
),
m AS (
  SELECT row_id,
         {matches}
  FROM base
),
cat AS (
  SELECT row_id,
         {catexprs}
  FROM m
),
conf AS (
  SELECT row_id,
         {confexprs}
  FROM cat
),
best AS (
  SELECT row_id, {best} AS best,
         {", ".join(f"conf_{c}" for c in cats)}
  FROM conf
)
SELECT row_id,
       best AS field_conf,
       CASE WHEN best > {fmt(0.0)} THEN {argmax} END AS field_category
FROM best
"""


# --------------------------------------------------------------------------
# A1: category-coverage methods score (methods_scorer.py:114-127):
# score = matched_categories / total_categories, one hit per category.
# --------------------------------------------------------------------------

def methods_coverage_sql(d: str) -> str:
    cats = list(spec.METHODS_CRITERIA)
    hits = []
    for c in cats:
        any_kw = " OR ".join(f"instr(t, {slit(k)}) > 0"
                             for k in spec.METHODS_CRITERIA[c])
        hits.append(f"CAST(({any_kw}) AS INT)")
    n = " + ".join(hits)
    total = fmt(float(len(cats)))
    return f"""
WITH base AS (
  {_DOC_BASE}
),
cov AS (
  SELECT row_id, CAST({n} AS INT) AS n_matched FROM base
)
SELECT row_id, n_matched,
       CAST(n_matched AS DOUBLE) / {total} AS methods_score
FROM cov
"""


# --------------------------------------------------------------------------
# R6: ordered first-match extraction chain (fallback_extractor.py:115-133).
# --------------------------------------------------------------------------

def condition_extract_sql(d: str) -> str:
    chain = ", ".join(rx_extract("t", p, 1, d)
                      for p in spec.CONDITION_PATTERNS)
    return (f"SELECT doc_id AS row_id, COALESCE({chain}) AS condition_hit "
            f"FROM (SELECT doc_id, {lowtrim('text')} AS t "
            f"FROM documents) s")


# --------------------------------------------------------------------------
# A5 factor-based score (gemini_qa.py:218-222) and A6 finding-count
# confidence (gemini_qa.py:35-38).
# --------------------------------------------------------------------------

def factor_score_sql(d: str) -> str:
    terms = " + ".join(
        f"CAST(instr(t, {slit(w)}) > 0 AS INT)"
        for words in spec.FACTOR_LISTS.values() for w in words)
    return f"""
WITH base AS (
  {_DOC_BASE}
),
f AS (
  SELECT row_id, CAST({terms} AS INT) AS n_factors FROM base
)
SELECT row_id, n_factors,
       LEAST({fmt(1.0)}, CAST(n_factors AS DOUBLE) / {fmt(float(spec.A5_MAX_FACTORS))}) AS factor_score
FROM f
"""


def rx_matches(col: str, pattern: str, d: str) -> str:
    """Boolean full-regex-search predicate (Spark RLIKE / DuckDB
    regexp_matches — both are search-anywhere, anchor explicitly)."""
    if d == SPARK:
        return f"({col} RLIKE {rlit(pattern, d)})"
    return f"regexp_matches({col}, {rlit(pattern, d)})"


# --------------------------------------------------------------------------
# P4: id-validity predicate (utils.py:76-85 validate_pmid — a string id
# is valid iff it matches the expected shape; here the source-id's digit
# suffix, with the parsed numeric id alongside).
# --------------------------------------------------------------------------

ID_VALID_RE = r"^src[0-9]+$"
ID_NUM_RE = r"^src([0-9]+)$"


def id_valid_sql(d: str) -> str:
    return (f"SELECT doc_id AS row_id, source, "
            f"{rx_matches('source', ID_VALID_RE, d)} AS id_valid, "
            f"CAST({rx_extract('source', ID_NUM_RE, 1, d)} AS INT) AS src_num "
            f"FROM documents")


# --------------------------------------------------------------------------
# R12: per-category found-term extraction (gemini_qa.py:74-87
# extract_found_terms): for each category, the ordered list of its
# keywords present in the text (substring matching, list order kept).
# --------------------------------------------------------------------------

def found_terms_sql(d: str) -> str:
    cols = []
    for cat, kws in spec.METHODS_CRITERIA.items():
        arr = str_array(kws, d)
        found = arr_filter(arr, "k -> instr(t, k) > 0", d)
        cols.append(f"{found} AS found_{cat}")
    sizes = " + ".join(
        arr_len(f"found_{c}", d) for c in spec.METHODS_CRITERIA)
    # keyword-list order is preserved by filter(); rendered as a joined
    # string (a scalar sorts/hashes portably in every compare harness).
    # COALESCE: DuckDB's array_to_string([]) is NULL, Spark's is ''.
    outs = ", ".join(
        f"COALESCE({arr_join(f'found_{c}', ',', d)}, '') AS found_{c}"
        for c in spec.METHODS_CRITERIA)
    inner = ",\n       ".join(cols)
    return f"""
WITH base AS (
  {_DOC_BASE}
),
f AS (
  SELECT row_id,
       {inner}
  FROM base
)
SELECT row_id, {outs},
       CAST({sizes} AS INT) AS n_found
FROM f
"""


def field_fallback_sql(d: str) -> str:
    """Per-field fallback record (api_utils.py:32-73
    create_default_field_structure; bugsigdb_analyzer.py:147-152).

    One row per document, three columns per extraction field:
    ``status_<f>`` (PRESENT / ABSENT), ``reason_<f>`` and
    ``suggest_<f>`` — empty strings when the field was found
    (bugsigdb_analyzer.py:151-152: reason is "" unless ABSENT), the
    reference's default-structure literals BYTE-EXACT when missing.
    Presence = any spec.FALLBACK_FIELD_MARKERS regex matches the
    lowered text (the deterministic analogue of the reference's
    per-field LLM extraction; see spec.py). Pure per-row codegen —
    no shuffle, embarrassingly parallel at any corpus size."""
    found_cols, out_cols = [], []
    for f, pats in spec.FALLBACK_FIELD_MARKERS.items():
        any_hit = " OR ".join(rx_matches("t", p, d) for p in pats)
        found_cols.append(f"({any_hit}) AS found_{f}")
        reason, suggest = spec.FALLBACK_FIELDS[f]
        out_cols.append(
            f"CASE WHEN found_{f} THEN {slit(spec.STATUS_PRESENT)} "
            f"ELSE {slit(spec.STATUS_ABSENT)} END AS status_{f}")
        out_cols.append(f"CASE WHEN found_{f} THEN '' "
                        f"ELSE {slit(reason)} END AS reason_{f}")
        out_cols.append(f"CASE WHEN found_{f} THEN '' "
                        f"ELSE {slit(suggest)} END AS suggest_{f}")
    founds = ",\n         ".join(found_cols)
    outs = ",\n       ".join(out_cols)
    return f"""
WITH base AS (
  {_DOC_BASE}
),
f AS (
  SELECT row_id,
         {founds}
  FROM base
)
SELECT row_id,
       {outs}
FROM f
"""


def _first_match_chain(chain: tuple[tuple[str, str | None], ...],
                       d: str) -> str:
    """Ordered first-match raw-marker extraction (R6 discipline): the
    first chain marker present as a whole word in ``t`` wins."""
    arms = []
    for w, _canon in chain:
        pred = rx_matches("t", r"\b" + w + r"\b", d)
        arms.append(f"CASE WHEN {pred} THEN {slit(w)} END")
    return f"COALESCE({', '.join(arms)})"


def _normalize_case(raw: str,
                    chain: tuple[tuple[str, str | None], ...]) -> str:
    """Raw marker -> canonical enumeration value: mapped synonyms pass
    through, any extracted-but-unmapped value becomes 'Other', nothing
    extracted stays NULL (utils.py:87-117 allowed lists + the
    reference's value-None-when-ABSENT discipline)."""
    whens = " ".join(f"WHEN {raw} = {slit(w)} THEN {slit(canon)}"
                     for w, canon in chain if canon is not None)
    return (f"CASE WHEN {raw} IS NULL THEN NULL {whens} "
            f"ELSE 'Other' END")


def domain_normalize_sql(d: str) -> str:
    """Allowed-value domain normalization (app/utils/utils.py:87-117
    get_sequencing_types / get_body_sites enumerations, ported
    byte-exact into spec.SEQUENCING_TYPES / spec.BODY_SITES).

    Extracts a raw sequencing-type / body-site marker per document
    (ordered first-match chain, fallback_extractor.py:115-133 style)
    and normalizes it into the reference enumeration: synonym-mapped
    values pass through, unmapped raw values collapse to 'Other', and
    documents with no marker at all keep NULL. Per-row codegen, no
    shuffle. A unit test pins every output value into the
    enumerations."""
    raw_seq = _first_match_chain(spec.SEQ_TYPE_CHAIN, d)
    raw_site = _first_match_chain(spec.BODY_SITE_CHAIN, d)
    return f"""
WITH base AS (
  {_DOC_BASE}
),
r AS (
  SELECT row_id,
         {raw_seq} AS raw_seq,
         {raw_site} AS raw_site
  FROM base
)
SELECT row_id, raw_seq,
       {_normalize_case('raw_seq', spec.SEQ_TYPE_CHAIN)} AS seq_type,
       raw_site,
       {_normalize_case('raw_site', spec.BODY_SITE_CHAIN)} AS body_site
FROM r
"""


def finding_confidence_sql(d: str) -> str:
    terms = " + ".join(f"CAST(instr(t, {slit(w)}) > 0 AS INT)"
                       for w in spec.FINDING_MARKERS)
    return f"""
WITH base AS (
  {_DOC_BASE}
),
f AS (
  SELECT row_id, CAST({terms} AS INT) AS n_findings FROM base
)
SELECT row_id, n_findings,
       CASE WHEN n_findings = 0 THEN {fmt(0.0)}
            ELSE LEAST({fmt(1.0)}, {fmt(spec.A6_CONF_BASE)} + {fmt(spec.A6_CONF_PER_FINDING)} * n_findings) END AS finding_conf
FROM f
"""


# --------------------------------------------------------------------------
# R11: LLM-output section parser (gemini_qa.py:88-224). One dual-dialect
# query: GENERATE the sectioned report each doc's rule columns would
# produce (the reference's prompt/response template), then PARSE it back
# with the literal section-scoped rules — substring precedence (incl.
# the NOT-READY quirk, spec.py R11 note), yes/no/partial mapping,
# first-number confidence regex, comma-split factor counts with the
# min(1, n/16) clamp, and bullet counting. Numpy twin:
# rules/reference_impl.report_parse (a line-loop port of the reference).
# --------------------------------------------------------------------------

def _contains(h: str, needle: str) -> str:
    return f"instr({h}, {slit(needle)}) > 0"


def report_parse_sql(d: str) -> str:
    NL = "chr(10)"

    def found_join(kws: tuple[str, ...]) -> str:
        arr = str_array(kws, d)
        hit = arr_filter(arr, "k -> instr(t, k) > 0", d)
        return f"COALESCE({arr_join(hit, ', ', d)}, '')"

    r_line = f"""CASE WHEN q.keep THEN 'READY FOR CURATION'
          WHEN q.quality_score < {fmt(spec.R11_UNCLEAR_QUALITY_MAX)}
            THEN 'STATUS UNCLEAR'
          WHEN q.n_present <= {spec.R11_NOTREADY_SHORT_MAX}
            THEN 'NOT READY'
          ELSE 'NOT READY FOR CURATION' END"""
    sig_word = (f"CASE WHEN q.n_present >= {spec.R11_SIG_YES_MIN} THEN 'yes' "
                f"WHEN q.n_present = 0 THEN 'no' ELSE 'partial' END")
    conf_num = ("CAST(CAST(FLOOR(q.quality_score * "
                f"{fmt(100.0)}) AS BIGINT) AS INT)")
    bullets = (f"repeat('- rule below threshold' || {NL}, "
               f"CAST(5 - q.n_present AS INT))")
    rpt = f" || {NL} || ".join([
        slit(spec.R11_HDR_READINESS), f"({r_line})",
        slit(spec.R11_HDR_SIGNATURES),
        f"'- Presence of microbial signatures: ' || ({sig_word})",
        slit(spec.R11_HDR_FACTORS),
        f"'- General Factors Present: ' || "
        f"{found_join(spec.FACTOR_LISTS['general'])}",
        f"'- Environmental Factors Present: ' || "
        f"{found_join(spec.FACTOR_LISTS['exec'])}",
        slit(spec.R11_HDR_CONFIDENCE),
        f"'Confidence: ' || CAST({conf_num} AS "
        f"{'STRING' if d == SPARK else 'VARCHAR'})",
        slit(spec.R11_HDR_REASONS) + f" || {NL} || {bullets}",
    ])

    def after_hdr(hdr: str) -> str:
        return rx_extract("rpt", hdr + r"\n([^\n]*)", 1, d)

    def after_label(label: str) -> str:
        return rx_extract("rpt", label + r" ([^\n]*)", 1, d)

    def comma_count(raw_payload: str) -> str:
        # DuckDB's regexp_extract yields NULL for an EMPTY capture,
        # Spark yields '' — normalize before counting
        payload = f"COALESCE({raw_payload}, '')"
        return (f"CASE WHEN {payload} = '' THEN 0 ELSE "
                f"CAST(length({payload}) - "
                f"length(replace({payload}, ',', '')) + 1 AS INT) END")

    rl = f"upper({after_hdr(spec.R11_HDR_READINESS)})"
    readiness = f"""CASE
      WHEN {_contains(rl, 'READY FOR CURATION')} THEN 'READY'
      WHEN {_contains(rl, 'NOT READY')} THEN 'NOT_READY'
      WHEN {_contains(rl, 'READY')} AND NOT ({_contains(rl, 'NOT')})
        THEN 'READY'
      WHEN {_contains(rl, 'UNKNOWN')} OR {_contains(rl, 'UNCLEAR')}
        THEN 'UNKNOWN'
      ELSE 'UNKNOWN' END"""
    sl = f"lower({after_label('Presence of microbial signatures:')})"
    signatures = f"""CASE
      WHEN {_contains(sl, 'yes')} THEN 'Present'
      WHEN {_contains(sl, 'no')} THEN 'Absent'
      WHEN {_contains(sl, 'partial')} THEN 'Partial'
      ELSE 'Unknown' END"""
    conf_sect = after_hdr(spec.R11_HDR_CONFIDENCE)
    conf_extract = rx_extract(f"({conf_sect})", r"([0-9]+\.?[0-9]*)", 1, d)
    confidence = f"CAST({conf_extract} AS DOUBLE)"
    pg = after_label("General Factors Present:")
    pe = after_label("Environmental Factors Present:")
    reasons = rx_extract("rpt", r"(?s)" + spec.R11_HDR_REASONS + r"\n(.*)",
                         1, d)
    bullet_arr = rx_extract_all_full(f"(COALESCE({reasons}, ''))",
                                     "(?m)^- ", d)
    n_reasons = f"CAST(COALESCE({arr_len(bullet_arr, d)}, 0) AS INT)"
    return f"""
WITH q AS ({quality_core_sql(d)}),
g AS (
  SELECT q.row_id,
         {rpt} AS rpt
  FROM q JOIN (SELECT doc_id AS row_id,
                      {lowtrim('text')} AS t FROM documents) dd
         ON q.row_id = dd.row_id
),
p AS (
  SELECT row_id,
         {readiness} AS readiness,
         {signatures} AS signatures,
         {confidence} AS confidence,
         {comma_count(f'({pg})')} AS n_general,
         {comma_count(f'({pe})')} AS n_env,
         {n_reasons} AS n_reasons
  FROM g
)
SELECT row_id, readiness, signatures, confidence, n_general, n_env,
       LEAST({fmt(1.0)},
             CAST(n_general + n_env AS DOUBLE) / {fmt(16.0)})
         AS factor_score,
       n_reasons
FROM p
"""
