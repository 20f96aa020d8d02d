"""Property-based tests (SURVEY.md section 5.4): adversarial captions —
unicode (emoji/CJK/RTL), control chars, nulls, repetition — must keep
every invariant: scores in [0,1], statuses in the enum, scrub idempotent
and PII-free, and the Spark plan must agree with the numpy oracle on a
curated adversarial batch."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bioanalyzer_backend_spark import spec
from bioanalyzer_backend_spark.rules import reference_impl as ri

# printable-ish unicode incl. emoji/CJK/RTL planes; excludes surrogates
CAPTION = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400)

STATUSES = {spec.STATUS_PRESENT, spec.STATUS_PARTIAL, spec.STATUS_ABSENT}


@given(CAPTION)
@settings(max_examples=300, deadline=None)
def test_scrub_idempotent_and_pii_free(text):
    import re
    once = ri.scrub(text)
    assert ri.scrub(once) == once
    # no PII/citation pattern still matches its own output; the final
    # whitespace-collapse entry legitimately leaves single spaces behind
    for pattern, repl in spec.SCRUB_CHAIN:
        if repl == " ":
            continue
        assert re.search(pattern, once) is None, pattern


@given(st.lists(CAPTION, min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_scores_bounded_statuses_in_enum(captions):
    feats = ri.rule_features(pd.Series(captions))
    for r in spec.RULE_NAMES:
        s = feats[f"score_{r}"]
        assert ((s >= 0.0) & (s <= 1.0)).all(), r
        assert set(feats[f"status_{r}"].unique()) <= STATUSES
    q = feats["quality_score"]
    assert ((q >= 0.0) & (q <= 1.0 + 1e-12)).all()
    assert feats["n_present"].between(0, len(spec.RULE_NAMES)).all()
    assert feats["keep"].isin([True, False]).all()


@given(CAPTION)
@settings(max_examples=200, deadline=None)
def test_tokenize_total(text):
    toks = ri.tokenize(text)
    assert all(t != "" for t in toks)
    assert all(t == t.lower() for t in toks)


ADVERSARIAL = [
    "",
    " ",
    "\t\r\n",
    "n/a",
    "NOT FOUND",
    "🙂🙃🙂🙃 emoji only 🙂",
    "数据质量检查的中文说明文本，包含标点。",
    "نص عربي من اليمين إلى اليسار مع كلمات",
    "mixed 中文 english نص with يمين all three",
    "a" * 1000,
    "word " * 200,
    "x@y.zz call +1 (555) 123-4567 ssn 123-45-6789 http://e.co/x?q=1",
    "NULL\x00byte inside",
    "..., !!! ??? ### $$$ %%%",
    "the the the the the the the the the the",
    "ein kleines deutsches beispiel mit der die das und",
]


def test_spark_matches_oracle_on_adversarial_batch(spark):
    from bioanalyzer_backend_spark.plans import pipeline as P

    pdf = pd.DataFrame({
        "image_id": [f"adv{i:03d}" for i in range(len(ADVERSARIAL))],
        "caption": ADVERSARIAL,
    })
    df = spark.createDataFrame(pdf, "image_id string, caption string")
    got = (P.apply_scrub(P.apply_core_rules(df))
           .toPandas().sort_values("image_id").reset_index(drop=True))
    feats = ri.rule_features(pdf["caption"])

    for r in spec.RULE_NAMES:
        assert (got[f"score_{r}"].values == feats[f"score_{r}"].values).all(), r
        assert (got[f"status_{r}"].values == feats[f"status_{r}"].values).all(), r
    assert (got["keep_core"].values == feats["keep"].values).all()
    assert (got["scrubbed_caption"].values
            == pdf["caption"].map(ri.scrub).values).all()


def test_spark_matches_oracle_on_random_unicode_batch(spark):
    """Differential fuzz: 400 seeded random captions spanning ASCII,
    Latin-1, CJK, Arabic, emoji and control chars — one Spark batch must
    match the numpy oracle bit-for-bit on every rule column."""
    import random

    from bioanalyzer_backend_spark.plans import pipeline as P

    rng = random.Random(20260817)
    planes = [
        (0x20, 0x7E),        # ASCII
        (0xA0, 0xFF),        # Latin-1
        (0x4E00, 0x4FFF),    # CJK
        (0x600, 0x6FF),      # Arabic
        (0x1F600, 0x1F64F),  # emoji
        (0x9, 0xD),          # tab/newline/CR
    ]

    def rand_caption():
        n = rng.randint(0, 120)
        chars = []
        for _ in range(n):
            lo, hi = planes[rng.randrange(len(planes))]
            chars.append(chr(rng.randint(lo, hi)))
            if rng.random() < 0.3:
                chars.append(" ")
        return "".join(chars)

    caps = [rand_caption() for _ in range(400)]
    pdf = pd.DataFrame({"image_id": [f"fz{i:04d}" for i in range(len(caps))],
                        "caption": caps})
    df = spark.createDataFrame(pdf, "image_id string, caption string")
    got = (P.apply_scrub(P.apply_core_rules(df))
           .toPandas().sort_values("image_id").reset_index(drop=True))
    feats = ri.rule_features(pdf["caption"])

    for r in spec.RULE_NAMES:
        assert (got[f"score_{r}"].values == feats[f"score_{r}"].values).all(), r
        assert (got[f"status_{r}"].values
                == feats[f"status_{r}"].values).all(), r
    assert (got["keep_core"].values == feats["keep"].values).all()
    assert (got["scrubbed_caption"].values
            == pdf["caption"].map(ri.scrub).values).all()


def test_gopher_repetition_matches_python_reference(spark):
    """Differential fuzz for the zero-shuffle repetition filter: the
    sorted-array run-length mode + distinct-trigram fraction computed by
    the Spark SQL rendering must match an independent per-row Python
    reference (Counter over ri.tokenize n-grams) on adversarial and
    seeded-random captions. keep flags compare exactly (the SQL keep
    uses the UNROUNDED fractions); fractions compare within round-off."""
    import random
    from collections import Counter

    from bioanalyzer_backend_spark.plans.catalog_queries import (
        _q_gopher_repetition)
    from bioanalyzer_backend_spark.session import invalidate_testdata_views
    from bioanalyzer_backend_spark.sqlgen import SPARK

    rng = random.Random(3)
    words = ["click", "here", "now", "the", "fox", "数据", "نص", "🙂"]
    caps = list(ADVERSARIAL)
    for _ in range(60):
        n = rng.randint(0, 30)
        caps.append(" ".join(rng.choice(words) for _ in range(n)))

    def ref(text):
        toks = ri.tokenize(text)
        g2 = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        g3 = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        top = (max(Counter(g2).values()) / len(g2)) if g2 else None
        dup = (1.0 - len(set(g3)) / len(g3)) if g3 else None
        # thresholds gate only docs with enough grams (>=9 / >=8) — a
        # short clean doc's top-bigram share is >0.18 by pigeonhole alone
        keep = ((len(g2) < 9 or top <= 0.18)
                and (len(g3) < 8 or dup <= 0.30))
        return top, dup, keep

    pdf = pd.DataFrame({"doc_id": range(len(caps)), "text": caps,
                        "lang": "en", "source": "s",
                        "n_chars": [len(c) for c in caps]})
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("documents")
    try:
        got = {r["row_id"]: r for r in
               spark.sql(_q_gopher_repetition(SPARK)).collect()}
    finally:
        spark.catalog.dropTempView("documents")
        invalidate_testdata_views(spark)
    assert len(got) == len(caps)
    for i, text in enumerate(caps):
        top, dup, keep = ref(text)
        g = got[i]
        assert g["keep_repetition"] == keep, (i, text)
        for want, have in ((top, g["top_bigram_frac"]),
                           (dup, g["dup_trigram_frac"])):
            if want is None:
                assert have is None, (i, text)
            else:
                assert abs(have - want) <= 5e-6, (i, text, want, have)


@given(st.lists(CAPTION, min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_tokenize_batch_matches_per_row(captions):
    """The corpus-at-once batch tokenizer (sentinel join + vocabulary
    trim) must agree with the per-row reference tokenizer on every row,
    including control-char batches that force the exact slow path
    (NUL/SOH corrupt pd.factorize's C-string hashtable)."""
    from bioanalyzer_backend_spark.operators.dedup import _tokenize_batch
    row_of, codes, uniq = _tokenize_batch(pd.Series(captions))
    for r, text in enumerate(captions):
        got = {uniq[c] for c in codes[row_of == r]}
        assert got == set(ri.tokenize(text)), (r, text)


@given(st.lists(CAPTION, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_simhash_batch_matches_per_row_reference(captions):
    """Vectorized 64-bit SimHash == the naive per-row definition
    (distinct tokens -> md5-slice hash -> per-bit sign votes) on
    adversarial unicode. The DuckDB twin checks corpus data; this pins
    the chunked reduceat/packbits path on generated edge cases."""
    import hashlib

    import numpy as np

    from bioanalyzer_backend_spark.operators import dedup
    got = dedup.simhash_batch(pd.Series(captions)).to_numpy() \
        .astype(np.uint64)
    for r, text in enumerate(captions):
        toks = set(ri.tokenize(text))
        if not toks:
            assert got[r] == 0
            continue
        votes = [0] * 64
        for t in toks:
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        assert int(got[r]) == sig, (r, text)


# ASCII-only strategy for the round-4 rule twins: \b now agrees across
# Python(re.ASCII)/Java/RE2, but unicode CASE-FOLDING still legitimately
# differs between Python str.lower and the engines' ICU lower (e.g.
# dotted-I) — the driver gate is Spark<->DuckDB, where lower() agrees;
# the numpy twin is pinned on the ASCII plane where all three agree.
ASCII_CAPTION = st.text(
    alphabet=st.characters(min_codepoint=9, max_codepoint=126),
    max_size=200)


@given(st.lists(ASCII_CAPTION, min_size=1, max_size=20))
@settings(max_examples=40, deadline=None)
def test_field_fallback_and_domain_normalize_duck_vs_numpy(captions):
    """Round-4 rule twins: DuckDB rendering == numpy twin on random
    ASCII captions (empties, pure punctuation, embedded markers,
    phrase fragments)."""
    import duckdb

    from bioanalyzer_backend_spark import sqlgen
    con = duckdb.connect()
    df = pd.DataFrame({"doc_id": range(len(captions)), "text": captions})
    con.register("documents", df)
    got = (con.execute(sqlgen.field_fallback_sql(sqlgen.DUCK)).df()
           .sort_values("row_id").reset_index(drop=True))
    exp = ri.field_fallback(df["text"])
    for col in exp.columns:
        assert list(got[col]) == list(exp[col]), col
    got2 = (con.execute(sqlgen.domain_normalize_sql(sqlgen.DUCK)).df()
            .sort_values("row_id").reset_index(drop=True))
    exp2 = ri.domain_normalize(df["text"])
    for col in exp2.columns:
        assert [v if pd.notna(v) else None for v in got2[col]] \
            == list(exp2[col]), col


@given(st.lists(ASCII_CAPTION, min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_threshold_sweep_and_quantiles_duck_vs_numpy(captions):
    """Round-5 tuning queries: the DuckDB rendering of the threshold
    calibration sweep and the portable exact discrete quantiles must
    agree with an independent numpy evaluation of the same definitions
    over rule_features (third-implementation agreement, like the other
    rule twins). ASCII plane for the same case-folding reason as above."""
    import math

    import duckdb
    import numpy as np

    from bioanalyzer_backend_spark.plans.catalog_queries import (
        _q_score_quantiles, _q_threshold_sweep)
    from bioanalyzer_backend_spark.sqlgen import DUCK

    con = duckdb.connect()
    langs = ["en", "es", "de"]
    df = pd.DataFrame({"doc_id": range(len(captions)), "text": captions,
                       "lang": [langs[i % 3] for i in range(len(captions))]})
    con.register("documents", df)
    scores = ri.rule_features(df["text"])["quality_score"].to_numpy()

    sweep = con.execute(_q_threshold_sweep(DUCK)).df()
    assert len(sweep) == 5
    for _, row in sweep.iterrows():
        assert row["n_docs"] == len(df)
        assert row["n_keep"] == int((scores >= row["threshold"]).sum()), \
            row["threshold"]

    got = (con.execute(_q_score_quantiles(DUCK)).df()
           .sort_values("lang").reset_index(drop=True))
    for _, row in got.iterrows():
        vals = np.sort(scores[df["lang"].to_numpy() == row["lang"]])
        n = len(vals)
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            # same IEEE double n*p the SQL computes, then CEIL
            exp = vals[int(math.ceil(n * p)) - 1]
            assert row[col] == exp, (row["lang"], col)


def test_threshold_sweep_empty_documents_keeps_zero(spark):
    """Over an EMPTY documents table every sweep row must read n_docs = 0
    and n_keep = 0 in both engines — a bare SUM over no rows is NULL,
    which disagrees with the numpy definition int((scores >= t).sum())."""
    import duckdb

    from bioanalyzer_backend_spark.plans.catalog_queries import (
        _q_threshold_sweep)
    from bioanalyzer_backend_spark.session import invalidate_testdata_views
    from bioanalyzer_backend_spark.sqlgen import DUCK, SPARK

    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "text": pd.Series([], dtype="object"),
                          "lang": pd.Series([], dtype="object")})
    con = duckdb.connect()
    con.register("documents", empty)
    duck = con.execute(_q_threshold_sweep(DUCK)).df()
    spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    try:
        sprk = spark.sql(_q_threshold_sweep(SPARK)).toPandas()
    finally:
        spark.catalog.dropTempView("documents")
        invalidate_testdata_views(spark)
    for got in (duck, sprk):
        assert len(got) == 5
        assert (got["n_docs"] == 0).all()
        assert got["n_keep"].notna().all() and (got["n_keep"] == 0).all()
