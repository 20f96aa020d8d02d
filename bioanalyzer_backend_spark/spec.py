"""Single source of truth for the quality-rule battery.

Every constant here is consumed by THREE implementations that must agree
bit-for-bit:

  * ``sqlgen.py``            -> Spark SQL (runs on the cluster)
  * ``sqlgen.py``            -> DuckDB SQL (the driver's correctness oracle)
  * ``rules/reference_impl`` -> pure numpy/pandas (the "reference labels"
                                 oracle for pytest, north-rule F1 >= 0.99)

The rule *shape* mirrors the reference engine's quality checks
(waldronlab/bioanalyzer-backend):

  * pattern dictionaries per field   -> app/utils/field_validator.py:30-69
  * per-category keyword scoring     -> app/utils/methods_scorer.py:114-127
  * weighted document rollup         -> app/utils/methods_scorer.py:77-92
  * PRESENT/PARTIAL/ABSENT banding   -> app/utils/field_validator.py:100-108
    (including the reference's quirk: confidence in (0.7, 0.8) is ABSENT)
  * null-sentinel handling           -> field_validator.py:92-95,
                                        bugsigdb_analyzer.py:140
  * readiness (keep/drop) decision   -> app/models/gemini_qa.py:142-153,657-663
  * regex scrub chain                -> app/utils/text_processing.py:110-125

All regexes are written in the common subset of Java regex (Spark), RE2
(DuckDB) and Python ``re``: no lookaround, no backrefs, explicit ASCII
classes (``[0-9]`` not ``\\d``) so the three engines agree on semantics.
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Tokenization
# --------------------------------------------------------------------------

# Explicit ASCII whitespace class: identical in Java regex, RE2 and Python re.
WS_CLASS = r"[ \t\r\n]"
TOKEN_SPLIT_RE = WS_CLASS + "+"

# Strip leading/trailing non-alphanumerics from a lowered token before
# stopword matching ("word," -> "word").
TOKEN_TRIM_RE = r"^[^a-z0-9]+|[^a-z0-9]+$"

# --------------------------------------------------------------------------
# Stopword lists (langid marker words double as stopword-density evidence).
# Mirrors the keyword-map shape of fallback_extractor.py:14-45.
# --------------------------------------------------------------------------

STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "an", "of", "in", "on", "and", "to", "with", "is",
           "are", "for", "at", "by", "from", "this", "that", "it"),
    "es": ("el", "los", "las", "y", "que", "un", "una", "es", "con", "por",
           "para", "del", "se", "su", "como"),
    "de": ("der", "die", "das", "und", "ist", "mit", "von", "ein", "eine",
           "im", "für", "auf", "nicht", "den", "zu"),
    "fr": ("le", "les", "et", "une", "est", "dans", "pour", "sur", "avec",
           "au", "ce", "qui", "ne", "pas"),
    # shared between es/fr on purpose (real-world ambiguity)
    "_shared": ("la", "de", "en"),
}

# Flat, ordered, deduplicated union used by the stopword-density rule.
ALL_STOPWORDS: tuple[str, ...] = tuple(dict.fromkeys(
    w for lang in ("en", "es", "de", "fr", "_shared") for w in STOPWORDS[lang]
))

# --------------------------------------------------------------------------
# Null-sentinel captions (field_validator.py:92-95; bugsigdb_analyzer.py:140)
# --------------------------------------------------------------------------

NULL_SENTINELS: tuple[str, ...] = (
    "", "unknown", "not specified", "n/a", "none", "not found",
    "not available", "null",
)

# --------------------------------------------------------------------------
# PII / noise scrub chain (applied IN ORDER).
# Regex-chain style of text_processing.py:110-125 (citation refs, figure
# refs, URLs, whitespace collapse) extended with PII (emails/phones/IDs).
# Patterns use [0-9] (never \d: Python \d is unicode-wide) and avoid
# lookaround (RE2 has none).
# --------------------------------------------------------------------------

SCRUB_CHAIN: tuple[tuple[str, str], ...] = (
    # URLs first so emails inside URLs don't double-fire.
    (r"(https?://|www\.)[^ \t\r\n]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    # SSN-shaped ids.
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<ID>"),
    # Phone-shaped: 9+ digits with separators, optional leading +.
    (r"\+?[0-9][0-9()., -]{7,}[0-9]", "<PHONE>"),
    # Citation refs "[1, 2]" (text_processing.py:112).
    (r"\[[0-9]+(,[ ]*[0-9]+)*\]", ""),
    # Figure/table refs (text_processing.py:115-118).
    (r"\((Figure|Fig\.?|Table)[ ]*[0-9]+[A-Za-z]?\)", ""),
    # Whitespace collapse LAST (text_processing.py:121).
    (WS_CLASS + "+", " "),
)

# Literal-substring guards for scrub steps: a pattern listed here can only
# match a string that CONTAINS the literal, and no EARLIER chain step's
# replacement text introduces it — so the SQL renderer may skip the regex
# entirely when the RAW input lacks the literal (a fast substring scan).
# Pure evaluation shortcut: output is bit-identical with or without the
# guard, and rules/reference_impl ignores it (plain re.sub chain), which
# the oracle parity + hypothesis equivalence tests pin. Why it exists:
# the email pattern's fat leading char class backtracks at every start
# position, and measured 10-20x slower when evaluated in the same stage
# as the rule battery (JIT profile pollution) — on a crawl corpus where
# ~95% of rows contain no '@' at all.
SCRUB_GUARDS: dict[str, str] = {
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+": "@",
}

# --------------------------------------------------------------------------
# Rule battery — five heuristic caption-quality rules.
# Weights follow the reference's overall-score rollup shape
# (methods_scorer.py:77-92: 0.25/0.25/0.20/0.15/0.15).
# --------------------------------------------------------------------------

RULE_NAMES: tuple[str, ...] = ("len", "word", "rep", "alpha", "stop")

RULE_WEIGHTS: dict[str, float] = {
    "len": 0.25,     # caption length band
    "word": 0.25,    # token count + mean word length sanity
    "rep": 0.20,     # distinct-token ratio (repetition penalty)
    "alpha": 0.15,   # alphabetic char ratio (symbol-soup penalty)
    "stop": 0.15,    # stopword density (natural-language evidence)
}

# Length rule bands (chars of trimmed caption).
LEN_FULL_LO = 20      # below this: score scales up linearly, halved
LEN_FULL_HI = 600     # above this: linear decay
LEN_DECAY = 600.0     # decay run length

# Word rule.
WORD_TOK_FULL = 8.0          # tokens for full score
WORD_AVG_LEN_LO = 2.0        # sane mean word length band
WORD_AVG_LEN_HI = 12.0
WORD_AVG_LEN_PENALTY = 0.3   # multiplier outside the band

# Repetition rule.
REP_MIN_TOKENS = 4           # below this, repetition is not judged
REP_BOOST = 1.25             # distinct ratio * boost, clamped to 1

# Alpha rule.
ALPHA_BOOST = 1.25

# Stopword rule: score = min(1, STOP_FLOOR + STOP_BOOST * stop_ratio).
STOP_FLOOR = 0.2
STOP_BOOST = 4.0

# --------------------------------------------------------------------------
# Status banding (field_validator.py:100-108) — note the deliberate quirk:
# confidence in the open interval (0.7, 0.8) maps to ABSENT, preserved from
# the reference.  PRESENT additionally gets score = min(1, conf + 0.1)
# in the reference; we keep raw scores and band separately.
# --------------------------------------------------------------------------

STATUS_PRESENT = "PRESENT"
STATUS_PARTIAL = "PARTIALLY_PRESENT"
STATUS_ABSENT = "ABSENT"

PRESENT_MIN = 0.8    # score >= 0.8            -> PRESENT
PARTIAL_MIN = 0.4    # 0.4 <= score <= 0.7     -> PARTIALLY_PRESENT
PARTIAL_MAX = 0.7    # (0.7, 0.8)              -> ABSENT (reference quirk)

# --------------------------------------------------------------------------
# Keep/drop ("readiness") decision — gemini_qa.py:142-153, 657-663 analogue:
# weighted quality above threshold, enough PRESENT fields, primary field
# not absent, caption not a null sentinel.
# --------------------------------------------------------------------------

KEEP_QUALITY_MIN = 0.5
KEEP_PRESENT_MIN = 2      # >= 2 of 5 rules PRESENT

# --------------------------------------------------------------------------
# R2: pattern-dictionary field confidence (field_validator.py:30-69 dict
# shape, :121-147 arithmetic). For each category, n = how many of its
# patterns match the TEXT; if any do, confidence is
#   min(1, 0.2*n + 0.6)  when one of those matched patterns also hits the
#                        CONTENT (the claimed field value), else
#   min(1, 0.1*n + 0.3);
# the best-confidence category wins, FIRST category winning ties (the
# reference's strict `>` comparison in dict order). Content analogue for
# the documents table: the first CONTENT_PREFIX_CHARS of the text (the
# reference validates a short field value against the full abstract).
# Category vocab is the synthetic corpus vocabulary (datagen).
# --------------------------------------------------------------------------

FIELD_PATTERNS: dict[str, tuple[str, ...]] = {
    "storage": (r"\btable\b", r"\brow\b", r"\bcolumn\b", r"\bpart\b",
                r"\bscan\b"),
    "exec": (r"\bagg\b", r"\bjoin\b", r"\bsort\b", r"\bgroup\b",
             r"\bwindow\b"),
    "stream": (r"\bstream\b", r"\bbatch\b", r"\bwatermark\b"),
    "perf": (r"\bfast\b", r"\bslow\b", r"\bbig\b", r"\bsmall\b"),
}
R2_SAME_CAT_SLOPE = 0.2      # field_validator.py:139
R2_SAME_CAT_BASE = 0.6
R2_CROSS_CAT_SLOPE = 0.1     # field_validator.py:141
R2_CROSS_CAT_BASE = 0.3
CONTENT_PREFIX_CHARS = 80

# --------------------------------------------------------------------------
# A1: category-coverage methods score (methods_scorer.py:114-127):
# score = (#categories with >= 1 keyword present) / total_categories.
# Keywords are plain substrings (the reference uses `kw in text`), one
# hit per category (the reference `break`s after the first keyword).
# --------------------------------------------------------------------------

METHODS_CRITERIA: dict[str, tuple[str, ...]] = {
    "scan": ("scan", "filter"),
    "join": ("join", "merge"),
    "agg": ("agg", "group"),
    "sort": ("sort", "order"),
    "stream": ("stream", "batch"),
}

# --------------------------------------------------------------------------
# R6: ordered first-match extraction chain (fallback_extractor.py:115-133):
# patterns tried IN ORDER, first capture group of the first match wins.
# --------------------------------------------------------------------------

CONDITION_PATTERNS: tuple[str, ...] = (
    r"(slow[ ]+query)",
    r"(big[ ]+table)",
    r"(fast[ ]+scan)",
    r"(small[ ]+part)",
    r"(hash[ ]+join)",
)

# --------------------------------------------------------------------------
# A5: factor-based score (gemini_qa.py:218-222): count the factors present
# across three factor lists, score = min(1, total / MAX_FACTORS).
# A6: finding-count confidence (gemini_qa.py:35-38):
# conf = 0 if no findings else min(1, 0.3 + 0.15 * n_findings).
# Findings analogue: distinct finding-marker words present in the text.
# --------------------------------------------------------------------------

FACTOR_LISTS: dict[str, tuple[str, ...]] = {
    "general": ("table", "row", "column", "part", "scan", "query"),
    "exec": ("agg", "join", "sort", "group", "window"),
    "perf": ("fast", "slow", "big", "small", "stream"),
}
A5_MAX_FACTORS = 16

FINDING_MARKERS: tuple[str, ...] = (
    "merge", "vector", "hash", "spark", "customer", "line")
A6_CONF_BASE = 0.3
A6_CONF_PER_FINDING = 0.15

# --------------------------------------------------------------------------
# R11: LLM-output section parser (gemini_qa.py:88-224
# parse_enhanced_analysis). The report format is the reference's
# sectioned template; the parse rules are ported LITERALLY, including
# the substring-precedence quirk: the first branch checks
# `"READY FOR CURATION" in line_upper` (gemini_qa.py:144-145), and
# "NOT READY FOR CURATION" CONTAINS that substring, so a
# NOT-READY-FOR-CURATION line parses as READY — the NOT_READY branch is
# reachable only via the bare "NOT READY" form. Quirk unit-tested in
# test_rules_units.py.
# --------------------------------------------------------------------------

R11_HDR_READINESS = "CURATION READINESS ASSESSMENT:"
R11_HDR_SIGNATURES = "MICROBIAL SIGNATURE ANALYSIS:"
R11_HDR_FACTORS = "FACTOR-BASED ANALYSIS:"
R11_HDR_CONFIDENCE = "CONFIDENCE LEVEL:"
R11_HDR_REASONS = "SPECIFIC REASONS FOR DECISION:"
R11_SIG_YES_MIN = 3        # n_present >= 3 -> "yes"
R11_UNCLEAR_QUALITY_MAX = 0.2
R11_NOTREADY_SHORT_MAX = 1  # n_present <= 1 -> bare "NOT READY" line

# --------------------------------------------------------------------------
# Per-field fallback record (api_utils.py:32-73
# create_default_field_structure). For each of the reference's six
# extraction fields, a MISSING field carries its default structure's
# ``reason_if_missing`` and ``suggestions`` strings — ported BYTE-EXACT
# below; a non-missing field carries empty strings
# (bugsigdb_analyzer.py:147-152: reason = "" unless status is ABSENT).
# The per-field presence predicate maps the reference's LLM extraction
# onto the synthetic corpus vocabulary (the same move as FIELD_PATTERNS
# and METHODS_CRITERIA): word-boundary regexes / phrase patterns, field
# found iff any marker matches. sample_size keeps the reference's real
# semantics (a number in the text) — the synthetic corpus is digit-free,
# so that field exercises the always-ABSENT arm.
# --------------------------------------------------------------------------

FALLBACK_FIELDS: dict[str, tuple[str, str]] = {
    # field -> (reason_if_missing, suggestions), api_utils.py:32-73 verbatim
    "host_species": (
        "No host species information found in the paper",
        "Look for mentions of human, mouse, rat, or other study organisms"),
    "body_site": (
        "No body site information found in the paper",
        "Look for mentions of gut, oral, skin, or other sampling sites"),
    "condition": (
        "No condition information found in the paper",
        "Look for disease names, treatments, or exposure conditions"),
    "sequencing_type": (
        "No sequencing type information found in the paper",
        "Look for mentions of 16S, metagenomics, or other sequencing methods"),
    "taxa_level": (
        "No taxonomic level information found in the paper",
        "Look for mentions of phylum, genus, species, or other taxonomic "
        "levels"),
    "sample_size": (
        "No sample size information found in the paper",
        "Look for numbers of samples, participants, or study groups"),
}

FALLBACK_FIELD_MARKERS: dict[str, tuple[str, ...]] = {
    "host_species": (r"\bcustomer\b", r"\bspark\b"),
    "body_site": (r"\brow\b", r"\bcolumn\b", r"\btable\b"),
    "condition": CONDITION_PATTERNS,     # the R6 phrase chain, reused
    "sequencing_type": (r"\bscan\b", r"\bstream\b", r"\bmerge\b"),
    "taxa_level": (r"\bgroup\b", r"\border\b", r"\bline\b"),
    "sample_size": (r"\b[0-9]+\b",),
}

# --------------------------------------------------------------------------
# Allowed-value domain normalization (app/utils/utils.py:87-117
# get_sequencing_types / get_body_sites). The enumerations are ported
# BYTE-EXACT; extracted raw values normalize into them via an ordered
# first-match marker chain (R6 style) + synonym map, with the
# reference's "Other" catch-all for any extracted-but-unmapped value and
# NULL when nothing was extracted at all (api_utils.py: value None for
# ABSENT fields). Marker words are the synthetic corpus vocabulary.
# --------------------------------------------------------------------------

SEQUENCING_TYPES: tuple[str, ...] = (
    "16S rRNA", "Shotgun metagenomics", "Metatranscriptomics", "ITS",
    "Other amplicon", "Culture-based", "Other",
)
BODY_SITES: tuple[str, ...] = (
    "Gut", "Oral", "Skin", "Respiratory tract", "Urogenital", "Blood",
    "Other",
)

# (marker word, canonical value | None) — None normalizes to "Other".
# Ordered: FIRST matching marker wins (fallback_extractor.py:115-133
# first-match discipline); unmapped markers sit early so the "Other"
# arm is actually exercised on the synthetic corpus.
SEQ_TYPE_CHAIN: tuple[tuple[str, str | None], ...] = (
    ("scan", "16S rRNA"),
    ("hash", None),
    ("stream", "Metatranscriptomics"),
    ("merge", "Shotgun metagenomics"),
    ("filter", "ITS"),
    ("batch", "Other amplicon"),
    ("vector", "Culture-based"),
)
BODY_SITE_CHAIN: tuple[tuple[str, str | None], ...] = (
    ("row", "Gut"),
    ("join", None),
    ("column", "Oral"),
    ("table", "Skin"),
    ("window", "Respiratory tract"),
    ("group", "Urogenital"),
    ("sort", "Blood"),
)

# --------------------------------------------------------------------------
# Full-pipeline (non-SQL) thresholds: langid + perplexity gates.
# --------------------------------------------------------------------------

LANGS: tuple[str, ...] = ("en", "es", "de", "fr", "zh", "ar")
LANG_CONF_MIN = 0.30      # langid confidence gate
PPL_MAX = 60.0            # byte-LM perplexity gate: real langs score ~10,
                          # symbol soup hits the smoothing floor (~256)
GATE_TRAIN_SAMPLES = 3000  # captions per language each gate model trains on

# Multimodal operator settings that the synth ground truth reads too.
PSNR_MIN = 40.0           # verify_dup_groups: pixel dup iff PSNR >= this
MAX_DUP_GROUP = 1024      # larger phash groups skip pixel verification
VIDEO_EVERY_S = 1.0       # video_frame_sample's default sampling interval

# Truncation budget before expensive UDF stages
# (text_processing.py:127-146: 2000 tokens ~ 8000 chars).
TRUNCATE_CHARS = 8000
