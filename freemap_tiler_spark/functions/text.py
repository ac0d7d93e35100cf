"""Text-side scalar functions for the web-page corpus.

The graft input is a Common-Crawl-style table (url, warc_ts, html, text,
lang).  Geometry is extracted from ``text`` (geotag pattern
``geo:{lat},{lon}``); the carried ``text`` column is never mutated
(byte-identity invariant per url).  Everything here is either pure JVM
Column arithmetic (regexp/length/hash built-ins — stays in codegen) or has
an exact DuckDB SQL twin for the oracle.

Also provides the training-data-pipeline text analyzers: language ID
(stopword-ratio heuristic), quality scoring, token counting, and document
fingerprinting (a 60-bit md5 prefix that Spark and DuckDB compute alike).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ``geo:lat,lon`` with |lat| <= 90 and |lon| <= 180 (RE2 and Java alike):
# an off-globe tag does not match at all, so both halves are NULL together
# at no extra cost; a digit may not follow the lon
GEO_PATTERN = (r"geo:(-?(?:90\.0+|[1-8]?\d\.\d+)),"
               r"(-?(?:180\.0+|(?:1[0-7]\d|[1-9]?\d)\.\d+))(?:\D|$)")


def _c(v) -> Column:
    return v if isinstance(v, Column) else F.col(v)


# ---------------------------------------------------------------------------
# HTML text extraction (the input_hint's extract stage; JVM-side regexp)
# ---------------------------------------------------------------------------

def extract_text(html) -> Column:
    """Extracted text from an ``html`` binary column: decode utf-8, strip
    tags.  The graft's per-row invariant vs the reference is BYTE-IDENTICAL
    extracted text per url — asserted by the ``extract_text`` contract
    query (extract_text(html) == text for every corpus row).  Whole-stage
    codegen regexp; no Python."""
    return F.regexp_replace(_c(html).cast("string"), "<[^>]+>", "")


# ---------------------------------------------------------------------------
# Geotag extraction (JVM-side regexp — no UDF needed)
# ---------------------------------------------------------------------------

def geo_lat(text) -> Column:
    """Latitude from the first on-globe ``geo:lat,lon`` occurrence; NULL if
    there is none."""
    m = F.regexp_extract(_c(text), GEO_PATTERN, 1)
    return F.when(m != "", m.cast("double"))


def geo_lon(text) -> Column:
    m = F.regexp_extract(_c(text), GEO_PATTERN, 2)
    return F.when(m != "", m.cast("double"))


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish subword estimate)
# ---------------------------------------------------------------------------

def ws_token_count(text) -> Column:
    """Whitespace token count: size(split(trim(text), '\\s+')), 0 for empty."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def bpe_token_estimate(text) -> Column:
    """BPE-ish subword count: word-boundary pieces + ceil(chars/4) overflow
    for long words — a deterministic regex-based estimate (no tokenizer lib).
    Counts matches of: word chars in <=4-char chunks, digits, punctuation."""
    pieces = F.regexp_count(_c(text), F.lit(r"\w{1,4}|[^\w\s]"))
    return pieces.cast("long")


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def quality_features(text) -> dict[str, Column]:
    """Length / punctuation / stopword / uppercase ratios, each a plain
    Column.  Combine with quality_score()."""
    t = _c(text)
    n_chars = F.length(t).cast("double")
    safe = F.greatest(n_chars, F.lit(1.0))
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double")
    n_upper = F.regexp_count(t, F.lit(r"[A-Z]")).cast("double")
    n_digit = F.regexp_count(t, F.lit(r"[0-9]")).cast("double")
    n_words = ws_token_count(t).cast("double")
    n_stop = F.regexp_count(
        F.lower(t), F.lit(r"\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b")
    ).cast("double")
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "punct_ratio": n_punct / safe,
        "upper_ratio": n_upper / safe,
        "digit_ratio": n_digit / safe,
        "stopword_ratio": n_stop / F.greatest(n_words, F.lit(1.0)),
        "mean_word_len": n_chars / F.greatest(n_words, F.lit(1.0)),
    }


def quality_score(text) -> Column:
    """Scalar quality in [0, 1]: rewards stopword presence and sane word
    length, penalizes punctuation/digit noise (C4/Gopher-style heuristics)."""
    f = quality_features(text)
    score = (
        F.lit(1.0)
        - F.least(f["punct_ratio"] * 2.0, F.lit(0.5))
        - F.least(f["digit_ratio"] * 2.0, F.lit(0.3))
        + F.least(f["stopword_ratio"], F.lit(0.4)) * 0.5
    )
    penal = F.when((f["mean_word_len"] < 2.0) | (f["mean_word_len"] > 12.0), 0.3).otherwise(0.0)
    return F.greatest(F.lit(0.0), F.least(score - penal, F.lit(1.0)))


# ---------------------------------------------------------------------------
# Language ID (n-gram/stopword heuristic; no fasttext offline)
# ---------------------------------------------------------------------------

_LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|is|that|with|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "sk": r"\b(je|sa|na|som|ako|ale|tak|aj)\b",
    "cs": r"\b(je|se|na|jsem|jak|ale|tak|aby)\b",
    "es": r"\b(el|la|de|que|y|en|los|del)\b",
    "fr": r"\b(le|la|de|et|les|des|est|une)\b",
}


def lang_id(text) -> Column:
    """argmax over per-language stopword hit counts; 'und' if all zero."""
    t = F.lower(_c(text))
    counts = [(lang, F.regexp_count(t, F.lit(pat))) for lang, pat in _LANG_STOPWORDS.items()]
    best = F.greatest(*[c for _, c in counts])
    expr = F.lit("und")
    for lang, c in reversed(counts):  # earlier langs win ties
        expr = F.when((best > 0) & (c == best), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 prefix, identical in Spark and DuckDB)
# ---------------------------------------------------------------------------

def md5_fingerprint(text) -> Column:
    """64-bit fingerprint = first 15 hex chars of md5, as bigint.

    Chosen because Spark ``md5`` and DuckDB ``md5`` agree byte-for-byte, so
    the oracle can verify fingerprints end-to-end (15 hex chars = 60 bits,
    keeps the conv() result positive in both engines)."""
    return F.conv(F.substring(F.md5(_c(text).cast("binary")), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline: redact emails / phones / IPs)
#
# Patterns are chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): ASCII classes, \b boundaries, bounded repetition only.
# Reference analogue: none (reference is a tiler); this is the webtext-axis
# pipeline op.  Scrubbing is pure JVM regexp_replace — whole-stage codegen,
# no UDF — so it runs at scan speed on 100 TB.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\b\d{3}-\d{3}-\d{4}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# redaction order matters for byte-identity of the scrubbed text: emails
# first (may contain digits/dots), then IPs (dotted digits), then phones
# (hyphenated digits).  The SQL twin must use the same order + 'g' flag.
_PII_ORDER = [(PII_EMAIL, "[EMAIL]"), (PII_IP, "[IP]"), (PII_PHONE, "[PHONE]")]


def pii_counts(text) -> dict[str, Column]:
    """Per-category match counts on the ORIGINAL text (pre-redaction)."""
    t = _c(text)
    return {
        "n_email": F.regexp_count(t, F.lit(PII_EMAIL)).cast("long"),
        "n_phone": F.regexp_count(t, F.lit(PII_PHONE)).cast("long"),
        "n_ip": F.regexp_count(t, F.lit(PII_IP)).cast("long"),
    }


def scrub_pii(text) -> Column:
    """Text with every email / IPv4 / phone occurrence redacted to a
    bracketed tag, in a fixed order so the output is byte-deterministic."""
    t = _c(text)
    for pat, tag in _PII_ORDER:
        t = F.regexp_replace(t, pat, tag)
    return t


def sql_scrub_pii(col: str) -> str:
    """DuckDB twin of scrub_pii (same order, 'g' = replace-all like Spark)."""
    expr = col
    for pat, tag in _PII_ORDER:
        expr = "regexp_replace({e}, '{p}', '{t}', 'g')".format(e=expr, p=pat, t=tag)
    return expr


# ---------------------------------------------------------------------------
# URL canonicalization (dedup key for web corpora: scheme/www/query/
# fragment/trailing-slash-insensitive identity)
# ---------------------------------------------------------------------------

_URL_CANON_STEPS = [
    (r"^https?://", ""),   # scheme
    (r"^www\.", ""),       # leading www.
    (r"[?#].*$", ""),      # query string + fragment
    (r"/$", ""),           # trailing slash
]


def canonical_url(url) -> Column:
    """Canonical form: lowercase, scheme/www./query/fragment/trailing-slash
    stripped.  Pure JVM regexp chain; the exact-dedup key for URL dedup."""
    u = F.lower(F.trim(_c(url)))
    for pat, repl in _URL_CANON_STEPS:
        u = F.regexp_replace(u, pat, repl)
    return u


def sql_canonical_url(col: str) -> str:
    """DuckDB twin of canonical_url (anchored patterns: first-match ==
    all-match, so no 'g' needed — identical semantics to Spark)."""
    expr = "lower(trim({c}))".format(c=col)
    for pat, repl in _URL_CANON_STEPS:
        expr = "regexp_replace({e}, '{p}', '{r}')".format(e=expr, p=pat, r=repl)
    return expr

