"""Text analysis for training-data pipelines — language-ID, quality
scoring, token counting, document fingerprinting.

Every function here is built from JVM-side ``pyspark.sql.functions``
expressions (whole-stage codegen; no Python in the hot path) and has an
exactly-equivalent ANSI-SQL form runnable by DuckDB, so each gets a real
value-level oracle in ``__spark_entry__.oracle_sql``. Shared constants
(regexes, stopword lists, hash width) live here so the Spark and SQL sides
can't drift.

The portable content hash is the first 60 bits of md5 — identical in Spark
(``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``). 60 bits keeps it inside
a signed int64 in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, single non-space symbols.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: Punctuation-ish characters for quality ratios. (No quote characters —
#: the pattern is embedded in SQL string literals for the DuckDB oracle.)
PUNCT_PATTERN = "[.,;:!?()\\[\\]{}-]"

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately small: the heuristic is the operator under test,
#: not a production model.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "una"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def _word_pattern(words: list[str]) -> str:
    return "(?i)\\b(" + "|".join(words) + ")\\b"


def portable_hash60(col: Column | str) -> Column:
    """60-bit md5-derived hash, bit-identical to the DuckDB oracle form."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB-side twin of portable_hash60."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def normalize_text(col: Column | str = "text") -> Column:
    """Canonical form for dedup/fingerprints: lowercase, collapse
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


NORMALIZE_TEXT_SQL = "trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def ws_token_count(col: Column | str = "text") -> Column:
    """Whitespace token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), "\\s+"))


def regex_token_count() -> Column:
    """BPE-ish token count of the ``text`` column via TOKEN_PATTERN."""
    return F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN))


def punct_ratio(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PUNCT_PATTERN)) / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_ratio(col: Column | str = "text") -> Column:
    """English stopword hits / whitespace tokens — a classic quality
    signal (near-zero for gibberish and non-English)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_word_pattern(ENGLISH_STOPWORDS))) / F.greatest(
        ws_token_count(c), F.lit(1)
    )


def digit_ratio(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("[0-9]")) / F.greatest(F.length(c), F.lit(1))


def quality_score(col: Column | str = "text") -> Column:
    """Composite [0,1] quality score: length band + stopword presence -
    punctuation/digit noise. The exact recipe is arbitrary; what matters is
    that it is deterministic, columnar, and oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    length_ok = (F.length(c) >= 100) & (F.length(c) <= 20000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(stopword_ratio(c) * 2, F.lit(0.4))
        + F.when(punct_ratio(c) < 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
        + F.when(digit_ratio(c) < 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return score.cast("double")


def lang_id(col: Column | str = "text") -> Column:
    """Stopword-vote language heuristic: most stopword hits wins; ties go
    to the earlier language in LANG_STOPWORDS order; no hits -> 'und'."""
    c = F.col(col) if isinstance(col, str) else col
    hits = {
        lang: F.regexp_count(c, F.lit(_word_pattern(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_STOPWORDS:  # insertion order = tie-break priority
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def word_ngrams(col: Column | str = "text", n: int = 3) -> Column:
    """Word n-grams of the normalized text as space-joined strings, in
    document order, repeats kept. Words are the same ``[a-z0-9]+`` tokens
    every text operator shares; this is the ONE authoritative copy of the
    construction (repetition_ratio and the dedup contamination family
    build on it, so a change to the token pattern or the short-doc guard
    cannot desynchronize them). Spark's ``sequence(1, k)`` counts DOWN
    for k < 1, so documents shorter than n words map to an empty array
    explicitly. Built with slice+concat_ws deliberately: per-element
    ``element_at`` measures ~3.5x slower under ANSI bounds machinery."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.regexp_extract_all(normalize_text(c), F.lit("[a-z0-9]+"), 0)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_ratio(col: Column | str = "text") -> Column:
    """Fraction of word trigrams that repeat an earlier trigram in the SAME
    document — the within-doc repetition signal quality filters use to
    drop degenerate or loop-generated text. Row-local expression (zero
    shuffle); 0.0 for documents shorter than 3 words."""
    grams = word_ngrams(col)
    ratio = (F.size(grams) - F.size(F.array_distinct(grams))) / F.size(grams)
    return F.when(F.size(grams) > 0, ratio.cast("double")).otherwise(F.lit(0.0))


def hash_sample_predicate(
    key_col: Column | str, rate_ppm: Column | int, salt: str = ""
) -> Column:
    """Deterministic sampling predicate: keep a row iff
    ``hash(key || salt) % 1e6 < rate_ppm``. Unlike ``df.sample``, the
    selection is a pure function of the key — re-runs, retries, different
    partitionings, and different engines all pick the SAME rows, which is
    what a reproducible data-mixing stage needs. Rotate ``salt`` to draw a
    fresh sample at the same rate. ``rate_ppm`` may be a per-row Column
    (per-source mixing rates)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    r = F.lit(rate_ppm) if isinstance(rate_ppm, int) else rate_ppm
    return (portable_hash60(F.concat(k.cast("string"), F.lit(salt))) % 1000000) < r


#: PII patterns shared by both engines — kept to syntax valid AND
#: equivalent in Java regex (Spark) and RE2 (DuckDB): no lookaround, no
#: backreferences; \b is the ASCII word boundary in both.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_email_count(col: Column | str = "text") -> Column:
    """Non-overlapping email-shaped match count (case-folded first)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(PII_EMAIL_RE)).cast("long")


def pii_phone_count(col: Column | str = "text") -> Column:
    """Non-overlapping NANP-style phone-number match count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("long")


def doc_fingerprint() -> Column:
    """Content fingerprint of the normalized ``text`` column (the
    reference's path-independent identity doctrine, its
    data_validation.py:5, applied to documents)."""
    return portable_hash60(normalize_text("text"))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders (twin expressions, same constants)
# ---------------------------------------------------------------------------


def ws_token_count_sql(expr: str) -> str:
    return f"len(regexp_split_to_array(trim({expr}), '\\s+'))"


def regex_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_PATTERN}'))"


def punct_ratio_sql(expr: str) -> str:
    return (
        f"len(regexp_extract_all({expr}, '{PUNCT_PATTERN}'))"
        f" / greatest(length({expr}), 1)"
    )


def stopword_ratio_sql(expr: str) -> str:
    pat = _word_pattern(ENGLISH_STOPWORDS)
    return (
        f"len(regexp_extract_all({expr}, '{pat}'))"
        f" / greatest({ws_token_count_sql(expr)}, 1)"
    )


def digit_ratio_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '[0-9]')) / greatest(length({expr}), 1)"


def quality_score_sql(expr: str) -> str:
    return (
        f"CAST((CASE WHEN length({expr}) BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)"
        f" + least({stopword_ratio_sql(expr)} * 2, 0.4)"
        f" + (CASE WHEN {punct_ratio_sql(expr)} < 0.1 THEN 0.1 ELSE 0.0 END)"
        f" + (CASE WHEN {digit_ratio_sql(expr)} < 0.2 THEN 0.1 ELSE 0.0 END) AS DOUBLE)"
    )


def lang_id_sql(expr: str) -> str:
    hit = {
        lang: f"len(regexp_extract_all({expr}, '{_word_pattern(words)}'))"
        for lang, words in LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(hit.values()) + ")"
    whens = "".join(
        f" WHEN {hit[lang]} = {best} THEN '{lang}'" for lang in LANG_STOPWORDS
    )
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} ELSE 'und' END"


def normalize_text_sql(expr: str) -> str:
    return NORMALIZE_TEXT_SQL.format(expr=expr)


def doc_fingerprint_sql(expr: str) -> str:
    return portable_hash60_sql(normalize_text_sql(expr))


def word_ngrams_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of word_ngrams (generate_series(1, 0) is already empty
    in DuckDB, so the short-doc guard is the greatest(..., 0) bound).
    The outer coalesce pins the NULL-text case to [] — the Spark side
    returns an empty array for NULL text, while the raw DuckDB expression
    NULL-propagates through greatest/generate_series on engine versions
    where greatest(NULL, 0) is NULL (ADVICE r7 text.py:236; the
    cross-engine test asserts [] == [] exactly, no normalization)."""
    words = f"regexp_extract_all({normalize_text_sql(expr)}, '[a-z0-9]+')"
    return (
        f"coalesce(list_transform(generate_series(1, greatest(len({words}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({words}, i, i + {n - 1}), ' ')), [])"
    )


def repetition_ratio_sql(expr: str) -> str:
    """DuckDB twin of repetition_ratio."""
    grams = word_ngrams_sql(expr)
    return (
        f"CASE WHEN len({grams}) > 0 THEN "
        f"(len({grams}) - len(list_distinct({grams}))) * 1.0 / len({grams}) "
        f"ELSE 0.0 END"
    )


def pii_email_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all(lower({expr}), '{PII_EMAIL_RE}')) AS BIGINT)"


def pii_phone_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{PII_PHONE_RE}')) AS BIGINT)"


def hash_sample_predicate_sql(key_expr: str, rate_ppm_expr: str, salt: str = "") -> str:
    """DuckDB twin of hash_sample_predicate. The salt is interpolated into
    a SQL string literal, so embedded quotes are doubled — the Spark side
    takes any salt through F.lit, and the two twins must accept the same
    inputs."""
    lit = salt.replace("'", "''")
    h = portable_hash60_sql(f"(CAST({key_expr} AS VARCHAR) || '{lit}')")
    return f"(({h}) % 1000000) < ({rate_ppm_expr})"


# ---------------------------------------------------------------------------
# the quality-filter funnel (production corpus-filter composition)
# ---------------------------------------------------------------------------

#: funnel thresholds — ONE set of constants shared by the Spark expression
#: and the SQL twin, so the two engines cannot drift stage by stage
FUNNEL_LANGS = ("en", "de", "es", "fr")
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 100_000
FUNNEL_MIN_QUALITY = 0.5
FUNNEL_MAX_REPETITION = 0.3


def filter_funnel() -> Column:
    """First-rejection-reason label of the ``text`` column for the
    composed corpus filter:
    ``'lang' | 'short' | 'long' | 'quality' | 'repetition' | 'pii' |
    'keep'``. The evaluation ORDER is part of the contract — each doc is
    charged to the first stage that rejects it, so per-stage attrition
    counts are attributable (the same design as operators/dedup.py's
    dedup_corpus labels). Cheap row-local signals run before expensive
    ones; everything is a single columnar CASE (one scan, zero shuffle —
    the downstream ``groupBy(reason)`` is the only exchange and has 7
    keys)."""
    c = F.col("text")
    return (
        F.when(~lang_id(c).isin(*FUNNEL_LANGS), F.lit("lang"))
        .when(ws_token_count(c) < FUNNEL_MIN_TOKENS, F.lit("short"))
        .when(ws_token_count(c) > FUNNEL_MAX_TOKENS, F.lit("long"))
        .when(quality_score(c) < FUNNEL_MIN_QUALITY, F.lit("quality"))
        .when(repetition_ratio(c) > FUNNEL_MAX_REPETITION, F.lit("repetition"))
        .when(pii_email_count(c) + pii_phone_count(c) > 0, F.lit("pii"))
        .otherwise(F.lit("keep"))
    )


def filter_funnel_sql(expr: str) -> str:
    """DuckDB twin of filter_funnel: the same CASE over the same shared
    threshold constants and the same per-signal twin expressions."""
    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    return (
        f"CASE WHEN {lang_id_sql(expr)} NOT IN ({langs}) THEN 'lang'"
        f" WHEN {ws_token_count_sql(expr)} < {FUNNEL_MIN_TOKENS} THEN 'short'"
        f" WHEN {ws_token_count_sql(expr)} > {FUNNEL_MAX_TOKENS} THEN 'long'"
        f" WHEN {quality_score_sql(expr)} < {FUNNEL_MIN_QUALITY} THEN 'quality'"
        f" WHEN {repetition_ratio_sql(expr)} > {FUNNEL_MAX_REPETITION}"
        f"      THEN 'repetition'"
        f" WHEN {pii_email_count_sql(expr)} + {pii_phone_count_sql(expr)} > 0"
        f"      THEN 'pii'"
        f" ELSE 'keep' END"
    )
