"""Text-analysis expression library for large-scale corpus pipelines:
tokenization, n-gram shingles, quality scoring, language-ID heuristics,
document fingerprinting.

All built from JVM-side array/string built-ins so a 100 TB corpus pass
stays inside whole-stage codegen — no Python in the hot path. Where an
operator needs a portable hash (for DuckDB-oracle parity), md5 is used
(both engines implement it identically); Spark-only paths may use the
faster xxhash64/murmur3.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased, space-trimmed text: split
    on runs of Java's ``\\s``, i.e. ``[ \\t\\n\\x0B\\f\\r]``.

    DuckDB twin: ``plans.text_kit.TOKENS_SQL``, which spells that class
    out because RE2's ``\\s`` leaves out the vertical tab. The twins
    agree wherever lower-casing maps one code point to one code point
    without context. Java's full case mapping differs from DuckDB's on
    a word-final capital sigma (``ς`` here, ``σ`` there) and on ``İ``
    (``i̇``, two code points, here; ``i`` there)."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


#: GPT-2-ish pretokenizer pattern (simplified, lookahead-free so it is
#: portable between Java regex and RE2): contraction suffixes, then
#: space-prefixed letter runs, digit runs, punctuation runs.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_tokens(col: Column) -> Column:
    """BPE-style pretokenization (the unit a byte-pair encoder would
    merge within). DuckDB twin: ``regexp_extract_all(text, pattern)``."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(bpe_ish_tokens(col))


# ---------------------------------------------------------------------------
# Portable hashing (bit-equal in Spark and the DuckDB oracle)
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31-1; products with < 2^21 multipliers stay in int64.
HASH_P = 2147483647


def char_fold_hash(col: Column) -> Column:
    """Polynomial char hash: fold (acc·31 + ascii(c)) mod P.

    DuckDB twin (verified bit-equal)::

        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT))),
          (acc, c) -> (acc*31 + c) % 2147483647)
    """
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_P,
    )


def token_hash_array(col: Column) -> Column:
    """Array of per-token ``char_fold_hash`` values (one char pass per
    token occurrence — shingle/fingerprint layers combine these
    NUMERICALLY, so no text is re-scanned downstream)."""
    return F.transform(tokens(col), char_fold_hash)


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword signals)
# ---------------------------------------------------------------------------


def occurrence_count(col: Column, needle: str) -> Column:
    """Count substring occurrences via length arithmetic — identical
    semantics in any SQL engine:
    ``(length(s) - length(replace(s, needle, ''))) / length(needle)``."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


#: Minimal per-language stopword marker sets for the heuristic
#: language ID. Spaces are part of the needle so matches are word-ish.
LANG_MARKERS: dict[str, list[str]] = {
    "de": [" der ", " und ", " die ", " ist ", " nicht "],
    "en": [" the ", " and ", " of ", " to ", " is "],
    "es": [" el ", " de ", " que ", " los ", " una "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "zh": ["的", "是", "了", "在", "我"],
}


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-hit counts per language over ' '+lower(text)+' '."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    return {
        lang: sum(
            (occurrence_count(padded, m) for m in markers), start=F.lit(0)
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language with deterministic alphabetical tie-break
    ('und' when no marker hits at all)."""
    scores = lang_scores(col)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    # fold keeps the first (alphabetically earliest) language on ties —
    # strict '>' comparison over the sorted-by-lang array.
    folded = F.reduce(
        pairs,
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(
            (s["score"] > acc["score"]),
            s,
        ).otherwise(acc),
    )
    return F.when(folded["score"] <= 0, F.lit("und")).otherwise(folded["lang"])


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after lowercasing."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, "[a-z0-9 ]", "")
    return F.length(stripped) / F.nullif(F.length(lowered), F.lit(0))


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint_md5(col: Column) -> Column:
    """Portable content fingerprint (DuckDB: ``md5(...)``)."""
    return F.md5(normalized_text(col))
