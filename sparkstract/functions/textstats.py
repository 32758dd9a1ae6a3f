"""Text-analysis column expressions (training-data pipeline ops).

All pure `pyspark.sql.functions` column expressions — JVM-side, whole-stage
codegen, zero Python in the hot path. Each has an exact DuckDB-SQL twin in
the driver registry (`driver/text.py`, `driver/curation.py`; portability
rule: only md5, regexp, and basic string/number functions, identical
semantics in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword marker sets for the n-gram/stopword-hit
# language-ID heuristic. Deterministic and tiny by design.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "del"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_grams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, in start order; empty
    when it holds fewer than n tokens (or is NULL). `toks` must be a
    projected column, not the `tokens(...)` expression itself: Catalyst
    never lifts an expression out of a higher-order-function lambda, so an
    inline tokenizer would re-run at every n-gram position. Explode the
    result inline too: a generator over a projected gram column gets an
    inferred `size(...) > 0` filter that is pushed below the projection,
    which rebuilds the grams from the text."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# BPE-ish pre-tokenizer pattern (the GPT-2 pre-split shape, ASCII-restricted
# so Java regex and DuckDB/RE2 agree byte-for-byte): letter runs, digit runs,
# and single punctuation marks each count as one token — the standard
# LLM-pipeline "token count" estimate when no tokenizer model is loadable.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_token_count(col: Column) -> Column:
    """Subword-ish token count via the BPE pre-tokenizer regex — a closer
    LLM-token estimate than whitespace words (splits punctuation and
    digit runs), still a pure JVM-side expression."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    n = F.length(col)
    clean = F.length(F.regexp_replace(col, "[^A-Za-z0-9 ]", ""))
    return F.when(n > 0, (n - clean) / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = tokens(F.lower(col))
    # count occurrences, not distinct: filter the token array
    hit_count = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS_EN))
    )
    n = F.size(toks)
    return F.when(n > 0, hit_count / n).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


# the 50 most frequent English letter bigrams (standard frequency tables) —
# the basis of the cheap gibberish detector below
COMMON_BIGRAMS = (
    "th he in er an re on at en nd ti es or te of ed is it al ar st to nt "
    "ng se ha as ou io le ve co me de hi ri ro ic ne ea ra ce li ch ll be "
    "ma si om ur ta el".split())


def bigram_coherence(col: Column) -> Column:
    """Fraction of the text's letter bigrams that are common English
    bigrams — the cheap proxy for an LM-perplexity filter (random keyboard
    mash scores near 0, prose near 0.5+). Pure column expressions: strip
    non-letters, slide a width-2 window with transform over a sequence,
    count membership. Short texts (< 2 letters) score 0."""
    letters = F.regexp_replace(F.lower(col), "[^a-z]", "")
    n = F.length(letters)
    # each letter paired with the next: both slices are lambda ARGUMENTS,
    # evaluated once per row (a lambda body re-runs per position)
    chars = F.split(letters, "")
    grams = F.zip_with(F.slice(chars, 1, n - 1), F.slice(chars, 2, n - 1),
                       lambda a, b: F.concat(a, b))
    hits = F.size(F.filter(
        grams, lambda g: g.isin(*COMMON_BIGRAMS)))
    return F.when(n >= 2, F.round(hits / (n - 1), 6)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    length signal * (1 - punct_ratio) * clamp(stopword presence)."""
    n = F.length(col)
    len_sig = F.least(n / F.lit(500.0), F.lit(1.0))
    return F.round(len_sig * (1.0 - punct_ratio(col)) *
                   F.least(F.lit(1.0), stopword_ratio(col) * 5.0), 6)


def lang_id(col: Column) -> Column:
    """Argmax of per-language marker-token hit counts; deterministic
    tie-break by language code order; 'und' when no marker hits or the
    text is NULL. One fold over one token array counts every language."""
    codes = sorted(LANG_MARKERS)

    def count(acc, t):
        return F.struct(*[
            (acc[c] + F.when(t.isin(LANG_MARKERS[c]), 1).otherwise(0)).alias(c)
            for c in codes])

    def argmax(acc):
        # max of (hits, -code index): most hits, then the first code
        best = F.array_max(F.array(*[
            F.struct(acc[c].alias("hits"), F.lit(-i).alias("i"))
            for i, c in enumerate(codes)]))
        return F.when(best["hits"] > 0, F.element_at(
            F.array(*map(F.lit, codes)), 1 - best["i"]))

    zero = F.struct(*[F.lit(0).alias(c) for c in codes])
    return F.coalesce(F.aggregate(tokens(F.lower(col)), zero, count, argmax),
                      F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercase,
    whitespace-collapsed text (the exact-dedup key)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(col), "\\s+", " ")))


# Unicode-punctuation folding table (the normstrngs analog — the reference
# normalizes curly quotes / dashes / ligatures before string comparison,
# unittest/normstrngs_test.cc). One shared table generates BOTH engines'
# replace chains, so parity holds by construction.
NORM_FOLDS: list[tuple[str, str]] = [
    ("‘", "'"), ("’", "'"), ("‛", "'"),   # curly apostrophes
    ("“", '"'), ("”", '"'), ("‟", '"'),   # curly double quotes
    ("–", "-"), ("—", "-"), ("−", "-"),   # en/em dash, minus
    ("ﬁ", "fi"), ("ﬂ", "fl"),                   # ff/fi ligatures
    (" ", " "),                                      # no-break space
    ("…", "..."),                                    # ellipsis
]


def normalize_text(col: Column) -> Column:
    """normstrngs-style canonical form: fold unicode punctuation variants to
    ASCII, lowercase, collapse whitespace, trim. The dedup canonicalizer for
    web text where the same sentence circulates with straight and curly
    quotes, hyphens and em-dashes."""
    out = col
    for src, dst in NORM_FOLDS:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.lower(F.regexp_replace(F.trim(out), "\\s+", " "))


def fingerprint_normalized(col: Column) -> Column:
    """Exact-dedup key over the normstrngs-folded canonical form."""
    return F.md5(normalize_text(col))


# PII patterns (ASCII-only so Java regex and RE2 agree; conservative on
# purpose — a training-data scrubber prefers false positives on strings that
# merely look like contact data)
PII_PATTERNS: list[tuple[str, str]] = [
    # email before phone: an address like a.b-1@x.io contains digit runs a
    # phone pattern could nibble at
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("(?:\\+?[0-9]{1,3}[-. ])?(?:\\([0-9]{3}\\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}",
     "<PHONE>"),
    ("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
]


def scrub_pii(col: Column) -> Column:
    """Mask emails / phone numbers / IPv4 addresses / SSN-shaped ids with
    typed placeholder tokens — the standard pre-training scrub pass. Pure
    chained regexp_replace (whole-stage codegen); the DuckDB twin is
    generated from the SAME pattern table."""
    for pat, tok in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tok)
    return col


def hex_prefix_to_long(hex_col: Column, n_hex: int = 8) -> Column:
    """First n_hex hex chars of a hash string → non-negative bigint.
    Twin of the DuckDB generate_series/strpos construction in oracle SQL."""
    return F.conv(F.substring(hex_col, 1, n_hex), 16, 10).cast("long")


def hex_slice_to_long(hex_col: Column, start: int, n_hex: int = 8) -> Column:
    """Hex chars [start, start+n_hex) (0-based) → non-negative bigint.
    Lets one md5 feed several independent 32-bit hash values."""
    return F.conv(F.substring(hex_col, start + 1, n_hex), 16, 10).cast("long")
