"""Text-analysis column functions (LLM-data-pipeline tier).

All JVM-side built-ins (split/transform/aggregate/regexp) — no Python
UDFs in the hot path. Every function has a documented DuckDB twin used
by the oracle queries; the pair must stay semantically identical.

Tokenization contract (shared with oracles):
  tokens(text)    = regexp-split of trim(lower(text)) on \\s+
  word shingles   = space-joined sliding n-grams over tokens
  char shingles   = sliding n-char substrings of the raw text
Empty/short inputs yield empty shingle arrays (guarded — Spark's
``sequence(1, 0)`` counts *down*, unlike DuckDB's ``range``).

Construction: every helper takes a column NAME (anything ``F.col``
accepts, nested fields included) and composes its WHOLE expression as
one SQL string — the name through ``sqlexpr.sql_ref``, string values
through ``sqlexpr.sql_str`` — parsed by a single ``F.expr`` round-trip
instead of one py4j call per Catalyst node.  The DuckDB twin in each
docstring is the contract: the oracle parity gate pins the two
engines bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .sqlexpr import sql_ref, sql_str

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny deterministic stopword lists for the language-ID heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "es": ("el", "los", "y", "que", "en", "una", "es"),
    "fr": ("le", "la", "et", "les", "des", "un", "est"),
    "zh": ("de", "le", "shi", "bu", "wo", "zai", "you"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def _sql_arr(items: tuple[str, ...]) -> str:
    return "array(" + ", ".join(sql_str(s) for s in items) + ")"


_WS_PAT = sql_str(r"\s+")


def _tokens_sql(ref: str) -> str:
    return f"split(trim(lower({ref})), {_WS_PAT})"


def _word_shingles_sql(ref: str, n: int) -> str:
    t = "t"  # lambda-bound token array (see word_shingles docstring)
    grams = (
        f"CASE WHEN size({t}) >= {n} THEN "
        f"transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return (
        f"array_distinct(element_at("
        f"transform(array({_tokens_sql(ref)}), {t} -> {grams}), 1))"
    )


def tokens(col: str) -> Column:
    """Whitespace tokens of lower-cased text.
    DuckDB twin: string_split_regex(trim(lower(x)), '\\s+')."""
    return F.expr(_tokens_sql(sql_ref(col)))


def token_count(col: str) -> Column:
    return F.expr(f"size({_tokens_sql(sql_ref(col))})")


def bpe_ish_count(col: str) -> Column:
    """Token count under the BPE-ish regex.
    DuckDB twin: len(regexp_extract_all(x, pattern))."""
    return F.expr(
        f"size(regexp_extract_all({sql_ref(col)}, "
        f"{sql_str(BPE_ISH_PATTERN)}, 0))"
    )


def word_shingles(col: str, n: int = 3) -> Column:
    """Distinct space-joined word n-grams.
    DuckDB twin: list_distinct(list_transform(range(1,
    greatest(len(toks)-n+1,0)+1), i -> array_to_string(toks[i:i+n-1],' '))).

    The token array is BOUND as a lambda variable via a one-element
    transform before the index lambda touches it: subexpression
    elimination does not reach inside higher-order lambdas, so the
    naive form re-ran the tokenizer regex for EVERY shingle position
    (measured 3.0 s vs 0.7 s warm for the corpus-wide explode at
    sf0.1 — the vocab.py lesson, fixed here so every call site inherits
    it).  Results are bit-identical.
    """
    return F.expr(_word_shingles_sql(sql_ref(col), n))


def char_shingles(col: str, n: int = 8) -> Column:
    """Distinct sliding n-char substrings of the raw text.
    DuckDB twin: list_distinct(list_transform(range(1,
    greatest(length(x)-n+1,0)+1), i -> substr(x, i, n)))."""
    ref = sql_ref(col)
    return F.expr(
        f"array_distinct(CASE WHEN length({ref}) >= {n} THEN "
        f"transform(sequence(1, length({ref}) - {n - 1}), "
        f"i -> substring({ref}, i, {n})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END)"
    )


def repetition_ratio(col: str, n: int = 3) -> Column:
    """Fraction of repeated word n-grams: 1 - distinct/total (0 when
    fewer than n tokens).  The Gopher-style intra-document repetition
    signal (Rae et al. 2021, §A1.1 "repeated n-grams") — high values
    mean boilerplate/looping text a training pipeline drops.
    DuckDB twin: 1.0 - len(list_distinct(grams)) / greatest(len(toks)-n+1, 1)
    with grams = list_transform(range(1, greatest(len(toks)-n+1,0)+1),
    i -> array_to_string(toks[i:i+n-1], ' '))."""
    ref = sql_ref(col)
    total = f"greatest(size({_tokens_sql(ref)}) - {n - 1}, 0)"
    distinct = f"size({_word_shingles_sql(ref, n)})"
    return F.expr(
        f"CASE WHEN {total} > 0 THEN "
        f"1.0D - CAST({distinct} AS DOUBLE) / CAST({total} AS DOUBLE) "
        f"ELSE 0.0D END"
    )


def punct_ratio(col: str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    ref = sql_ref(col)
    n_punct = f"length(regexp_replace({ref}, {sql_str('[^.!?,;:]')}, ''))"
    return F.expr(
        f"CASE WHEN length({ref}) > 0 THEN "
        f"CAST({n_punct} AS DOUBLE) / CAST(length({ref}) AS DOUBLE) "
        f"ELSE 0.0D END"
    )


def _distinct_hits_sql(ref: str, stopwords: tuple[str, ...]) -> str:
    """size(array_intersect(distinct tokens, stopword array))."""
    return (
        f"size(array_intersect(array_distinct({_tokens_sql(ref)}), "
        f"{_sql_arr(stopwords)}))"
    )


def stopword_ratio(col: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Distinct stopwords present / distinct tokens (0 for empty)."""
    ref = sql_ref(col)
    nt = f"size(array_distinct({_tokens_sql(ref)}))"
    return F.expr(
        f"CASE WHEN {nt} > 0 THEN "
        f"CAST({_distinct_hits_sql(ref, stopwords)} AS DOUBLE)"
        f" / CAST({nt} AS DOUBLE) ELSE 0.0D END"
    )


def mean_word_len(col: str) -> Column:
    """Mean token length in characters (0 for empty text).  Integer
    length-sum + one double division, so Spark and DuckDB agree
    bit-for-bit.  DuckDB twin:
    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
    / CAST(len(toks) AS DOUBLE)."""
    t = _tokens_sql(sql_ref(col))
    total = f"aggregate({t}, 0, (acc, x) -> acc + length(x))"
    return F.expr(
        f"CASE WHEN size({t}) > 0 THEN "
        f"CAST({total} AS DOUBLE) / CAST(size({t}) AS DOUBLE) "
        f"ELSE 0.0D END"
    )


def alpha_word_frac(col: str) -> Column:
    """Fraction of tokens containing at least one letter (tokens are
    lower-cased by the tokenization contract, so [a-z] suffices).
    DuckDB twin: CAST(len(list_filter(toks, t ->
    regexp_matches(t, '[a-z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)."""
    t = _tokens_sql(sql_ref(col))
    hits = f"size(filter({t}, x -> x RLIKE '[a-z]'))"
    return F.expr(
        f"CASE WHEN size({t}) > 0 THEN "
        f"CAST({hits} AS DOUBLE) / CAST(size({t}) AS DOUBLE) "
        f"ELSE 0.0D END"
    )


def stopword_hits(col: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Count of distinct stopwords present in the text."""
    return F.expr(_distinct_hits_sql(sql_ref(col), stopwords))


#: Gopher rule bounds (Rae et al. 2021, §A1.1) — the published
#: document-quality filter thresholds a pre-training pipeline applies.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2

#: Gopher's published stop list (Rae et al. 2021 §A1.1: "contains at
#: least two of the following English words") — distinct from the
#: langid EN_STOPWORDS heuristic list above.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_pass(col: str) -> Column:
    """Boolean Gopher document filter: word count in [50, 100k], mean
    word length in [3, 10], >= 80% of words contain a letter, and
    >= 2 of Gopher's published 8 stopwords present.  The published
    repetition rules are exposed separately as ``repetition_ratio``.
    Known divergence from the paper: ``alpha_word_frac`` recognizes
    ASCII letters only ([a-z] on lower-cased tokens), so accented /
    non-Latin text largely fails the 0.8 alpha rule — acceptable for
    an English-corpus filter, wrong as a multilingual one.  All
    comparisons are on values computed identically in both engines,
    so the flag is oracle-exact."""
    wc = token_count(col)
    return (
        (wc >= GOPHER_MIN_WORDS)
        & (wc <= GOPHER_MAX_WORDS)
        & (mean_word_len(col) >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len(col) <= GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_word_frac(col) >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stopword_hits(col, GOPHER_STOPWORDS) >= GOPHER_MIN_STOPWORD_HITS)
    )


#: PII patterns (C4/Dolma-style pre-training scrub).  Kept to the
#: regex subset Java regex and RE2 interpret identically (character
#: classes, bounded quantifiers, \b ASCII word boundary) so a DuckDB
#: twin stays possible; replacement is a typed placeholder token.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # +15551234567 international or 555-123-4567 / 555.123.4567 US-style
    "phone": (
        r"\+[0-9]{7,15}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
        "<PHONE>",
    ),
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-type PII match counts (email, ipv4, phone), each computed
    on the text with all PRECEDING patterns' replacements applied —
    exactly the number of replacements ``redact_pii`` makes per type.
    (Counting every pattern on the raw text disagrees with sequential
    redaction: for 'x@1.2.3.4.com' the raw ipv4 count is 1 but the
    redactor consumes it as part of <EMAIL> — round-4 advice.)
    DuckDB twin: len(regexp_extract_all(t_i, pattern_i)) where t_i is
    the same nested regexp_replace(..., 'g') prefix chain."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    for name, (pat, repl) in PII_PATTERNS.items():
        out[name] = F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        c = F.regexp_replace(c, pat, repl)
    return out


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its typed placeholder, applied in
    PII_PATTERNS order (email first, so user@host is consumed before
    the ipv4 pattern can see a dotted quad inside a hostname).
    DuckDB twin: nested regexp_replace(..., 'g') in the same order."""
    c = F.col(col) if isinstance(col, str) else col
    for _name, (pat, repl) in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, repl)
    return c


def langid_scores(col: str) -> dict[str, Column]:
    """Distinct-stopword hit count per language."""
    ref = sql_ref(col)
    return {
        lang: F.expr(_distinct_hits_sql(ref, words))
        for lang, words in sorted(LANG_STOPWORDS.items())
    }


def langid(col: str) -> Column:
    """Argmax language with deterministic alphabetical tie-break."""
    ref = sql_ref(col)
    scores = {
        lang: _distinct_hits_sql(ref, words)
        for lang, words in sorted(LANG_STOPWORDS.items())
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    expr = "'und'"
    # reversed: earlier alphabetical language wins ties
    for lang in sorted(scores, reverse=True):
        expr = (
            f"CASE WHEN {scores[lang]} = {best} "
            f"THEN {sql_str(lang)} ELSE {expr} END"
        )
    return F.expr(f"CASE WHEN {best} > 0 THEN {expr} ELSE 'und' END")
