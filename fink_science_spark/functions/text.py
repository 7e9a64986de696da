"""Text-analysis kernel: tokenization, shingles, quality, language ID.

All builders are native Spark column expressions chosen so the duckdb
oracle can reproduce them exactly (same regexes, same null conventions).
The 100 TB rationale: text scoring is a narrow per-row map — no shuffle,
fully codegen'd, and the parquet scan reads only the ``text`` column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and engine-portable (plain IN-list membership).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

TOKEN_SEP_RE = "[^a-z0-9]+"  # applied after lower(); identical in Java & RE2


def tokens(col: Column | str) -> Column:
    """Whitespace/punctuation tokenization after lowercasing.

    lower → replace non-alnum runs with a space → trim → split → drop
    empties. Matches :func:`tokens_sql` byte-for-byte.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.trim(F.regexp_replace(F.lower(c), TOKEN_SEP_RE, " "))
    return F.filter(F.split(cleaned, " "), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    """duckdb equivalent of :func:`tokens`."""
    return (
        f"list_filter(string_split(trim(regexp_replace(lower({expr}), "
        f"'{TOKEN_SEP_RE}', ' ', 'g')), ' '), x -> x != '')"
    )


def word_shingles(tok: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a token array: space-joined windows of n
    consecutive tokens. Empty array when fewer than n tokens.

    Implementation: n bulk ``slice`` copies zipped with cheap string
    concats — measured ~5× faster than the per-window
    ``transform(sequence, i -> concat_ws(slice(t, i, n)))`` form (one
    interpreted array alloc per shingle) and byte-identical to it.
    ``zip_with`` folds right-associated: (t1, (t2, (... tn)))."""
    t = F.col(tok) if isinstance(tok, str) else tok
    count = F.size(t) - (n - 1)
    shifted = [F.slice(t, i + 1, count) for i in range(n)]
    joined = shifted[-1]
    for s in reversed(shifted[:-1]):
        joined = F.zip_with(s, joined, lambda x, y: F.concat(x, F.lit(" "), y))
    # NB: the count >= 1 guard keeps short docs empty (and keeps the
    # negative-length slices above unevaluated — CaseWhen branches are
    # lazy); duckdb's generate_series twin is empty there too.
    return F.when(count >= 1, joined).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(tokens_expr: str, n: int = 3) -> str:
    """duckdb equivalent of :func:`word_shingles` (list comprehension over
    generate_series; list_slice is 1-based inclusive)."""
    return (
        f"[array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ') "
        f"for i in generate_series(1, greatest(len({tokens_expr}) - {n - 1}, 0))]"
    )


def token_count(col: Column | str) -> Column:
    """Token count (whitespace+punct tokenizer)."""
    return F.size(tokens(col))


# BPE-style pre-tokenizer: letter runs, digit runs, and punctuation runs
# are separate tokens (the GPT-2-family pre-tokenization shape, ASCII
# classes only so Java and RE2 regex engines agree byte-for-byte).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization: split into letter/digit/punct runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_TOKEN_RE), 0)


def bpe_tokens_sql(expr: str) -> str:
    """duckdb equivalent of :func:`bpe_tokens`."""
    return f"regexp_extract_all(lower({expr}), '{BPE_TOKEN_RE}')"


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not [a-z0-9 ] after lowercasing."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    stripped = F.regexp_replace(low, "[^a-z0-9 ]", "")
    return F.when(F.length(low) > 0,
                  (F.length(low) - F.length(stripped)) / F.length(low)
                  ).otherwise(F.lit(0.0))


def stopword_ratio(tok: Column | str) -> Column:
    """Fraction of tokens that are stopwords; 0 for empty docs."""
    t = F.col(tok) if isinstance(tok, str) else tok
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return F.when(F.size(t) > 0, n_stop / F.size(t)).otherwise(F.lit(0.0))


def lang_scores(tok: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over the token array."""
    t = F.col(tok) if isinstance(tok, str) else tok

    def matcher(markers):
        return lambda x: x.isin(*markers)

    return {
        lang: F.size(F.filter(t, matcher(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(tok: Column | str) -> Column:
    """Argmax language by marker count with deterministic tie-break
    (alphabetical language code); 'und' when no marker hits."""
    scores = lang_scores(tok)
    # greatest marker count
    ordered = sorted(scores.items())  # alphabetical => deterministic ties
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # forward alphabetical fold with a STRICT '>': a later (larger) code
    # only displaces the running best when strictly higher, so the
    # alphabetically smaller code wins ties — and a 0-score language can
    # never displace 'und'. (The first cut iterated reversed() here,
    # which silently handed ties to the alphabetically LAST code; the
    # SQL twin in queries_text._lang_argmax_sql had the same inversion —
    # both fixed together, so parity holds through the change.)
    for lang, score in ordered:
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def rolling_fingerprint(tok: Column | str, window: int = 8) -> Column:
    """Document fingerprint: 60-bit hash of the first ``window`` tokens —
    a cheap content-defined prefix fingerprint for clustering near-identical
    heads. Deterministic and oracle-portable."""
    from fink_science_spark.functions.hashing import hash64

    t = F.col(tok) if isinstance(tok, str) else tok
    return hash64(F.concat_ws(" ", F.slice(t, 1, window)))


# --------------------------------------------------------------------------
# Training-data hygiene: PII redaction + repetition metrics
# --------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (duckdb) evaluate
# identically: plain character classes and bounded repeats — no
# lookaround, no backrefs, and notably no \b: Java's \b is Unicode-aware
# (no boundary between 'À' and '1') while RE2's is ASCII-only, so the
# two engines disagree on match extents next to non-ASCII letters.
# Order matters and is part of the contract: emails first (their digits
# must not be eaten by the phone pass), then IPs (dotted digits), then
# phones.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(col: Column | str) -> tuple[Column, dict[str, Column]]:
    """Sequential PII scrub (email → IP → phone): returns the redacted
    text column and per-kind match counts, each count taken on that
    stage's input (i.e. after earlier kinds were already replaced).
    Narrow codegen'd per-row maps — no shuffle, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    counts: dict[str, Column] = {}
    for kind, pat, token in PII_PATTERNS:
        counts[kind] = F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, token)
    return c, counts


def redact_pii_sql(expr: str) -> tuple[str, dict[str, str]]:
    """duckdb twin of :func:`redact_pii` (regexp_replace needs the 'g'
    flag there; Spark replaces all matches by default)."""
    counts: dict[str, str] = {}
    for kind, pat, token in PII_PATTERNS:
        counts[kind] = f"len(regexp_extract_all({expr}, '{pat}'))"
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr, counts


def repetition_metrics(tok: Column | str) -> dict[str, Column]:
    """Gopher-style repetition signals over a token array, all per-row
    native (no shuffle): n_tokens; uniq_ratio = |distinct|/n; dup_bigram
    ratio = 1 − |distinct bigrams|/|bigrams|; top_token_ratio = count of
    the most frequent token / n (O(distinct·n) per row via a transform
    over the distinct tokens — docs are bounded, this stays in codegen'd
    HOFs rather than paying a shuffle)."""
    t = F.col(tok) if isinstance(tok, str) else tok
    n = F.size(t)
    bi = word_shingles(t, 2)
    top = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda d: F.size(F.filter(t, lambda x: x == d)),
        )
    )
    # n == 0 guards (zero-token docs: empty / whitespace / punct-only
    # text): under ANSI mode a bare /n throws DIVIDE_BY_ZERO — surfaced
    # by the empty-input fuzz sweep, not by the corpus, whose docs all
    # tokenize non-empty. Ratios of an empty doc are defined as 0.0.
    return {
        "n_tokens": n,
        "uniq_ratio": F.round(
            F.when(n > 0, F.size(F.array_distinct(t)) / n).otherwise(0.0), 6
        ),
        "dup_bigram_ratio": F.round(
            F.when(
                F.size(bi) > 0,
                1.0 - F.size(F.array_distinct(bi)) / F.size(bi),
            ).otherwise(0.0),
            6,
        ),
        "top_token_ratio": F.round(
            F.when(n > 0, top / n).otherwise(0.0), 6
        ),
    }
