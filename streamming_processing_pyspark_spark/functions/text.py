"""Text-analysis column builders — Catalyst-only (no Python UDFs).

Everything here is expressed with Spark's built-in higher-order array /
string functions (``split``, ``filter``, ``transform``, ``aggregate``), so
the hot path stays inside whole-stage codegen — the right posture for a
100 TB documents table. Each builder has a mirrored DuckDB SQL form in
:mod:`..operators.text` for the oracle.

Generalizes the reference's only text op (socket word count,
reference ``Client.py:22-24``) into a library: tokenization, token counting,
quality scoring, language ID (stopword heuristic), and position-weighted
document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Order matters: ties break in this order.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "es": ("el", "los", "las", "y", "es", "si", "una"),
}

FINGERPRINT_MOD = 1_000_003

#: modulus of the portable affine-fold hash (:func:`fold_hash`)
HASH_MOD = 1_000_000_007


def fold_hash(col: Column | str, seed: int = 0) -> Column:
    """SQL-portable string hash in [0, HASH_MOD): fold each character's
    code into an affine accumulator, ``acc·31 + ascii(c) mod HASH_MOD``,
    starting at ``7 + seed``. ``col`` is a Column or a SQL expression
    string. Production would use xxhash64; the portable form makes every
    hash-derived assignment oracle-checkable (:func:`fold_hash_duck` is
    the DuckDB mirror)."""
    return F.aggregate(
        F.split(F.expr(col) if isinstance(col, str) else col, ""),
        F.lit(7 + seed).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % HASH_MOD,
    )


def fold_hash_duck(s: str, seed: str | None = None) -> str:
    """DuckDB mirror of :func:`fold_hash` over the string SQL expression
    ``s``; ``seed`` is a SQL expression added to the start."""
    start = "7" if seed is None else f"7 + {seed}"
    return (
        f"list_reduce(list_prepend(CAST({start} AS BIGINT),"
        f" list_transform(string_split_regex({s}, ''),"
        " c -> CAST(ascii(c) AS BIGINT))),"
        f" (a, b) -> (a * 31 + b) % {HASH_MOD})"
    )


def words(text: Column | str) -> Column:
    """Whitespace tokens (regex split of trimmed text — no empty tokens)."""
    return F.split(F.trim(text), r"\s+")


def raw_tokens(text: Column | str) -> Column:
    """Reference Client.py semantics: split on single space, empties kept."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(words(text))


def stopword_hits(text: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens that are in the stopword set — higher-order filter,
    evaluated JVM-side."""
    in_list = ", ".join(f"'{w}'" for w in stopwords)
    col = text if isinstance(text, str) else None
    expr = f"size(filter(split(trim({col}), '\\\\s+'), w -> w IN ({in_list})))"
    if col is None:
        raise TypeError("stopword_hits needs a column *name* for codegen")
    return F.expr(expr)


def lang_scores(text_col: str) -> list[Column]:
    return [
        stopword_hits(text_col, sw).alias(f"hits_{lang}")
        for lang, sw in LANG_STOPWORDS.items()
    ]


def lang_pick_expr() -> Column:
    """Argmax over hits_{lang} columns with deterministic tie-break order."""
    langs = list(LANG_STOPWORDS)
    expr = F.lit(langs[-1])
    # build CASE from last to first so earlier langs win ties
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def alpha_ratio(text_col: str) -> Column:
    """Fraction of characters that are a-z (regexp strip, JVM-side)."""
    kept = F.length(F.regexp_replace(F.col(text_col), "[^a-z]", ""))
    return F.round(kept / F.length(text_col), 4)


def fingerprint(text_col: str) -> Column:
    """Position-weighted polynomial fingerprint of the token stream.

    ``sum_i (i+1) * (31*len(w_i) + ascii(w_i[0])) mod 1000003`` — a
    deterministic document fingerprint computed entirely with higher-order
    functions (transform-with-index + aggregate), no Python.
    """
    return F.expr(
        f"aggregate(transform(split(trim({text_col}), '\\\\s+'), "
        "(w, i) -> cast(i + 1 as bigint) * "
        "(31 * length(w) + coalesce(ascii(substring(w, 1, 1)), 0))), "
        f"cast(0 as bigint), (acc, x) -> acc + x) % {FINGERPRINT_MOD}"
    )
