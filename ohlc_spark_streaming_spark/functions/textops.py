"""Text-analysis expressions: tokenization, n-grams, quality features.

Whitespace tokenization is the contract (matches DuckDB ``string_split``
exactly, including empty-string behavior on clean single-spaced text); a
BPE-ish regex tokenizer is provided for token counting where subword-like
granularity is wanted. Everything is built-in column expressions — narrow,
codegen'd, shuffle-free until an explicit aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed stopword list for quality scoring (shared with the oracle SQL).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: BPE-ish word/number/punctuation splitter for token counting: words,
#: digit runs, or single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col) -> Column:
    """Whitespace tokens (the cross-engine tokenization contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def bigrams_col(toks: Column) -> Column:
    """Space-joined token bigrams via zip_with over two aligned slices.

    NOT get()-by-index over a sequence: positional get() is O(n) per
    lookup inside codegen, making the build O(n²) per document (the
    lm_bigram 9x lesson); the slice zip is linear. Documents with fewer
    than 2 tokens yield an empty array (matching the oracles' empty
    range), and the guard keeps the slice lengths non-negative."""
    n = F.size(toks)
    ln = F.greatest(n - 1, F.lit(0))
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, ln),
            F.slice(toks, 2, ln),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def trigrams_col(toks: Column) -> Column:
    """Space-joined token trigrams — same linear slice-zip layout as
    :func:`bigrams_col` (concat_ws is associative over non-null strings,
    so the two-step join equals the three-argument one)."""
    n = F.size(toks)
    ln = F.greatest(n - 2, F.lit(0))
    return F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(toks, 1, ln),
                F.slice(toks, 2, ln),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(toks, 3, ln),
            lambda ab, c: F.concat_ws(" ", ab, c),
        ),
    ).otherwise(F.array().cast("array<string>"))

