"""Text-analysis column expressions (all built-in, codegen-friendly).

Tokenization contract shared with the DuckDB oracles: single-space split
(``F.split(text, ' ')`` == ``string_split(text, ' ')``), so counts and
ratios are bit-identical across engines. Regex tokenizers use identical
patterns on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English function-word list for the n-gram/stopword language
# heuristic (public-knowledge stopwords, not tied to any external model).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_total_len(toks: Column) -> Column:
    """Sum of token lengths as BIGINT (exact, order-free).

    DuckDB twin: ``list_sum(list_transform(toks, t -> length(t)))``.
    """
    return F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def en_stopword_count(toks: Column) -> Column:
    """DuckDB twin: ``len(list_filter(toks, t -> t IN (...)))``."""
    return F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
