"""Shared text/n-gram column helpers used by the engine (curation, stream
ingest) and by the dedup and text-analysis query modules."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(expr: Column, body: Callable[[Column], Column]) -> Column:
    """Let-binding for Spark column expressions: evaluate `expr` ONCE
    per row and pass it to `body` as a bound lambda variable.

    Why this exists (round-8 second-decade finding, PLANS.md): indexing
    an INLINE array expression from a higher-order-function lambda —
    the `w[i + j]`-inside-`transform(ngram_indices(w, n), ...)` shape
    every n-gram builder here used — re-evaluates the full expression
    (the whole regexp split of the document) on EVERY array access,
    turning each gram build into O(words²) per document. Measured at
    synth-sf10: the word-trigram shingle explode alone cost 41.3 s
    inline vs 1.40 s bound (holdout_novelty_scan's 5-gram build: 86 s
    inline, 2.8 s). Catalyst's CSE does not reach across lambda
    iterations, and CollapseProject happily inlines a single-consumer
    alias back into the lambda — but a lambda VARIABLE is a bound
    attribute, evaluated exactly once when `transform` materializes
    its input. Wrapping `expr` as the sole element of a 1-element
    array and lambda-binding it costs one array allocation per row and
    keeps every helper expression-valued (no dataflow/staging changes
    at call sites).
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def ngram_indices(w: Column, n: int) -> Column:
    """Start indices 0..size(w)-n (inclusive) of the n-grams of token
    array `w`; EMPTY for documents shorter than n tokens.

    The naive `sequence(0, size(w)-n)` is wrong for short docs: Spark's
    sequence() steps DOWNWARD when start > stop (sequence(0,-1) =
    [0,-1], not []), and the subsequent w[i+n-1] access then throws
    INVALID_ARRAY_INDEX under Spark 4's default ANSI mode — any 1-2
    token document would abort the whole query. The DuckDB oracles'
    range(greatest(len(w)-(n-1), 0)) is empty for short docs; this
    matches.
    """
    return F.when(F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)).otherwise(
        F.array().cast("array<int>")
    )


def words(text: Column) -> Column:
    """Whitespace tokens of ``text``: ASCII-space trim, split on ``\\s+``,
    empty tokens dropped."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != "")


def canonical_hash(w: Column) -> Column:
    """The canonical document hash: md5 of the word array ``w`` (see
    `words`) lower-cased and joined by single spaces. Exact dedup keeps
    one document per hash, and ``--state-path`` tables and the stream
    ingest index store it, so its value must never change."""
    return F.md5(F.concat_ws(" ", F.transform(w, F.lower)))
