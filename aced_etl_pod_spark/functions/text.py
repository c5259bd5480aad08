"""Text-analysis column builders (north-star extension: text pipeline ops).

All pure Catalyst expressions (split/regexp/transform) — no Python in the
hot path, so a 100 TB documents scan stays inside whole-stage codegen.
Helpers that need lambda expressions take SQL *expression strings* (column
names or sub-expressions) and return Columns via ``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NORMALIZE_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', ''), ' +', ' '))"
)


def normalize(col: Column) -> Column:
    """lower → strip non-alnum → collapse whitespace → trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.regexp_replace(c, r" +", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(col, " ")


def ws_token_count(col: Column | str) -> Column:
    """NULL-safe whitespace token count: NULL text → NULL token count.

    Non-ANSI Spark's ``size(split(NULL))`` is **-1** (the legacy
    sizeOfNull), which silently POISONS averages, packing offsets, and
    sequence bounds; DuckDB's ``len(string_split(NULL))`` is NULL and
    drops out of aggregates. Every token-counting operator routes
    through this guard so null documents count toward row counts but
    never toward token arithmetic (found by ``tools/sweep.py --kind null``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.size(F.split(c, " ")))


def ngrams_expr(tokens_expr: str, n: int) -> Column:
    """Word n-grams (joined by spaces) from a token-array SQL expression.

    1-based ``element_at`` so the same formula reads identically in the
    DuckDB oracle (``t[i + k]``).

    ``tokens_expr`` is bound ONCE per row via a single-element-array lambda
    (``transform(array(e), __t -> …)``): lambda arguments evaluate once, so
    an expensive tokenization (normalize + split) is not re-evaluated inside
    every ``element_at`` — inlining it there made shingling O(tokens²) work
    per document (measured 57 s for 5 000 sf0.1 docs; ~1 s bound). A plain
    intermediate column would risk being re-inlined by CollapseProject;
    the lambda binding is optimizer-proof and keeps this a pure expression.

    Short inputs (< n tokens) produce an EMPTY gram array via the explicit
    if-branch: ``sequence(1, 0)`` can NOT be used as the empty case because
    Spark's sequence auto-descends (``sequence(1, 0) = [1, 0]``), which
    feeds ``element_at(__t, 0)`` → INVALID_INDEX_OF_ZERO at runtime.
    """
    grams = ", ".join(f"element_at(__t, i + {k})" for k in range(n))
    return F.expr(
        f"element_at(transform(array({tokens_expr}), __t -> "
        f"if(size(__t) >= {n}, "
        f"transform(sequence(1, size(__t) - {n - 1}), "
        f"i -> concat_ws(' ', {grams})), "
        f"cast(array() as array<string>))), 1)"
    )


def word_shingles_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a raw text column (by name),
    normalized first."""
    tok = f"split({NORMALIZE_SQL.format(col=text_col)}, ' ')"
    return F.array_distinct(ngrams_expr(tok, n))
