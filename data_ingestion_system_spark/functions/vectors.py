"""Vector column expressions (embedding similarity, north-star ops).

Cosine is computed in **double** precision with a strict left-to-right
fold over the elements — the same order and width DuckDB uses for
``list_dot_product`` on ``DOUBLE[]`` — so oracle comparisons are
bit-exact, not merely close.  Inputs are ``array<float>``; the cast to
``array<double>`` happens before any arithmetic (summing float32 would
accumulate engine-specific error).

All JVM-side (`F.zip_with` / `F.aggregate`): at 100 TB this is one
codegen'd pass per row, no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    a, b = as_double(a), as_double(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _dot_sql(a: str, b: str, dim: int) -> str:
    """SQL text of the unrolled left-associated dot product (the SQL
    parser's ``+`` is left-associative)."""
    return " + ".join(f"(({a})[{i}] * ({b})[{i}])" for i in range(dim))


def dot_fixed(a: str, b: str, dim: int) -> Column:
    """Unrolled dot product for a KNOWN dimension: ``a[0]*b[0] + ... +
    a[dim-1]*b[dim-1]`` as plain arithmetic over two SQL fragments
    (column names or expressions).

    Spark's higher-order ``aggregate``/``zip_with`` lambdas are evaluated
    *interpreted*, per element, outside whole-stage codegen — on millions
    of candidate pairs that is the dominant cost.  The unrolled form is
    ordinary expressions, fully codegen'd.  Left-associated addition keeps
    the fold order identical to ``dot()`` and to DuckDB's
    ``list_dot_product``, so oracle comparisons stay bit-exact.

    The operands are SQL fragments, not Columns (r9, measured):
    constructing ``3*dim`` Column objects costs one py4j round-trip
    each — ~0.6-1.2 s of pure driver time per cosine call site at
    dim=64 — while one ``F.expr`` string parses JVM-side in
    milliseconds (0-based ``[i]`` is GetArrayItem)."""
    return F.expr(_dot_sql(a, b, dim))


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """Codegen-friendly cosine for a known dimension (see dot_fixed)."""
    da = f"CAST({a} AS ARRAY<DOUBLE>)"
    db = f"CAST({b} AS ARRAY<DOUBLE>)"
    return F.expr(
        f"({_dot_sql(da, db, dim)}) / "
        f"(SQRT({_dot_sql(da, da, dim)}) * "
        f"SQRT({_dot_sql(db, db, dim)}))")
