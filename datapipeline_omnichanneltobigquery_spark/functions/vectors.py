"""Vector math over ``array<float>`` columns, built as Spark SQL text.

Each function renders its whole expression as one SQL string for a single
``F.expr``: a 64-term chain costs one parse on the driver instead of
several py4j round trips per term.  An operand is a column name or a
Python sequence of floats (a query vector), spliced in as exact double
literals (:func:`sql_double`) — one scalar per term of a static chain.

* ``dim=None``: ``aggregate(zip_with(a, b, …), 0D, (acc, v) -> acc + v)`` —
  a higher-order left fold.  Correct for any length, but higher-order
  lambdas are *interpreted* per element (no WholeStageCodegen) — fine for
  one query vector, slow for all-pairs workloads.
* ``dim=K`` (statically known): the unrolled ``a[1]*b[1] + … + a[K]*b[K]``
  — plain arithmetic that compiles into WholeStageCodegen, ~1-2 orders of
  magnitude faster in pairwise joins.  Left-associated addition evaluates
  in exactly the fold's order (and ``0.0 + p1 == p1`` in IEEE), so both
  forms and the DuckDB oracle construction
  ``list_sum(list_transform(range(1,K+1), i -> CAST(a[i] AS DOUBLE) * …))``
  are bitwise-identical.

Elements are upcast to double before multiply/accumulate: float32 inputs →
exact float64 products → reproducible sums to the last ulp.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

#: a column name, or a vector given as Python floats
Operand = str | Sequence[float]


def sql_double(v: float) -> str:
    """Exact Spark SQL double literal for ``v``.  ``repr`` is the shortest
    string that round-trips binary64, and the string-to-double cast parses
    it back to the same bits — ``nan``, ``inf``, ``-inf`` and ``-0.0``
    included, which a ``1.5D`` literal cannot spell."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _array(a: Operand) -> str:
    if isinstance(a, str):
        return "`" + a.replace("`", "``") + "`"
    return "array(%s)" % ", ".join(map(sql_double, a))


def _elem(a: Operand, i: int) -> str:
    """Element ``i`` (1-based) of ``a`` as a double."""
    if isinstance(a, str):
        return f"CAST(element_at({_array(a)}, {i}) AS DOUBLE)"
    return sql_double(a[i - 1])


def _dot(a: Operand, b: Operand, dim: int | None) -> str:
    if dim is None:
        return (
            f"aggregate(zip_with({_array(a)}, {_array(b)},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
        )
    return " + ".join(f"{_elem(a, i)} * {_elem(b, i)}" for i in range(1, dim + 1))


def _norm(a: Operand, dim: int | None) -> str:
    return f"sqrt({_dot(a, a, dim)})"


def dot(a: Operand, b: Operand, dim: int | None = None) -> Column:
    """Ordered dot product of two equal-length float vectors (see module
    docstring for the dim=None vs static-dim trade-off)."""
    return F.expr(_dot(a, b, dim))


def l2_norm(a: Operand, dim: int | None = None) -> Column:
    return F.expr(_norm(a, dim))


def cosine(a: Operand, b: Operand, dim: int | None = None) -> Column:
    """Cosine similarity; NULL-safe only as far as the inputs are."""
    return F.expr(f"({_dot(a, b, dim)}) / ({_norm(a, dim)} * {_norm(b, dim)})")


def norm_unit(a: Operand, dim: int | None = None) -> Column:
    """L2-normalize an array<float> to array<double> (pre-normalizing the
    corpus once turns every cosine into a plain dot at query time — the
    O(n) norms instead of O(n²) trick for pairwise workloads).

    The norm is materialized ONCE per row via ``array_repeat`` and zipped
    against the elements: the earlier ``transform(a, x -> x / n)`` form
    captured the whole norm chain inside the lambda, and higher-order
    lambdas are interpreted per element — the 64-term chain re-evaluated
    64× per row measured ~10× slower on a corpus normalize.  Rows are
    fixed-``dim`` by contract when ``dim`` is static."""
    reps = dim if dim is not None else f"size({_array(a)})"
    return F.expr(
        f"zip_with({_array(a)}, array_repeat({_norm(a, dim)}, {reps}),"
        " (x, nn) -> CAST(x AS DOUBLE) / nn)"
    )


def sq_dist(a: Operand, b: Operand, dim: int) -> Column:
    """Ordered-chain squared L2 distance of two ``dim``-element vectors —
    (x-y) is computed once per term and squared by multiplication (sub,
    sub, mul: no a*b-c*d shape, so neither engine can FMA-contract)."""
    diffs = (f"({_elem(a, i)} - {_elem(b, i)})" for i in range(1, dim + 1))
    return F.expr(" + ".join(f"{d} * {d}" for d in diffs))
