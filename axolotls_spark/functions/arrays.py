"""Array / nested-data functions — reference ListColumn + functional.

The reference's one higher-order op, ``functional.transform``
(``functional/velox.py:11-18``), applies a function to a list
column's flattened child buffer and reuses the offsets — i.e.
element-wise map without exploding. Spark's higher-order functions
(``F.transform`` / ``F.filter`` / ``F.aggregate`` / ``F.zip_with``)
do exactly this inside Catalyst, no Python roundtrip, so they are the
canonical mapping. These helpers add the vector-math compositions the
embeddings workload needs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def transform(arr: Column, fn: Callable[[Column], Column]) -> Column:
    """Element-wise map over array elements (reference
    ``functional/velox.py:11-18``; in-place ``transform_`` at
    ``:6-8`` has no analogue — rebind)."""
    return F.transform(arr, fn)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays, accumulated in double,
    left-to-right (deterministic per-row order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two numeric arrays, accumulated in
    double, left-to-right (same per-row order as ``dot``)."""
    diff = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)


def norm(a: Column) -> Column:
    """L2 norm of a numeric array (double)."""
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm
    (SQL-domain semantics, see functions.scalar)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def ordered_pairs(arr: str, a: str, b: str) -> Column:
    """Every pair ``(arr[i], arr[j])`` with ``i < j`` of array column
    ``arr``, as an array of ``struct<a, b>`` — the per-row combination
    expansion behind bucket/posting-list pair generation. On a sorted,
    distinct array each unordered pair appears once with ``a < b``."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )


def let(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` with ``value`` computed once. Catalyst shares no
    subexpression inside a higher-order function: each read of an
    expression in ``fn`` recomputes it, once per element when the read
    sits in a lambda. Bound as the variable of a one-element
    ``transform``, ``value`` is computed once per evaluation and every
    read in ``fn`` is a variable lookup."""
    return F.element_at(F.transform(F.array(value), fn), 1)
