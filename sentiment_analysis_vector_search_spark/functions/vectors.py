"""Vector math as JVM-side higher-order functions (no Python in the loop).

Dot products use a sequential left fold (``aggregate`` over a ``zip_with``
product) over ``array<double>`` so accumulation order is fixed — the DuckDB oracle's
``list_dot_product`` over ``DOUBLE[]`` accumulates in the same order, keeping
cross-engine results bit-stable (outputs are additionally rounded to 6dp).
:func:`dot_expr` is the one spelling of that fold; :func:`dot` is its Column.

Seeded random hyperplanes (sign-LSH) are generated once and embedded as the
*same decimal literal strings* into both the Spark plan and the oracle SQL,
so both engines parse identical doubles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_expr(a: str, b: str) -> str:
    """Spark SQL text of the left-fold dot product of two array<double>
    expressions (for use inside larger SQL expressions)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"


def dot(a: str, b: str) -> Column:
    """Left-fold dot product of two array<double> SQL expressions."""
    return F.expr(dot_expr(a, b))


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[str]]:
    """Seeded Gaussian hyperplanes as repr() literal strings (round-trip exact)."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    return [[repr(float(c)) for c in p] for p in planes]


def sql_plane_dot(vec_expr: str, plane: list[str]) -> str:
    arr = "[" + ", ".join(plane) + "]"
    return f"list_dot_product({vec_expr}, {arr})"
