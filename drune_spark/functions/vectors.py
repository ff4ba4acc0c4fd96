"""Vector column functions for embedding similarity (array<float/double>).

JVM-side higher-order functions: ``zip_with`` + ``aggregate`` compute dot
products / norms without leaving Tungsten. Sequential left-to-right
summation makes results bit-deterministic (same order on every executor),
which the DuckDB oracle reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    # Native element-wise Cast (whole-stage codegen), value-identical to
    # the former transform(x -> cast(x as double)) HOF — which evaluated
    # INTERPRETED per element (r5 HOF rule).
    return col.cast("array<double>")


def lit_double_array(values) -> Column:
    """array<double> literal in ONE py4j round-trip.

    Both ``F.array(*[F.lit(x) ...])`` and ``F.lit(list)`` (which pyspark
    classic expands to exactly that per-element loop internally) cost one
    py4j round-trip PER ELEMENT — measured 3.8 s of pure driver time for
    32×64 hyperplane literals per call site (the r10 ann_lsh build
    profile). One F.expr parse is ~100× cheaper and yields the same
    constant-folded literal. ``repr`` round-trips IEEE doubles exactly
    and the ``D`` suffix forces DOUBLE (not DECIMAL) literals, so the
    array is bit-identical to the per-element form."""
    body = ", ".join(f"{float(x)!r}D" for x in values)
    return F.expr(f"array({body})")


def lit_long_array(values) -> Column:
    """array<bigint> literal in ONE py4j round-trip (see
    ``lit_double_array`` — same per-element-loop pitfall)."""
    body = ", ".join(f"{int(x)}L" for x in values)
    return F.expr(f"array({body})")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_fixed_sql(a: str, b: str, dim: int) -> str:
    """SQL text for a known-width dot product with the EXACT FP op order
    of ``dot()``'s fold: ``((0.0 + a[1]*b[1]) + a[2]*b[2]) + ...`` —
    SQL ``+`` parses left-associative, so the addition sequence is
    bit-identical to the fold (acc = 0.0; acc = acc + x*y ascending).

    Why it exists: the ``aggregate``/``zip_with`` higher-order fold
    evaluates INTERPRETED — outside whole-stage codegen (the r5 HOF
    rule) — which dominates every pair-join similarity operator. A flat
    arithmetic chain over ``try_element_at`` is fully codegen'd.

    Semantics parity with the fold, case by case:
    - NULL array on either side → whole expression NULL (fold: aggregate
      over NULL is NULL; here: try_element_at(NULL,i) is NULL and NULL
      propagates through * and +).
    - length < dim on either side → NULL (fold: zip_with NULL-pads the
      shorter side, NULL poisons the running sum; here: try_element_at
      past the end is NULL — NOT the ANSI-throwing ``a[i]``).
    - length > dim on both sides: NOT equivalent (the fold would consume
      the extra elements) — callers pass the true element count, as they
      already do for every fixed-dim embedding op.

    ``a``/``b`` are SQL fragments (column names, possibly qualified like
    ``a.v``). One F.expr parse per call site — no per-element py4j
    round-trips (the r9 F.lit lesson).
    """
    terms = " + ".join(
        f"try_element_at({a}, {i}) * try_element_at({b}, {i})"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def cosine_fixed_sql(a: str, b: str, dim: int) -> str:
    """SQL text for a known-width cosine with ``cosine_similarity``'s
    exact structure: dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), each
    dot in fold order via ``dot_fixed_sql``. Bit-identical to the HOF
    form (and therefore to DuckDB list_cosine_similarity on DOUBLE[],
    the cross-round-proven parity)."""
    return (
        f"({dot_fixed_sql(a, b, dim)} / "
        f"(SQRT({dot_fixed_sql(a, a, dim)}) * "
        f"SQRT({dot_fixed_sql(b, b, dim)})))"
    )


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """Whole-stage-codegen cosine for fixed-width vectors; see
    ``cosine_fixed_sql`` for the bit-parity argument."""
    return F.expr(cosine_fixed_sql(a, b, dim))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
