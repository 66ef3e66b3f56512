"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.11 X3).

Every function here RENDERS a SQL fragment: operators know their input
column names, so a whole vector expression is built with one ``F.expr``
parse instead of hundreds of Column-API py4j round-trips (measured:
declared-query DataFrame construction was 0.4–2.3 s per bench rep at
~0.85 ms per round-trip — 30–60 % of several sub-second benched rows).
Arguments are SQL fragments: a quoted column name
(``functions.sql_ident``) or a nested renderer call, never Column objects.
A caller that needs a Column wraps the fragment: ``F.expr(dot_sql(a, b))``.

Two precision modes:

- ``dot_sql``/``norm_sql``/``cosine_sql`` — plain double math via
  ``zip_with`` + a sequential ``aggregate`` fold: fastest, what production
  similarity search uses.
- the exact (micro-unit) family — each element is rounded to
  decimal(12,6) through float → double → decimal (the only cast chain that
  is bit-identical across engines; Spark rounds the double's shortest
  decimal rendering HALF_UP), and the dot product is the EXACT sum of the
  rounded products as decimal(38,12): order-independent and therefore
  hash-stable against the DuckDB oracle.  Used by the declared correctness
  queries.

All of these are built-in higher-order functions — JVM-side, no Python UDF,
no data movement to the driver.  tests/test_vector_units.py pins every
renderer against a pure-Python reference (``decimal`` for the exact mode,
a sequential IEEE fold for the double mode) on adversarial rows.
"""

from __future__ import annotations

DEC = "decimal(12,6)"

# Micro-units of the decimal(12,6) quantization: every element value is an
# exact integer multiple of 1e-6 after el_sql(), so it carries losslessly as
# ``value * 10^6`` in a BIGINT — the fixedpoint.py money discipline applied
# to vectors.
UNIT_SCALE = 10**6


# ---------------------------------------------------------------------------
# Integer-units formulation of the exact mode.
#
# The definition is the decimal one above: Σ dec(a_i)·dec(b_i) in
# decimal(38,12).  Multiplying decimal(12,6) elements (BigDecimal allocation
# each) through an interpreted decimal fold was the dominant cost of every
# exact pair stage (x17's in-cluster join, x3's scan, x4's verify), so the
# renderers compute the SAME rational number in plain BIGINT arithmetic and
# convert ONCE at the end:
#
#   units(x)   = dec(x) * 10^6            (exact: dec(x) is a 6-dp decimal)
#   dot units  = Σ units(a_i)·units(b_i)  (exact integer, scale 10^12)
#   result     = decimal(25,0)(Σ) × 0.000000000001::decimal(12,12)
#              → decimal(38,12), the exact decimal dot's type and value,
#                so every downstream cast("double") / comparison / ROUND
#                sees the decimal definition's number.
#
# Equivalence: integer addition is associative and exact, so the long sum
# equals the decimal sum's unscaled value by construction.  NULL semantics:
# NULL element → NULL product → NULL sum; zip_with pads a length mismatch
# with NULL → NULL; empty array → 0.  Measured at sf0.1 (250k in-cluster
# pairs, dim 64): 7.6 s → 2.5 s on the declared x17 query, outputs
# identical.
#
# Overflow bound (the loud-failure contract): |units| < 10^6·|x|, so a
# dim-64 dot stays under the BIGINT ceiling while |x| ≤ ~379; unit-norm
# embeddings (every corpus here) sit 2-6 orders below.  Overflow raises
# under ANSI mode (session default) instead of corrupting.
# ---------------------------------------------------------------------------


def el_sql(x: str) -> str:
    """float → double → decimal(12,6): the exact mode's element rounding."""
    return f"CAST(CAST({x} AS DOUBLE) AS {DEC})"


def units_el_sql(x: str) -> str:
    """One element → exact micro-units (BIGINT) of its el_sql() rounding."""
    return f"CAST({el_sql(x)} * {UNIT_SCALE} AS BIGINT)"


def units_arr_sql(col: str) -> str:
    """array<float/double> → array<long> of exact micro-units (one decimal
    cast per element per ROW — hoist this to a column so O(pairs) dots reuse
    it; the transform is interpreted but linear)."""
    return f"transform({col}, _ux -> {units_el_sql('_ux')})"


def units_lit_sql(values) -> str:
    """Foldable literal unit array for a Python float vector (frozen
    centroids / planes).  Each element rides the exact chain units_el_sql
    applies to data (the repr() string → double parse is exact), so
    literal and data-side quantization cannot drift."""
    els = ",".join(
        units_el_sql(f"CAST('{float(x)!r}' AS DOUBLE)") for x in values
    )
    return f"array({els})"


def lit_vec_sql(values) -> str:
    """Foldable literal array<double>: CAST from the repr() string is
    exact, and the cast constant-folds to the same double."""
    els = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in values)
    return f"array({els})"


def dot_units_sql(ua: str, ub: str) -> str:
    """Exact decimal(38,12) dot product from two unit arrays: BIGINT fold +
    ONE terminal conversion (CAST to decimal(25,0) times the 1e-12
    decimal(12,12) literal — no division, which would widen precision)."""
    s = (
        f"aggregate(zip_with({ua}, {ub}, (_dx, _dy) -> _dx * _dy), "
        f"CAST(0 AS BIGINT), (_da, _dv) -> _da + _dv)"
    )
    return f"(CAST({s} AS DECIMAL(25,0)) * CAST('0.000000000001' AS DECIMAL(12,12)))"


def norm2_units_sql(ua: str) -> str:
    """Exact decimal sum of squares from a unit array."""
    return dot_units_sql(ua, ua)


def cosine_units_sql(ua: str, ub: str) -> str:
    """Exact-mode cosine from two unit arrays, finished in double: the
    decimal → double conversions and the final double ops are IEEE-fixed
    given identical inputs.  NULL (not error/NaN) for zero vectors."""
    den = (
        f"SQRT((CAST({norm2_units_sql(ua)} AS DOUBLE) "
        f"* CAST({norm2_units_sql(ub)} AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {den} > 0 THEN "
        f"CAST({dot_units_sql(ua, ub)} AS DOUBLE) / {den} END"
    )


def dot_sql(a: str, b: str) -> str:
    """Double-precision dot product (production fast path)."""
    return (
        f"aggregate(zip_with({a}, {b}, (_dx, _dy) -> "
        f"CAST(_dx AS DOUBLE) * CAST(_dy AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (_da, _dv) -> _da + _dv)"
    )


def norm_sql(a: str) -> str:
    return f"SQRT({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Double-precision cosine.  A zero vector has no direction: cosine is
    NULL, not a divide-by-zero (hard error under Spark 4 default ANSI) or
    NaN — NULL sorts last under the desc top-k orderings downstream."""
    den = f"({norm_sql(a)} * {norm_sql(b)})"
    return f"CASE WHEN {den} > 0 THEN ({dot_sql(a, b)} / {den}) END"
