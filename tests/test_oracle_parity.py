"""Cross-engine arithmetic parity: the casts the oracle contract rests on.

Every declared query's hash-match depends on three primitives agreeing
bit-for-bit between Spark and DuckDB (queries/_util.py, functions/vector.py,
functions/text.py):

1. double → decimal(p,s) cast rounding,
2. exact decimal arithmetic (+, ×) and decimal ROUND,
3. decimal → double conversion.

These tests pin each primitive directly on adversarial values — halfway
points, negatives, float-noise neighbors — and on real testdata vectors, so
a future engine upgrade that changes any rounding rule fails HERE with a
readable diff instead of as an opaque hash mismatch in the driver.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from tests.conftest import SF_SMOKE

# Halfway-at-2dp points (x.xx5) sit where double→decimal rounding is
# ambiguous in principle; both engines round the double's TRUE binary value
# (not the decimal literal), so they must agree on every one of these.
_ADVERSARIAL = [
    0.005, 0.015, 0.025, 0.125, 1.005, 2.675, 0.735, 0.73935,
    -0.005, -1.005, -2.675, 999999999.995, 0.0, 1e-9, -1e-9,
    123456789.555, 0.555, 0.565, 0.575,
]


@pytest.mark.parametrize(
    ("typ", "int_digits"),
    [("DECIMAL(12,2)", 10), ("DECIMAL(10,5)", 5), ("DECIMAL(12,6)", 6)],
)
def test_double_to_decimal_cast_parity(spark, typ, int_digits):
    vals = [v for v in _ADVERSARIAL if abs(v) < 10 ** int_digits - 1]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r[0]
        for r in df.select(F.col("x").cast(typ.lower()).cast("string")).collect()
    ]
    con = duckdb.connect()
    try:
        want = [
            con.execute(f"SELECT CAST(CAST(? AS DOUBLE) AS {typ})::VARCHAR", [v]).fetchone()[0]
            for v in vals
        ]
    finally:
        con.close()

    def num(s):  # '0.50' == '0.5'
        return float(s)

    assert [num(g) for g in got] == [num(w) for w in want]


def test_decimal_round_half_up_parity(spark):
    """decimal ROUND(x, 4) — the quality_score terminal form: double →
    decimal(10,5) → ROUND 4 → double (functions/text.py)."""
    df = spark.createDataFrame([(v,) for v in _ADVERSARIAL], "x double")
    got = [
        r[0]
        for r in df.select(
            F.round(F.col("x").cast("decimal(15,5)"), 4).cast("double")
        ).collect()
    ]
    con = duckdb.connect()
    try:
        want = [
            con.execute(
                "SELECT CAST(ROUND(CAST(CAST(? AS DOUBLE) AS DECIMAL(15,5)), 4) AS DOUBLE)",
                [v],
            ).fetchone()[0]
            for v in _ADVERSARIAL
        ]
    finally:
        con.close()
    assert got == want


def test_exact_decimal_sum_and_product_parity(spark):
    """Σ decimal(12,2) and decimal×decimal over a pseudo-random money column:
    one aggregate compared across engines (exact arithmetic — any
    disagreement is a hard engine bug, not noise)."""
    vals = [((i * 7919) % 1000000 - 500000) / 100.0 for i in range(1, 5000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.select(
        F.sum(F.col("x").cast("decimal(12,2)")).cast("string").alias("s"),
        F.sum(
            (F.col("x").cast("decimal(12,2)") * F.lit(0.07).cast("decimal(3,2)"))
        )
        .cast("string")
        .alias("p"),
    ).collect()[0]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t AS SELECT unnest(?) AS x", [vals])
        want = con.execute(
            "SELECT CAST(SUM(CAST(x AS DECIMAL(12,2))) AS VARCHAR),"
            " CAST(SUM(CAST(x AS DECIMAL(12,2)) * CAST(0.07 AS DECIMAL(3,2))) AS VARCHAR)"
            " FROM t"
        ).fetchone()
    finally:
        con.close()
    assert float(got.s) == float(want[0])
    assert float(got.p) == float(want[1])


def test_exact_vector_dot_parity(spark, oracle_smoke):
    """functions/vector.py's exact (micro-unit) dot vs the oracle's
    list-decimal dot (queries/similarity.py _DU_DOT) on real sf0.001
    embeddings — the parity every X3/X4 declared query rests on."""
    from r_e_hive__spark.functions import vector as V

    emb = load_table(spark, SF_SMOKE, "embeddings").where(F.col("vec_id") < 12)
    n2 = V.norm2_units_sql(V.units_arr_sql("embedding"))
    got = {
        r.vec_id: r.d
        for r in emb.select(
            "vec_id", F.expr(f"CAST({n2} AS DOUBLE)").alias("d")
        ).collect()
    }
    want = {
        vid: d
        for vid, d in oracle_smoke.execute(
            "SELECT vec_id, CAST(list_sum(list_transform(range(1, len(embedding)+1),"
            " i -> CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6))"
            "      * CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6)))) AS DOUBLE)"
            " FROM embeddings WHERE vec_id < 12 ORDER BY vec_id"
        ).fetchall()
    }
    assert got == want
