"""functions/vector.py renderers and the centroid scorers pinned against
independent pure-Python references on adversarial rows (NULL vectors, NULL
elements, length mismatches, empty arrays, zero vectors, half-ulp rounding
boundaries, signed zeros, large magnitudes near the documented bound).

The exact mode's reference is Python ``decimal`` replaying Spark's
double→decimal(12,6) cast: the double's SHORTEST rendering (``repr``),
rounded HALF_UP, then an exact integer sum of micro-unit products.  The
double mode's reference is a sequential IEEE fold in Python floats (the
same operation order as ``aggregate``), compared BITWISE via ``repr`` so a
signed zero or a last-ulp drift fails.  The declared x3/x17/x25/x4 oracles
verify the same arithmetic end-to-end on the fixture corpus; this file
covers the edge classes the corpus does not contain."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.functions import vector as V

ADVERSARIAL = [
    # (id, vector)
    (0, [0.1, -0.2, 0.3]),
    (1, [1.0, 1.0, 1.0]),
    (2, [0.0, 0.0, 0.0]),                      # zero vector
    (3, None),                                  # NULL vector
    (4, [0.5, None, 0.25]),                     # NULL element
    (5, [0.0000005, -0.0000005, 0.00000049]),   # half-ulp-at-6dp boundary
    (6, [1 / 3, -2 / 3, 2 / 7]),                # non-terminating binary
    (7, [-0.0, 0.0, -0.0]),                     # signed zeros
    (8, [300.123456, -299.999999, 123.4567891]),  # large but in-bound
    (9, [1e-7, -1e-7, 9.9e-7]),                 # sub-quantum values
    (10, [0.5, 0.25]),                          # short (length mismatch)
    (11, []),                                   # empty
    (12, [0.0000015, -0.0000025, 2.5e-6]),      # more HALF_UP ties
]

_Q6 = Decimal("0.000001")


def ref_units(x):
    """Spark's CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)) in micro-units:
    shortest rendering of the double, rounded HALF_UP."""
    if x is None:
        return None
    return int(Decimal(repr(float(x))).quantize(_Q6, ROUND_HALF_UP).scaleb(6))


def ref_units_arr(v):
    return None if v is None else [ref_units(x) for x in v]


def _zipped(a, b):
    """zip_with semantics: NULL array → NULL; the shorter side pads with
    NULL; any NULL product makes the fold NULL."""
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    pairs = [
        (a[i] if i < len(a) else None, b[i] if i < len(b) else None)
        for i in range(n)
    ]
    if any(x is None or y is None for x, y in pairs):
        return None
    return pairs


def ref_dot_units(ua, ub):
    """Exact decimal(38,12) dot of two micro-unit arrays."""
    pairs = _zipped(ua, ub)
    if pairs is None:
        return None
    return Decimal(sum(x * y for x, y in pairs)).scaleb(-12)


def ref_cosine_units(ua, ub):
    n2a, n2b = ref_dot_units(ua, ua), ref_dot_units(ub, ub)
    if n2a is None or n2b is None:
        return None
    den = math.sqrt(float(n2a) * float(n2b))
    if not den > 0:
        return None
    d = ref_dot_units(ua, ub)
    return None if d is None else float(d) / den


def ref_dot(a, b):
    """Sequential double fold, the order ``aggregate`` uses."""
    pairs = _zipped(a, b)
    if pairs is None:
        return None
    acc = 0.0
    for x, y in pairs:
        acc = acc + float(x) * float(y)
    return acc


def ref_norm(a):
    d = ref_dot(a, a)
    return None if d is None else math.sqrt(d)


def ref_cosine(a, b):
    na, nb = ref_norm(a), ref_norm(b)
    d = ref_dot(a, b)
    if d is None or na is None or nb is None or not na * nb > 0:
        return None
    return d / (na * nb)


def _same(got, want):
    """Bitwise equality for doubles (repr tells -0.0 from 0.0), value
    equality otherwise."""
    if isinstance(want, float) or isinstance(got, float):
        return repr(got) == repr(want)
    return got == want


def _frame(spark):
    return spark.createDataFrame(ADVERSARIAL, "id BIGINT, v ARRAY<DOUBLE>")


def _pairs(spark):
    """Every (a, b) pair of adversarial rows: (ia, v, ib, w)."""
    df = _frame(spark)
    a = df.select(F.col("id").alias("ia"), "v")
    b = df.select(F.col("id").alias("ib"), F.col("v").alias("w"))
    return a.crossJoin(b)


def test_dot_units_sql_matches_decimal_reference(spark):
    """The exact dot (as decimal and as its terminal double) and the exact
    cosine over every pair of adversarial rows, against the Python decimal
    replay."""
    ua, uw = V.units_arr_sql("v"), V.units_arr_sql("w")
    dot = V.dot_units_sql(ua, uw)
    rows = _pairs(spark).select(
        "ia",
        "ib",
        F.expr(dot).alias("d"),
        F.expr(f"CAST({dot} AS DOUBLE)").alias("dd"),
        F.expr(V.cosine_units_sql(ua, uw)).alias("cos"),
    ).collect()
    vecs = dict(ADVERSARIAL)
    assert len(rows) == len(ADVERSARIAL) ** 2
    for r in rows:
        ra, rb = ref_units_arr(vecs[r["ia"]]), ref_units_arr(vecs[r["ib"]])
        want = ref_dot_units(ra, rb)
        assert r["d"] == want, (r["ia"], r["ib"], r["d"], want)
        want_d = None if want is None else float(want)
        assert _same(r["dd"], want_d), (r["ia"], r["ib"], r["dd"], want_d)
        want_c = ref_cosine_units(ra, rb)
        assert _same(r["cos"], want_c), (r["ia"], r["ib"], r["cos"], want_c)


def test_dot_units_type_matches_spec(spark):
    """The exact dot keeps the decimal definition's type, decimal(38,12),
    so downstream casts and ROUNDs see the same number."""
    out = _frame(spark).select(
        F.expr(V.dot_units_sql(V.units_arr_sql("v"), V.units_arr_sql("v"))).alias("d"),
        F.expr(V.norm2_units_sql(V.units_arr_sql("v"))).alias("n2"),
    )
    assert dict(out.dtypes) == {"d": "decimal(38,12)", "n2": "decimal(38,12)"}


def test_units_lit_matches_data_side_quantization(spark):
    """units_lit_sql (one parsed literal per frozen vector) must quantize
    exactly like units_arr_sql applied to the same values arriving as data
    — otherwise centroid assignment could diverge from the oracle's replay
    — and both must equal the decimal reference."""
    vals = [0.1, -0.2, 1 / 3, 0.0000005, -0.0000005, 1e-7, 300.1234565, -0.0]
    data = spark.createDataFrame([(vals,)], "v ARRAY<DOUBLE>")
    r = data.select(
        F.expr(V.units_lit_sql(vals)).alias("lit"),
        F.expr(V.units_arr_sql("v")).alias("data"),
    ).collect()[0]
    assert list(r["lit"]) == list(r["data"]) == ref_units_arr(vals)


def test_units_arr_sql_float_input_rounds_via_double(spark):
    """Embedding columns are array<float>: the chain goes float → double →
    decimal, so the rounding sees the shortest rendering of the float's
    exact DOUBLE value (float32 5e-7 is 4.999999987376214e-07 → 0 units),
    never the float's own shorter rendering ('5.0E-7', which would round
    to 1 unit)."""
    vals = [5e-7, 0.1, -1.5e-6, 2.5e-6, 1 / 3]
    r = spark.createDataFrame([(vals,)], "v ARRAY<FLOAT>").select(
        F.expr(V.units_arr_sql("v")).alias("u")
    ).collect()[0]
    want = [ref_units(float(np.float32(x))) for x in vals]
    assert list(r["u"]) == want
    assert want[0] == 0


def test_sql_renderers_match_python_reference(spark):
    """Per row: units_arr, norm2_units and the double norm; per pair of
    adversarial rows: the double dot and cosine — all against the Python
    references, doubles compared bitwise."""
    ua = V.units_arr_sql("v")
    cases = {
        "units": (F.expr(ua), lambda v, w: ref_units_arr(v)),
        "n2u": (
            F.expr(V.norm2_units_sql(ua)),
            lambda v, w: ref_dot_units(ref_units_arr(v), ref_units_arr(v)),
        ),
        "norm": (F.expr(V.norm_sql("v")), lambda v, w: ref_norm(v)),
        "dot": (F.expr(V.dot_sql("v", "w")), ref_dot),
        "cos": (F.expr(V.cosine_sql("v", "w")), ref_cosine),
    }
    rows = _pairs(spark).select(
        "ia", "ib", *[col.alias(name) for name, (col, _) in cases.items()]
    ).collect()
    vecs = dict(ADVERSARIAL)
    assert len(rows) == len(ADVERSARIAL) ** 2
    for r in rows:
        v, w = vecs[r["ia"]], vecs[r["ib"]]
        for name, (_, ref) in cases.items():
            got = r[name]
            assert _same(got, ref(v, w)), (r["ia"], r["ib"], name, got, ref(v, w))


def test_units_lit_sql_and_lit_vec_sql_match_lits(spark):
    vals = [0.1, -1 / 3, 0.0, 1e-7, -0.0, 300.123456]
    row = spark.range(1).select(
        F.expr(V.units_lit_sql(vals)).alias("u"),
        F.expr(V.lit_vec_sql(vals)).alias("d"),
    ).collect()[0]
    assert list(row["u"]) == ref_units_arr(vals)
    assert [repr(x) for x in row["d"]] == [repr(float(x)) for x in vals]


_CENTS = [[0.1, -0.2, 0.3], [1 / 3, 0.25, -0.5], [0.0, 0.0, 1.0], [0.1, -0.2, 0.3]]


def ref_scores(v, cents, exact):
    """[(score, idx)] per centroid; ``exact`` scores with the exact dot
    against each centroid's quantized literal, else the double fold."""
    out = []
    for j, c in enumerate(cents):
        if exact:
            d = ref_dot_units(ref_units_arr(v), ref_units_arr(c))
            s = None if d is None else float(d)
        else:
            s = ref_dot(v, c)
        out.append((s, j))
    return out


def _score_key(t):
    # struct ordering: a NULL score sorts below every number; ties on the
    # score break by idx
    return (t[0] is not None, t[0] if t[0] is not None else 0.0, t[1])


def test_centroid_scores_match_python_reference(spark):
    """_centroid_scores / assign_centroid / probe_centroids in both modes,
    plus the exact mode's precomputed-``units`` form semantic_dedup uses,
    against the Python references — NULL vectors, NULL elements, zero
    vectors, signed zeros and a duplicated centroid (tie → larger idx)
    included (the dimension guard is exercised separately)."""
    from r_e_hive__spark.operators.similarity import (
        _centroid_scores,
        assign_centroid,
        probe_centroids,
    )

    ok = [r for r in ADVERSARIAL if r[1] is None or len(r[1]) == 3]
    df = spark.createDataFrame(ok, "id BIGINT, v ARRAY<DOUBLE>").withColumn(
        "u", F.expr(V.units_arr_sql("v"))
    )
    vecs = dict(ok)
    for exact in (False, True):
        cols = [
            _centroid_scores("v", _CENTS, exact).alias("s"),
            assign_centroid("v", _CENTS, exact).alias("a"),
            probe_centroids("v", _CENTS, 2, exact).alias("p"),
        ]
        if exact:
            cols.append(_centroid_scores("v", _CENTS, True, units="u").alias("su"))
        for r in df.select("id", *cols).collect():
            want = ref_scores(vecs[r["id"]], _CENTS, exact)
            got = [(x["score"], x["idx"]) for x in r["s"]]
            assert [(repr(s), j) for s, j in got] == [
                (repr(s), j) for s, j in want
            ], (r["id"], exact)
            if exact:
                assert [(x["score"], x["idx"]) for x in r["su"]] == got
            ranked = sorted(want, key=_score_key, reverse=True)
            assert r["a"] == ranked[0][1], (r["id"], exact)
            assert list(r["p"]) == [j for _, j in ranked[:2]], (r["id"], exact)


def test_centroid_scores_sql_guard_still_raises(spark):
    from r_e_hive__spark.operators.similarity import _centroid_scores

    cents = [[0.1, -0.2, 0.3]]
    for vec in ([0.5, 0.25], []):
        df = spark.createDataFrame([(10, vec)], "id BIGINT, v ARRAY<DOUBLE>")
        for exact in (False, True):
            with pytest.raises(Exception, match="centroid dimension"):
                df.select(_centroid_scores("v", cents, exact).alias("s")).collect()


def test_quantize_embeddings_sql_matches_spec(spark):
    """quantize_embeddings' parsed expressions vs the original Column
    construction, replayed inline."""
    from r_e_hive__spark.operators.similarity import quantize_embeddings

    df = _frame(spark)
    got = quantize_embeddings(df, "v").select("id", "q_scale", "q_codes")
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x.cast("double"))))
    with_scale = df.withColumn("e_scale", (amax / F.lit(127.0)).cast("double"))
    codes = F.transform(
        F.col("v"),
        lambda x: F.when(
            F.col("e_scale") > 0, F.round(x.cast("double") / F.col("e_scale"), 0)
        )
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )
    want = with_scale.withColumn("e_codes", codes).select("id", "e_scale", "e_codes")
    g = {r["id"]: (r["q_scale"], r["q_codes"]) for r in got.collect()}
    w = {r["id"]: (r["e_scale"], r["e_codes"]) for r in want.collect()}
    assert g == w
