"""Property test of the exact fixed-point sum kernel (payload._dsum):
its grouped sums equal Python ``Decimal`` sums of the HALF_UP-rounded
terms, and the DECIMAL(18,s) sum the oracles use, on any input."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.operators.payload import _dsum

_SCALES = (2, 4, 6)
_LIMB = 10 ** 9


def _want(rows, s: int) -> dict:
    """Per-group sum of round(x, s) over the non-NULL rows; NULL for a
    group with none."""
    out: dict = {}
    for g, x in rows:
        out.setdefault(g, None)
        if x is not None:
            term = Decimal(repr(x)).quantize(Decimal(1).scaleb(-s),
                                             rounding=ROUND_HALF_UP)
            out[g] = term if out[g] is None else out[g] + term
    return out


def _check(spark, rows, s: int, partitions: int = 3) -> None:
    df = spark.createDataFrame(rows, "g int, x double").repartition(
        partitions)
    got = {r.g: (r.kernel, r.decimal) for r in df.groupBy("g").agg(
        _dsum("x", s).alias("kernel"),
        F.sum(F.round("x", s).cast(f"decimal(18,{s})")).alias("decimal"),
    ).collect()}
    want = _want(rows, s)
    assert set(got) == set(want)
    for g, w in want.items():
        kernel, dec = got[g]
        assert kernel == w and dec == w, (g, s, kernel, dec, w)


@st.composite
def _cases(draw):
    """(s, rows) with values of s+1 decimals, so about one in ten terms
    is a half-way case at the s-th digit; |value·10^s| < 10^13."""
    s = draw(st.sampled_from(_SCALES))
    value = st.integers(-10 ** 14, 10 ** 14).map(
        lambda n: float(Decimal(n).scaleb(-(s + 1))))
    rows = draw(st.lists(
        st.tuples(st.integers(0, 3), st.one_of(st.none(), value)),
        min_size=1, max_size=40))
    return s, rows


def _boundaries(s: int) -> list:
    """Values whose scaled term sits on or beside a ±10^9 limb edge."""
    return [(k % 4, float(Decimal(sign * (m * _LIMB + d)).scaleb(-s)))
            for k, (sign, m, d) in enumerate(
                (sign, m, d) for sign in (1, -1) for m in (1, 2)
                for d in (-1, 0, 1))]


@settings(max_examples=30, deadline=None)
@given(case=_cases())
@example(case=(2, [(0, 1.005), (0, 2.675), (1, -0.125), (1, -2.675),
                   (2, None), (2, None), (3, 0.5), (3, None)]))
@example(case=(6, [(0, 0.0000005), (0, -0.0000005), (1, 2.6749995),
                   (1, -1.0000005), (2, None)]))
@example(case=(2, _boundaries(2)))
@example(case=(4, _boundaries(4)))
@example(case=(6, _boundaries(6)))
def test_kernel_matches_decimal_sum(spark, case):
    s, rows = case
    _check(spark, rows, s)


def test_kernel_carries_past_bigint(spark):
    """A group whose scaled sum passes ±2^63: one BIGINT accumulator
    would overflow, the two limbs carry into the DECIMAL(38,0)
    recombination exactly."""
    x = Decimal("1999999999.999999")  # term 2e15 - 1 < 2^51, lo = 10^9 - 1
    n = 5000
    assert n * x * 10 ** 6 > 2 ** 63
    df = spark.range(n, numPartitions=4).select(
        (F.col("id") % 2).cast("int").alias("g"),
        F.when(F.col("id") % 2 == 0, F.lit(float(x)))
        .otherwise(F.lit(float(-x))).alias("x"))
    df = df.unionByName(df)
    got = {r.g: r.total for r in df.groupBy("g").agg(
        _dsum("x", 6).alias("total")).collect()}
    assert got == {0: n * x, 1: -n * x}
