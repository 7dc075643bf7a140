"""Property test of the exact fixed-point sum kernel (payload._dsum):
its grouped sums equal Python ``Decimal`` sums of the HALF_UP-rounded
terms, and the DECIMAL(18,s) sum the oracles use, on any input; and its
unit term (payload._dterm_sql) is bit-identical to the BigDecimal
``round`` form it replaces."""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.operators.payload import (
    _dsum,
    _dterm_sql,
    _with_units,
)

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
    got = {r.g: (r.kernel, r.decimal) for r in _with_units(
            df, u=("x", s)).groupBy("g").agg(
        F.expr(_dsum("u", s)).alias("kernel"),
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
    is a half-way case at the s-th digit; |value·10^s| < 10^13. Draws
    mix the whole range with small terms (the fast path) and terms on
    either side of its 2^40 bound."""
    s = draw(st.sampled_from(_SCALES))
    near_bound = st.tuples(st.sampled_from((1, -1)),
                           st.integers(-10 ** 6, 10 ** 6)).map(
        lambda t: t[0] * (10 * 2 ** 40 + t[1]))
    value = st.one_of(st.integers(-10 ** 14, 10 ** 14),
                      st.integers(-10 ** 9, 10 ** 9),
                      near_bound).map(
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
    got = {r.g: r.total for r in _with_units(
            df, u=("x", 6)).groupBy("g").agg(
        F.expr(_dsum("u", 6)).alias("total")).collect()}
    assert got == {0: n * x, 1: -n * x}


def _adversarial(s: int) -> list:
    """Doubles whose unit term is hard for the fast path at scale s:
    exact and near half-way cases, the 2^40 bound and one ulp either
    side, signed zeros, the non-finite values, NULL, and 10^5 random
    doubles; every finite value also with its sign flipped."""
    rng = random.Random(1000 + s)
    xs = []
    for k in range(1000):
        for tie in ((k + 0.5) / 10 ** s,
                    (rng.randrange(1, 10 ** 12) + 0.5) / 10 ** s):
            xs += [tie * (1 + r) for r in (0, 1e-15, -1e-15, 1e-12, -1e-12)]
    b = 2.0 ** 40 / 10 ** s
    xs += [b, math.nextafter(b, math.inf), math.nextafter(b, 0)]
    for _ in range(50_000):
        xs.append(10 ** rng.uniform(-8, 13))
        xs.append(float(Decimal(rng.randrange(10 ** 14)).scaleb(-(s + 1))))
    return ([None, math.nan, math.inf, -math.inf, 0.0, -0.0]
            + xs + [-x for x in xs])


def _old_term(s: int) -> str:
    return f"CAST(rint(round(x, {s}) * {10 ** s}) AS BIGINT)"


@pytest.fixture
def ansi_off(spark):
    key = "spark.sql.ansi.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, was)


@pytest.mark.parametrize("s", _SCALES)
def test_unit_term_bit_identical_to_round(ansi_off, s):
    """The fast-path unit term equals the BigDecimal round form on every
    adversarial input (NULL-safe equality; with ANSI off, NaN and ±Inf
    cast to a value instead of raising)."""
    df = ansi_off.createDataFrame([(x,) for x in _adversarial(s)],
                                  "x double")
    bad = df.where(f"NOT ({_dterm_sql('x', s)} <=> {_old_term(s)})")
    assert bad.limit(5).collect() == []
    assert df.count() > 100_000


@pytest.mark.parametrize("s", _SCALES)
def test_unit_term_nan_raises_under_ansi(spark, s):
    """NaN takes the slow path, so it keeps the old form's ANSI cast
    error."""
    df = spark.createDataFrame([(math.nan,)], "x double")
    for term in (_dterm_sql("x", s), _old_term(s)):
        with pytest.raises(Exception, match="CAST"):
            df.select(F.expr(term)).collect()
