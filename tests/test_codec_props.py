"""Property tests for the decode primitives (SURVEY §5: the reference
validates transforms against independently-computed expectations,
test.rs:174-221 — here hypothesis generates the adversarial inputs and
plain Python big-int arithmetic is the independent oracle)."""

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from sonic_etl_spark.functions.codec import (
    BIGNUMERIC_CAP,
    NUMERIC_MAX_DIGITS,
    _uint256_hex_to_decimal_dual,
    hex_to_long_checked,
    numeric_checked,
)

I64_MAX = (1 << 63) - 1


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=1 << 70), st.integers(0, 24)),
        min_size=1,
        max_size=50,
    )
)
def test_hex_to_long_checked_matches_python(spark, values):
    """Zero padding (up to 24 leading zeros) does not change the value:
    only significant digits count toward the 64-bit overflow guard."""
    hexes = [hex(v)[:2] + "0" * pad + hex(v)[2:] for v, pad in values]
    hexes += ["0x00000000000000001", "0x" + "0" * 20]
    df = spark.createDataFrame([(h,) for h in hexes], "h string")
    got = [r["v"] for r in df.select(hex_to_long_checked(F.col("h")).alias("v")).collect()]
    expected = [v if v <= I64_MAX else None for v, _pad in values] + [1, 0]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 256) - 1), min_size=1, max_size=50))
def test_uint256_dual_matches_python(spark, values):
    cap = int(BIGNUMERIC_CAP)
    df = spark.createDataFrame([(hex(v),) for v in values], "h string")
    rows = df.select(_uint256_hex_to_decimal_dual(F.col("h")).alias("d")).collect()
    for v, r in zip(values, rows):
        assert r["d"]["value_lossless"] == str(v)
        assert r["d"]["value"] == (str(v) if v <= cap else BIGNUMERIC_CAP)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**32), max_value=10**32), min_size=1, max_size=50
    )
)
def test_numeric_checked_matches_python(spark, values):
    bound = 10**NUMERIC_MAX_DIGITS  # MAX_NUMERIC + 1 (28 nines is the max)
    df = spark.createDataFrame([(str(v),) for v in values], "s string")
    got = [r["v"] for r in df.select(numeric_checked(F.col("s")).alias("v")).collect()]
    for v, g in zip(values, got):
        if -bound < v < bound:
            assert g is not None and int(g) == v
        else:
            assert g is None


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # key (few -> collisions)
            st.integers(min_value=0, max_value=100),  # payload
        ),
        min_size=1,
        max_size=60,
    )
)
def test_salted_lww_equals_max_per_key(spark, rows):
    """The engine's two-phase salted reduction must equal a plain
    max-per-key for ANY input and salt assignment (associativity of max).
    Order keys are made unique by enumeration, as the replay total order
    (offset, partition_id, commit) is by construction."""
    from sonic_etl_spark.operators.merge import salted_lww

    data = [(k, i, p) for i, (k, p) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, ord long, payload long")
    got = {
        r["k"]: (r["ord"], r["payload"])
        for r in salted_lww(df, ["k"], ["ord"]).collect()
    }
    expected = {}
    for k, o, p in data:
        if k not in expected or o > expected[k][0]:
            expected[k] = (o, p)
    assert got == expected
