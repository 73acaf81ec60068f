"""Z-order layout tests: interleave math and sort keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgloader_spark.operators.layout import (
    interleave_bits,
    quantize,
    zorder_keys,
)


def test_interleave_bits_known_values(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "a long, b long"
    )
    out = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn("z", interleave_bits(F.col("a"), F.col("b"), 4))
        .collect()
    }
    assert out[(0, 0)] == 0
    assert out[(1, 0)] == 1       # a bit 0 -> z bit 0
    assert out[(0, 1)] == 2       # b bit 0 -> z bit 1
    # a=3 (011), b=5 (101): z = a0<<0|b0<<1|a1<<2|b1<<3|a2<<4|b2<<5
    #   = 1 + 2 + 4 + 0 + 0 + 32 = 39
    assert out[(3, 5)] == 39


def test_quantize_bounds_and_degenerate_span(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "v double")
    q = df.select(
        quantize(F.col("v"), F.lit(0.0), F.lit(10.0), 4).alias("q")
    ).collect()
    assert [r["q"] for r in q] == [0, 7, 15]  # floor(0.5 * 15) = 7
    same = df.select(
        quantize(F.col("v"), F.lit(3.0), F.lit(3.0), 4).alias("q")
    ).collect()
    assert all(r["q"] == 0 for r in same)  # zero span -> cell 0, no div0


def test_zorder_keys_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)],
        "event_id long, user_id long, value double",
    )
    a = zorder_keys(df, "user_id", "value").select("event_id", "z").collect()
    b = zorder_keys(df, "user_id", "value").select("event_id", "z").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_interleave_bits_is_bijective_property(spark):
    """Property: interleave is a bijection on bit-bounded pairs — no
    two (a, b) pairs share a z (the guarantee footer-range pruning
    relies on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=255),
                st.integers(min_value=0, max_value=255),
            ),
            min_size=2,
            max_size=20,
            unique=True,
        )
    )
    def check(pairs):
        df = spark.createDataFrame(pairs, "a long, b long")
        zs = [
            r["z"]
            for r in df.withColumn(
                "z", interleave_bits(F.col("a"), F.col("b"), 8)
            ).collect()
        ]
        assert len(set(zs)) == len(pairs)

    check()
