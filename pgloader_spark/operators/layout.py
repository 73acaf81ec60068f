"""Data-layout operators: z-order clustering for multi-dimensional skip.

At 100 TB the dominant read cost is scan pruning: a table laid out in
insertion order answers a 2-predicate query by reading everything,
while the same rows written in Z-ORDER (bit-interleaved key) cluster
rows that are close in BOTH dimensions into the same files, so
min/max footer stats prune most of the scan (the Delta/Iceberg
OPTIMIZE ZORDER strategy, public literature: Morton order).

All expressions are integer Column arithmetic (shifts/masks — inside
whole-stage codegen, DuckDB-reproducible for the oracles); a writer
lays the rows out with ``repartitionByRange`` on the z-value + an
in-partition sort, i.e. one range shuffle for the whole layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton/Z-value: interleave the low ``bits`` of two non-negative
    ints — a's bit i lands at 2i, b's at 2i+1.  Pure shift/mask fold
    (2*bits terms, constant-folded shifts), no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Column | Column is LOGICAL or in PySpark — bitwiseOR is the
        # integer operator
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


def quantize(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Value -> integer cell in [0, 2^bits): floor-scaled against
    [lo, hi] bounds (explicit floor(), because CAST(double AS INT)
    truncates in Spark but ROUNDS in DuckDB)."""
    span = (hi - lo).cast("double")
    frac = F.when(span > 0, (col.cast("double") - lo) / span).otherwise(F.lit(0.0))
    cells = F.lit((1 << bits) - 1)
    return F.floor(
        F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0)) * cells
    ).cast("long")


def zorder_keys(
    df: DataFrame, col_a: str, col_b: str, bits: int = 10
) -> DataFrame:
    """Attach (z, z_bucket) for two numeric columns, quantized against
    their corpus min/max.  The bounds are a 1-row aggregate riding a
    broadcast; the z computation itself is narrow."""
    bounds = df.agg(
        F.min(col_a).alias("__alo"),
        F.max(col_a).alias("__ahi"),
        F.min(col_b).alias("__blo"),
        F.max(col_b).alias("__bhi"),
    )
    withb = df.crossJoin(F.broadcast(bounds))
    z = interleave_bits(
        quantize(F.col(col_a), F.col("__alo"), F.col("__ahi"), bits),
        quantize(F.col(col_b), F.col("__blo"), F.col("__bhi"), bits),
        bits,
    )
    return withb.withColumn("z", z).drop(
        "__alo", "__ahi", "__blo", "__bhi"
    )
