"""Projection-engine tests (pgloader project-fields parity).

Ref: src/sources/common/project-fields.lisp:35-183 — identity fast
path, reorder/drop, constants, null-if (string + blanks), trim,
date-format, USING transform calls incl. multi-arg.
"""

from __future__ import annotations

from pgloader_spark.operators.projection import ColumnSpec, FieldSpec, Projection


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_identity_fast_path(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    out = Projection().apply(df)
    assert out is df


def test_reorder_drop_constant(spark):
    df = spark.createDataFrame([(1, "a", "z")], "x int, y string, junk string")
    proj = Projection(
        columns=[
            ColumnSpec("y"),
            ColumnSpec("k", constant="c0"),
            ColumnSpec("x"),
        ]
    )
    out = proj.apply(df)
    assert out.columns == ["y", "k", "x"]
    assert rows(out) == [("a", "c0", 1)]


def test_null_if_and_blanks(spark):
    df = spark.createDataFrame(
        [("NIL",), ("  ",), ("ok",)], "v string"
    )
    proj = Projection(
        fields=[FieldSpec("v", null_if=("NIL",), null_if_blanks=True)],
        columns=[ColumnSpec("v")],
    )
    assert rows(proj.apply(df)) == [(None,), (None,), ("ok",)]


def test_trim_variants(spark):
    df = spark.createDataFrame([("  a  ",)], "v string")
    for mode, want in [("left", "a  "), ("right", "  a"), ("both", "a")]:
        proj = Projection(
            fields=[FieldSpec("v", trim=mode)], columns=[ColumnSpec("v")]
        )
        assert rows(proj.apply(df)) == [(want,)]


def test_field_date_format(spark):
    df = spark.createDataFrame([("2024/05/01",)], "d string")
    proj = Projection(
        fields=[FieldSpec("d", date_format="YYYY/MM/DD")],
        columns=[ColumnSpec("d", cast_to="date")],
    )
    assert str(rows(proj.apply(df))[0][0]) == "2024-05-01"


def test_using_transform_multi_arg(spark):
    df = spark.createDataFrame([(16909060, 16909061)], "s long, e long")
    proj = Projection(
        columns=[
            ColumnSpec("r", transform="ip-range", transform_args=("s", "e")),
        ]
    )
    assert rows(proj.apply(df)) == [("1.2.3.4/31",)]
