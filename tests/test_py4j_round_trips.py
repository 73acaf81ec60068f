"""Driver-side plan building stays a fixed number of Py4J round trips.

Each PySpark ``Column`` node is one or more Py4J calls, so a plan built
column by column costs driver time in proportion to its width.  The
COPY encoder, the range frame and the field projection hand the JVM
one Spark SQL text instead; these tests count Py4J commands while each
is built at a narrow and a wide width, and pin the exact bytes of the
quoting those texts depend on.
"""

from __future__ import annotations

import contextlib
import datetime
import threading

import pytest

from pgloader_spark.operators.projection import FieldSpec, Projection
from pgloader_spark.sources.copytext import to_copy_lines
from pgloader_spark.sources.jdbc import range_frame

# a width-independent ceiling on the commands one build sends
MAX_CALLS = 25


@contextlib.contextmanager
def _py4j_calls(spark):
    """Counts the Py4J commands this thread sends inside the block,
    less the object releases py4j queues when a proxy is freed."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == me and not args[0].startswith("m\n"):
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


def _calls(spark, build) -> int:
    with _py4j_calls(spark) as n:
        build()
    return n[0]


def _strings(spark, width):
    return spark.createDataFrame(
        [tuple(f"v{i}" for i in range(width))],
        ", ".join(f"c{i} string" for i in range(width)),
    )


def test_copy_encoder_round_trips_do_not_grow_with_width(spark):
    narrow, wide = _strings(spark, 4), _strings(spark, 64)
    counts = [
        _calls(spark, lambda df=df: to_copy_lines(df)) for df in (narrow, wide)
    ]
    assert counts[0] == counts[1] <= MAX_CALLS, counts


def test_range_frame_round_trips_do_not_grow_with_ranges(spark):
    counts = [
        _calls(spark, lambda n=n: range_frame(spark, [(i, i + 1) for i in range(n)]))
        for n in (2, 200)
    ]
    assert counts[0] == counts[1] <= MAX_CALLS, counts
    rows = range_frame(spark, [(-5, 0), (0, 2**40)]).collect()
    assert [(r.lo, r.hi) for r in rows] == [(-5, 0), (0, 2**40)]


def test_projection_round_trips_do_not_grow_with_fields(spark):
    counts = []
    for width in (4, 64):
        df = _strings(spark, width)
        proj = Projection(
            fields=[FieldSpec(f"c{i}", null_if=("",)) for i in range(width)]
        )
        counts.append(_calls(spark, lambda p=proj, d=df: p.apply(d)))
    assert counts[0] == counts[1] <= MAX_CALLS, counts


def test_load_column_list_round_trips_do_not_grow_with_columns(spark):
    """The column list a LOAD CSV casts its fields to (``project``)."""
    from pgloader_spark.operators.projection import ColumnSpec
    from pgloader_spark.parsers.loadcmd import LoadCommand
    from pgloader_spark.plans.executor import project

    counts = []
    for width in (4, 64):
        df = _strings(spark, width)
        cmd = LoadCommand(
            "csv", "in.csv",
            fields=[FieldSpec(f"c{i}") for i in range(width)],
            columns=[ColumnSpec(f"c{i}", cast_to="bigint") for i in range(width)],
        )
        counts.append(_calls(spark, lambda c=cmd, d=df: project(d, c)))
    assert counts[0] == counts[1] <= MAX_CALLS, counts


def test_copy_encoder_quote_and_backslash_delimiters(spark):
    df = spark.createDataFrame(
        [(1, "it's", "a\\b", None)], "i int, s string, t string, n string"
    )
    lines = {
        d: to_copy_lines(df, d).first().line for d in ("'", "\\", "\t")
    }
    assert lines == {
        "'": "1'it's'a\\\\b'\\N",
        "\\": "1\\it's\\a\\\\b\\\\N",
        "\t": "1\tit's\ta\\\\b\t\\N",
    }


@pytest.mark.parametrize("sentinel", ["it's \\ gone", "nul \x00 byte"])
def test_field_sentinel_with_quote_backslash_and_nul(spark, sentinel):
    """Quote and backslash survive the SQL literal; a NUL byte takes
    ``select_sql``'s list path and must give the same result."""
    df = spark.createDataFrame([(sentinel,), ("kept",), (None,)], "v string")
    out = Projection(fields=[FieldSpec("v", null_if=(sentinel,))]).apply(df)
    assert [r.v for r in out.collect()] == [None, "kept", None]


def test_field_date_format_with_quoted_literal_text(spark):
    df = spark.createDataFrame([("2024-05-01T13:14:15",)], "d string")
    proj = Projection(fields=[FieldSpec("d", date_format="YYYY-MM-DDTHH24:MI:SS")])
    assert proj.apply(df).first().d == datetime.datetime(2024, 5, 1, 13, 14, 15)
