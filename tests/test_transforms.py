"""Transform-function unit suite.

Mirrors the reference's in-code cast test table
(pgloader src/sources/mysql/mysql-cast-rules.lisp:319-379): feed known
inputs through each transform and assert the exact output literal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pgloader_spark.functions import transforms as tr


def one(spark, expr, input_val=None, in_type="string"):
    df = spark.createDataFrame([(input_val,)], f"v {in_type}")
    return df.select(expr.alias("r")).collect()[0]["r"]


CASES = [
    # (transform name, input, expected, input spark type)
    ("zero-dates-to-null", "0000-00-00", None, "string"),
    ("zero-dates-to-null", "0000-00-00 00:00:00", None, "string"),
    ("zero-dates-to-null", "2024-05-01", "2024-05-01", "string"),
    ("tinyint-to-boolean", "0", False, "string"),
    ("tinyint-to-boolean", "1", True, "string"),
    ("tinyint-to-boolean", "13", True, "string"),
    ("tinyint-to-boolean", None, None, "string"),
    ("sql-server-bit-to-boolean", "((0))", False, "string"),
    ("sql-server-bit-to-boolean", "((1))", True, "string"),
    ("sql-server-bit-to-boolean", "0", False, "string"),
    ("sql-server-bit-to-boolean", "1", True, "string"),
    ("logical-to-boolean", "T", True, "string"),
    ("logical-to-boolean", "y", True, "string"),
    ("logical-to-boolean", "f", False, "string"),
    ("logical-to-boolean", "?", None, "string"),
    ("logical-to-boolean", " ", None, "string"),
    ("empty-string-to-null", "", None, "string"),
    ("empty-string-to-null", "x", "x", "string"),
    ("right-trim", "ab   ", "ab", "string"),
    ("set-to-enum-array", "a,b", "{a,b}", "string"),
    ("remove-null-characters", "a\x00b", "ab", "string"),
    ("hex-to-dec", "ff", "255", "string"),
    ("hex-to-dec", "0xff", "255", "string"),
    ("int-to-ip", 16909060, "1.2.3.4", "long"),
    ("int-to-ip", 0, "0.0.0.0", "long"),
    ("int-to-ip", 4294967295, "255.255.255.255", "long"),
    ("integer-to-string", "'42'", "42", "string"),
    ("integer-to-string", '"7"', "7", "string"),
    ("convert-mysql-point", "POINT(1.5 2.5)", "(1.5,2.5)", "string"),
    ("db3-date-to-pgsql-date", "00000000", None, "string"),
    ("db3-numeric-to-pgsql-integer", " 42junk", 42, "string"),
    ("db3-numeric-to-pgsql-integer", "", None, "string"),
]


@pytest.mark.parametrize("name,input_val,expected,in_type", CASES)
def test_scalar_transform(spark, name, input_val, expected, in_type):
    fn = tr.get_transform(name)
    got = one(spark, fn(F.col("v")), input_val, in_type)
    assert got == expected, f"{name}({input_val!r}) = {got!r}, want {expected!r}"


def test_date_with_no_separator(spark):
    fn = tr.get_transform("date-with-no-separator")
    got = one(spark, F.date_format(fn(F.col("v")), "yyyy-MM-dd HH:mm:ss"), "20041002152952")
    assert got == "2004-10-02 15:29:52"
    assert one(spark, fn(F.col("v")), "00000000000000") is None


def test_time_with_no_separator(spark):
    fn = tr.get_transform("time-with-no-separator")
    assert one(spark, fn(F.col("v")), "08231560") == "08:23:15.60"
    assert one(spark, fn(F.col("v")), "082315") == "08:23:15"


def test_unix_timestamp(spark):
    fn = tr.get_transform("unix-timestamp-to-timestamptz")
    got = one(spark, F.date_format(fn(F.col("v")), "yyyy-MM-dd HH:mm:ss"), "0")
    assert got == "1970-01-01 00:00:00"


def test_binary_to_uuid(spark):
    fn = tr.get_transform("binary-to-uuid")
    got = one(spark, fn(F.col("v")), bytes(range(16)), "binary")
    assert got == "00010203-0405-0607-0809-0a0b0c0d0e0f"


def test_uniqueidentifier_mixed_endian(spark):
    fn = tr.get_transform("sql-server-uniqueidentifier-to-uuid")
    got = one(spark, fn(F.col("v")), bytes(range(16)), "binary")
    # first three groups byte-reversed: 03020100-0504-0706-0809-0a0b...
    assert got == "03020100-0504-0706-0809-0a0b0c0d0e0f"


def test_bytea_literals(spark):
    fn = tr.get_transform("byte-vector-to-bytea")
    assert one(spark, fn(F.col("v")), b"\xde\xad\xbe\xef", "binary") == "\\xdeadbeef"
    fn2 = tr.get_transform("hex-to-bytea")
    assert one(spark, fn2(F.col("v")), "0xDEAD") == "\\xdead"


def test_varbinary_to_inet(spark):
    fn = tr.get_transform("varbinary-to-inet")
    assert one(spark, fn(F.col("v")), b"\x01\x02\x03\x04", "binary") == "1.2.3.4"
    v6 = one(spark, fn(F.col("v")), bytes(range(16)), "binary")
    assert v6 == "0001:0203:0405:0607:0809:0a0b:0c0d:0e0f"


def test_float_to_string(spark):
    fn = tr.get_transform("float-to-string")
    assert one(spark, fn(F.col("v")), float("inf"), "double") == "Infinity"
    assert one(spark, fn(F.col("v")), float("-inf"), "double") == "-Infinity"


def test_ip_range(spark):
    """Canonical ip4r text forms, pinned to what the regress golden
    csv-before-after.out stores: single IP, /len for aligned blocks,
    lo-hi otherwise."""
    fn = tr.get_transform("ip-range")
    cases = [
        (16909060, 16909061, "1.2.3.4/31"),  # 2 addrs, even start
        (16909060, 16909060, "1.2.3.4"),  # single
        (3754901760, 3754902015, "223.207.65.0/24"),  # golden line 1
        (3754902016, 3754903039, "223.207.66.0-223.207.69.255"),  # golden line 2
        (16909061, 16909062, "1.2.3.5-1.2.3.6"),  # pow2 size, unaligned
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in cases], "a long, b long")
    got = [r["r"] for r in df.select(fn(F.col("a"), F.col("b")).alias("r")).collect()]
    assert got == [want for _, _, want in cases]


def test_unknown_transform_raises():
    with pytest.raises(KeyError):
        tr.get_transform("no-such-fn")


def test_register_transform_plugin_through_dsl(spark, tmp_path):
    """User plugin file -> register_transform -> USING clause resolves
    it (the reference's --load user-Lisp extension story,
    src/main.lisp:174-183)."""
    from pgloader_spark.functions.transforms import (
        TRANSFORMS,
        load_plugin_file,
    )
    from tests.fixtures.commands import run_command_text

    plugin = tmp_path / "my_transforms.py"
    plugin.write_text(
        "from pyspark.sql import functions as F\n"
        "from pgloader_spark.functions.transforms import register_transform\n"
        "def shout(col):\n"
        "    c = F.col(col) if isinstance(col, str) else col\n"
        "    return F.concat(F.upper(c), F.lit('!'))\n"
        "register_transform('shout-it', shout)\n"
    )
    assert "shout-it" not in TRANSFORMS
    load_plugin_file(str(plugin))
    assert "shout-it" in TRANSFORMS and "shout_it" in TRANSFORMS

    cmd = """
LOAD CSV
  FROM inline (a, b)
  INTO postgresql:///db?t (a, b text using (shout-it b));

1,hello
2,world
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    got = {r["a"]: r["b"] for r in report.result.collect()}
    assert got == {"1": "HELLO!", "2": "WORLD!"}
    for k in ("shout-it", "shout_it"):
        TRANSFORMS.pop(k, None)
