"""CSV source tests (reference: src/sources/csv/csv.lisp)."""

from __future__ import annotations

import os

import pytest

from pgloader_spark.sources.csv import (
    CsvOptions,
    read_csv,
    read_inline,
)


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvsrc")
    (d / "plain.csv").write_text(
        "id,name,amount\n1,alice,10.5\n2,bob,\n3,,3.25\n"
    )
    (d / "semi.csv").write_text(
        "a;b;c\n1;x;2\n2;y;3\n"
    )
    (d / "skip.csv").write_text(
        "junk line 1\njunk line 2\n1,one\n2,two\n"
    )
    return str(d)


def test_read_csv_header_and_nulls(spark, csv_dir):
    opts = CsvOptions(header=True, null_as="")
    df = read_csv(spark, os.path.join(csv_dir, "plain.csv"), opts)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["2"]["amount"] is None
    assert rows["3"]["name"] is None
    assert df.columns == ["id", "name", "amount"]


def test_read_csv_declared_fields(spark, csv_dir):
    opts = CsvOptions(separator=";", header=True, fields=["x", "y", "z"])
    df = read_csv(spark, os.path.join(csv_dir, "semi.csv"), opts)
    assert df.columns == ["x", "y", "z"]
    assert df.count() == 2


def test_skip_lines(spark, csv_dir):
    opts = CsvOptions(skip_lines=2, fields=["n", "word"])
    df = read_csv(spark, os.path.join(csv_dir, "skip.csv"), opts)
    got = sorted((r["n"], r["word"]) for r in df.collect())
    assert got == [("1", "one"), ("2", "two")]


def test_read_inline(spark):
    opts = CsvOptions(header=True, null_as="NULL")
    df = read_inline(spark, "a,b\n1,NULL\n2,x\n", opts)
    rows = sorted(df.collect(), key=lambda r: r["a"])
    assert rows[0]["b"] is None
    assert rows[1]["b"] == "x"
