"""Sink tests: validation-first reject isolation + the COPY text
encoder the live wire and reject files use (reference:
src/pg-copy/copy-retry-batch.lisp semantics, src/utils/reject.lisp,
src/pg-copy/copy-format.lisp)."""

from __future__ import annotations

import glob
import os

import pytest

from pgloader_spark.sinks.validate import (
    ColumnRule,
    load_with_isolation,
    split_valid,
    write_rejects,
)
from pgloader_spark.sources.copytext import to_copy_lines


@pytest.fixture()
def messy_df(spark):
    return spark.createDataFrame(
        [
            ("1", "2024-01-15", "alice"),
            ("notanint", "2024-02-01", "bob"),      # bad id
            ("3", "junkdate", "carol"),             # bad date
            ("4", "2024-03-10", None),              # null name (NOT NULL col)
            ("5", "2024-04-01", "eve"),
        ],
        "id string, d string, name string",
    )


RULES = [
    ColumnRule("id", cast_to="bigint", not_null=True),
    ColumnRule("d", cast_to="date"),
    ColumnRule("name", not_null=True),
]


def test_split_valid(messy_df):
    res = split_valid(messy_df, RULES)
    good_ids = sorted(r["id"] for r in res.good.collect())
    assert good_ids == [1, 5]
    # casts applied on the good side
    assert dict(res.good.dtypes)["id"] == "bigint"
    assert dict(res.good.dtypes)["d"] == "date"
    bad = {r["id"]: r["_errors"] for r in res.rejects.collect()}
    assert set(bad) == {"notanint", "3", "4"}
    assert bad["notanint"] == ["id: invalid bigint"]
    assert bad["4"] == ["name: invalid value"]


def test_write_rejects(messy_df, tmp_path):
    res = split_valid(messy_df, RULES)
    n = write_rejects(res, str(tmp_path), "db", "people")
    assert n == 3
    dat = glob.glob(str(tmp_path / "db" / "people.dat" / "part-*"))
    log = glob.glob(str(tmp_path / "db" / "people.log" / "part-*"))
    dat_lines = sorted(
        ln for f in dat for ln in open(f).read().splitlines() if ln
    )
    assert "3\tjunkdate\tcarol" in dat_lines
    assert "4\t2024-03-10\t\\N" in dat_lines
    log_text = "".join(open(f).read() for f in log)
    assert "people: d: invalid date" in log_text


def test_on_error_stop(messy_df, tmp_path):
    with pytest.raises(ValueError, match="on error stop"):
        load_with_isolation(
            messy_df, RULES, str(tmp_path), "db", "people", on_error_stop=True
        )


def test_isolation_accounting(messy_df, tmp_path):
    res = load_with_isolation(messy_df, RULES, str(tmp_path), "db", "people")
    assert res.error_count == 3
    assert res.good.count() == 2


def test_all_valid_no_reject_files(spark, tmp_path):
    df = spark.createDataFrame([("1", "x")], "id string, name string")
    res = load_with_isolation(
        df, [ColumnRule("id", cast_to="int")], str(tmp_path), "db", "t"
    )
    assert res.error_count == 0
    assert not os.path.exists(tmp_path / "db" / "t.dat")


def test_encode_value(spark):
    df = spark.createDataFrame(
        [(None, True, "a\tb\nc", bytearray(b"\xde\xad"), 42)],
        "n string, b boolean, s string, raw binary, i int",
    )
    (line,) = [r.line for r in to_copy_lines(df).collect()]
    assert line.split("\t") == ["\\N", "true", "a\\tb\\nc", "\\\\xdead", "42"]


def test_encode_rows(spark):
    df = spark.createDataFrame([(1, None, "x\ty")], "a int, b string, c string")
    assert [r.line for r in to_copy_lines(df).collect()] == ["1\t\\N\tx\\ty"]


def _count_sink():
    """A stand-in COPY sink: one row per stream, its line count."""

    def sink(batches):
        import pandas as pd

        yield pd.DataFrame({"n": [sum(len(b) for b in batches)]})

    return sink


def test_copy_stream_cap(spark):
    """r9: with n_writers unset the COPY sink keeps the input's own
    partitioning up to the 64-stream ceiling, then caps — a wide
    cluster input must not map one PG connection per task (stock
    max_connections is 100).  One result row per COPY stream."""
    from pgloader_spark.sources.pg_live import _MAX_DEFAULT_STREAMS, _copy_job

    def streams(lines, n_writers):
        rows = _copy_job(lines, n_writers, _count_sink(), "n long").collect()
        assert sum(r.n for r in rows) == 1000
        return len(rows)

    lines = spark.range(1000).selectExpr("CAST(id AS STRING) AS line")
    assert streams(lines.repartition(8), None) == 8
    wide = lines.repartition(100)
    assert streams(wide, None) == _MAX_DEFAULT_STREAMS
    assert streams(wide, 16) == 16


def test_copy_job_runs_an_input_shuffle_once(spark):
    """The stream count is read from the plan the COPY job runs, so an
    input whose adaptive plan holds an exchange shuffles once: one map
    stage and one COPY stage, not a second map stage for the count."""
    from pgloader_spark.sources.pg_live import _copy_job

    sc = spark.sparkContext
    lines = spark.range(1000, numPartitions=4).selectExpr(
        "CAST(id AS STRING) AS line"
    )
    group = "copy-job-shuffle-once"
    sc.setJobGroup(group, group)
    try:
        rows = _copy_job(lines.repartition(8), None, _count_sink(), "n long").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (len(rows), sum(r.n for r in rows)) == (8, 1000)
    st = sc.statusTracker()
    ran = [
        sid
        for job in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(job).stageIds
        if (info := st.getStageInfo(sid)) and info.numCompletedTasks
    ]
    assert len(ran) == 2
