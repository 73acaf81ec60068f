"""End-to-end LOAD execution tests — parse -> read -> project ->
validate -> report, modeled on the reference's regression scenarios
(test/csv.load, test/fixed.load shapes)."""

from __future__ import annotations

import pytest

from pgloader_spark.plans.executor import run_command_text


def test_csv_inline_end_to_end(spark, tmp_path):
    cmd = """
LOAD CSV
  FROM inline (a, b, c)
  INTO postgresql:///pgloader?people (a bigint, c)
  WITH fields terminated by ',', null if '';

1,alice,x
2,bob,y
oops,carol,z
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    # column list projects (a, c) and casts a -> bigint; bad row "oops"
    # becomes NULL via try-cast (no not-null rule), so 3 rows load
    assert report.loaded == 3
    rows = sorted(report.result.collect(), key=lambda r: (r["a"] is None, r["a"]))
    assert rows[0]["a"] == 1 and rows[0]["c"] == "x"
    assert rows[2]["a"] is None
    assert report.result.columns == ["a", "c"]


def test_csv_file_with_skip_and_fields(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("HEADER JUNK\n1;x\n2;y\n")
    cmd = f"""
LOAD CSV
  FROM '{p}' (id, val)
  INTO postgresql:///db?t (id int, val)
  WITH skip header = 1, fields terminated by ';';
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    got = {r["id"]: r["val"] for r in report.result.collect()}
    assert got == {1: "x", 2: "y"}


def test_fixed_inline_with_using_transform(spark, tmp_path):
    cmd = """
LOAD FIXED
  FROM inline
       ( a from 0 for 10, b from 10 for 8,
         c from 18 for 8, d from 26 for 17 [null if blanks, trim right whitespace] )
  INTO postgresql:///pgloader
TARGET TABLE fixed
       ( a bigint, b, c time using (time-with-no-separator c), d );

01234567892008052011431250firstline
   01234562008052115182300left blank-padded
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    rows = sorted(report.result.collect(), key=lambda r: r["a"])
    assert rows[0]["a"] == 123456
    assert rows[0]["c"] == "15:18:23.00"
    assert rows[0]["d"] == "left blank-padded"
    assert rows[1]["a"] == 123456789
    assert rows[1]["c"] == "11:43:12.50"
    assert rows[1]["d"] == "firstline"


def test_before_after_load_hooks(spark, tmp_path):
    ran = []
    cmd = """
LOAD CSV
  FROM inline (x)
  INTO postgresql:///db?t (x)
  WITH fields terminated by ','
  BEFORE LOAD DO $$ create table t (x text); $$
  AFTER LOAD DO $$ analyze t; $$;

hello
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path), sql_runner=ran.append)
    assert report.loaded == 1
    assert ran == ["create table t (x text);", "analyze t;"]


def test_filenames_matching(spark, tmp_path):
    (tmp_path / "d1.csv").write_text("1,a\n")
    (tmp_path / "d2.csv").write_text("2,b\n")
    (tmp_path / "skip.txt").write_text("3,c\n")
    cmd = f"""
LOAD CSV
  FROM ALL FILENAMES MATCHING ~/\\.csv$/ IN DIRECTORY '{tmp_path}' (id, v)
  INTO postgresql:///db?t (id int, v)
  WITH fields terminated by ',';
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    assert sorted(r["id"] for r in report.result.collect()) == [1, 2]


def test_dbf_end_to_end(spark, tmp_path):
    from tests.test_file_sources import make_dbf

    p = str(tmp_path / "people.dbf")
    make_dbf(
        p,
        [("ID", "N", 4), ("NAME", "C", 10)],
        [("1", "alice"), ("2", "bob")],
    )
    report = run_command_text(
        spark, f"LOAD DBF FROM '{p}' INTO postgresql:///db?people;", root_dir=str(tmp_path)
    )
    assert report.loaded == 2
    assert {r["NAME"] for r in report.result.collect()} == {"alice", "bob"}


def test_execute_with_sink_counts_in_one_pass(spark, tmp_path):
    """ctx.sink: rows counted DURING the sink action (Observation) —
    no cache+count second pass; loaded matches what landed."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute

    p = tmp_path / "data.csv"
    p.write_text("".join(f"{i};v{i}\n" for i in range(1000)))
    out = tmp_path / "out.parquet"
    cmd = parse_load(
        f"""
LOAD CSV
  FROM '{p}' (id, val)
  INTO postgresql:///db?t (id int, val)
  WITH fields terminated by ';';
"""
    )
    ctx = ExecutionContext(
        spark=spark,
        root_dir=str(tmp_path),
        sink=lambda df, _t, _cmd: df.write.mode("overwrite").parquet(str(out)),
    )
    report = execute(ctx, cmd)
    assert report.loaded == 1000
    assert spark.read.parquet(str(out)).count() == 1000


def test_jsonl_source_end_to_end(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "  hello world  ", "lang": "en"}\n'
        '{"doc_id": 2, "text": "", "lang": "fr"}\n'
        '{"doc_id": 3, "text": "au revoir", "lang": null}\n'
    )
    cmd = f"""
LOAD JSONL
  FROM '{p}' (doc_id, text null if blanks trim both whitespace, lang)
  INTO postgresql:///db?docs (doc_id bigint, text, lang);
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 3
    rows = {r["doc_id"]: r for r in report.result.collect()}
    assert rows[1]["text"] == "hello world"  # trimmed
    assert rows[2]["text"] is None           # null if blanks
    assert rows[3]["lang"] is None
    assert report.result.columns == ["doc_id", "text", "lang"]


def test_jsonl_source_inferred_schema(spark, tmp_path):
    p = tmp_path / "typed.jsonl"
    p.write_text('{"k": 1, "v": 2.5}\n{"k": 2, "v": 0.5}\n')
    cmd = f"""
LOAD JSONL FROM '{p}' INTO postgresql:///db?typed;
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    dtypes = dict(report.result.dtypes)
    assert dtypes["k"] == "bigint" and dtypes["v"] == "double"


def test_parquet_source_end_to_end(spark, tmp_path):
    src = tmp_path / "in.parquet"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, score double"
    ).write.parquet(str(src))
    cmd = f"""
LOAD PARQUET
  FROM '{src}' (id, name)
  INTO postgresql:///db?scores (id, name);
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    assert report.result.columns == ["id", "name"]
    assert {r["name"] for r in report.result.collect()} == {"a", "b"}


def test_orc_source_end_to_end(spark, tmp_path):
    src = tmp_path / "in.orc"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, score double"
    ).write.orc(str(src))
    cmd = f"""
LOAD ORC
  FROM '{src}' (id, name)
  INTO postgresql:///db?scores (id, name);
"""
    report = run_command_text(spark, cmd, root_dir=str(tmp_path))
    assert report.loaded == 2
    assert report.result.columns == ["id", "name"]
    assert {r["name"] for r in report.result.collect()} == {"a", "b"}
