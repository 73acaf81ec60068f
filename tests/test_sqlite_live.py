"""Live SQLite end-to-end: introspect -> cast -> distributed read -> sink.

The closest thing to the reference's own lahman/chinook regression
runs that this container allows: a real SQLite file, real PRAGMA
introspection, the real sqlite cast-rule table, Arrow-batched range
reads, and a parquet target — row-for-row verified.
"""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import types as T

from pgloader_spark.sources.sqlite_live import (
    introspect_sqlite,
    read_sqlite_table,
)


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "src.db")
    con = sqlite3.connect(path)
    con.execute(
        """CREATE TABLE people (
             id INTEGER PRIMARY KEY,
             name TEXT NOT NULL,
             score REAL,
             balance NUMERIC(10,2),
             joined DATETIME,
             birthday DATE,
             active BOOLEAN,
             avatar BLOB)"""
    )
    rows = [
        (1, "ada", 9.5, 100.25, "2024-01-02 03:04:05", "1990-12-31", 1, b"\x89PNG"),
        (2, "grace", None, 0.5, None, None, 0, None),
        (3, "linus", 7.25, None, "2023-06-07 08:09:10", "2001-01-01", 1, b"\x00"),
    ]
    con.executemany("INSERT INTO people VALUES (?,?,?,?,?,?,?,?)", rows)
    con.execute("CREATE TABLE empty_t (x INTEGER, y TEXT)")
    # a TEXT cell holding invalid UTF-8 (sqlite allows it): row 4
    con.execute(
        "INSERT INTO people (id, name, active) VALUES (4, CAST(x'fffe' AS BLOB), 1)"
    )
    con.commit()
    con.close()
    return path


def test_introspection_and_cast_schema(spark, db):
    fields = introspect_sqlite(db)
    assert set(fields) == {"people", "empty_t"}
    df = read_sqlite_table(spark, db, "people")
    got = {f.name: type(f.dataType) for f in df.schema.fields}
    assert got == {
        "id": T.LongType,
        "name": T.StringType,
        "score": T.DoubleType,
        "balance": T.DecimalType,
        "joined": T.TimestampType,
        "birthday": T.DateType,
        "active": T.BooleanType,
        "avatar": T.BinaryType,
    }


def test_values_roundtrip_and_utf8_recovery(spark, db):
    rows = {r["id"]: r for r in read_sqlite_table(spark, db, "people").collect()}
    assert rows[1]["name"] == "ada"
    assert float(rows[1]["balance"]) == 100.25
    assert rows[1]["joined"].year == 2024 and rows[1]["birthday"].month == 12
    assert rows[1]["active"] is True and rows[2]["active"] is False
    assert bytes(rows[1]["avatar"]) == b"\x89PNG"
    assert rows[2]["score"] is None
    # invalid UTF-8 text cell -> NULL, row still loads
    assert rows[4]["name"] is None and rows[4]["active"] is True


def test_range_partitioned_read(spark, db):
    df = read_sqlite_table(spark, db, "people", rows_per_range=2)
    # 4 rows, 2 per range -> 2 ranges; every row exactly once
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3, 4]


@pytest.mark.parametrize("rows_per_range", [1, 2, 10])
def test_read_has_one_partition_per_range_and_none_empty(
    spark, db, rows_per_range
):
    """min(ranges, defaultParallelism) read tasks, none of them empty:
    every empty partition would still cost a Python reader task."""
    n_ranges = -(-4 // rows_per_range)  # rowids 1..4
    df = read_sqlite_table(spark, db, "people", rows_per_range=rows_per_range)
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == min(n_ranges, spark.sparkContext.defaultParallelism)
    assert 0 not in sizes and sum(sizes) == 4


def test_read_empty_table(spark, db):
    df = read_sqlite_table(spark, db, "empty_t")
    assert df.count() == 0 and df.columns == ["x", "y"]


def test_migrate_whole_db(spark, db, tmp_path):
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    cmd = parse_load(f"LOAD DATABASE FROM sqlite://{db} INTO {tmp_path}/lake;")
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    counts = {r.table: r.loaded for r in execute_database(ctx, cmd)}
    assert counts == {"people": 4, "empty_t": 0}
    back = spark.read.parquet(str(tmp_path / "lake" / "people.parquet"))
    assert back.count() == 4


def test_load_database_introspects_source_once(spark, db, tmp_path, monkeypatch):
    """LOAD DATABASE reads every table with the fields of its one
    catalog scan: the source is introspected once, not once more per
    table."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database
    from pgloader_spark.sources import sqlite_live

    calls = []
    real = sqlite_live.introspect_sqlite

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(sqlite_live, "introspect_sqlite", counting)
    cmd = parse_load(f"LOAD DATABASE FROM sqlite://{db} INTO {tmp_path}/lake;")
    reports = execute_database(ExecutionContext(spark=spark, root_dir=str(tmp_path)), cmd)
    assert {r.table: r.loaded for r in reports} == {"people": 4, "empty_t": 0}
    assert calls == [db]


def test_load_database_dsl_sqlite_to_parquet(spark, db, tmp_path):
    """`LOAD DATABASE FROM sqlite://...` through the parsed-DSL
    executor path: introspect -> cast -> distributed read -> parquet
    lake, with including filters honored."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    cmd = parse_load(
        f"""
LOAD DATABASE FROM sqlite://{db}
  INTO {tmp_path}/lake
  INCLUDING ONLY TABLE NAMES MATCHING 'people';
"""
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert [r.table for r in reports] == ["people"]
    assert reports[0].loaded == 4
    back = spark.read.parquet(f"{tmp_path}/lake/people.parquet")
    assert back.count() == 4
    assert dict(back.dtypes)["id"] == "bigint"


def test_load_database_sqlite_materialize_views_to_parquet(spark, tmp_path):
    """MATERIALIZE ALL VIEWS (matviews.lisp:14-85): each source view is
    staged as a source table, migrates under the view's name, and its
    staging table is dropped from the source afterwards."""
    import sqlite3

    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    db = str(tmp_path / "mv.db")
    con = sqlite3.connect(db)
    con.executescript(
        """
        CREATE TABLE base (id INTEGER PRIMARY KEY, grp TEXT, v INTEGER);
        INSERT INTO base VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 5);
        CREATE VIEW sums AS SELECT grp, SUM(v) AS total FROM base GROUP BY grp;
        """
    )
    con.close()
    cmd = parse_load(
        f"""
LOAD DATABASE FROM sqlite://{db}
  INTO {tmp_path}/lake
  INCLUDING ONLY TABLE NAMES MATCHING 'base'
  MATERIALIZE ALL VIEWS;
"""
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert {r.table: r.loaded for r in reports} == {"base": 3, "sums": 2}
    back = spark.read.parquet(f"{tmp_path}/lake/sums.parquet")
    # a CREATE TABLE AS column has no declared type in SQLite
    totals = {r["grp"]: int(r["total"]) for r in back.collect()}
    assert totals == {"a": 30, "b": 5}
    con = sqlite3.connect(db)
    left = {r[0] for r in con.execute("SELECT name FROM sqlite_master")}
    con.close()
    assert left == {"base", "sums"}


def test_introspect_sqlite_keys(tmp_path):
    """PRAGMA-based key extraction: rowid-alias PK (no index_list
    entry), composite PK autoindex folding, secondary + unique
    indexes, implicit-PK foreign keys."""
    import sqlite3

    from pgloader_spark.sources.sqlite_live import introspect_sqlite_keys

    db = str(tmp_path / "keys.db")
    con = sqlite3.connect(db)
    con.executescript(
        """
        CREATE TABLE artist (
          artist_id INTEGER PRIMARY KEY,      -- rowid alias
          name TEXT);
        CREATE INDEX idx_artist_name ON artist (name);
        CREATE TABLE album (
          album_id INTEGER PRIMARY KEY,
          title TEXT,
          artist_id INTEGER REFERENCES artist,  -- implicit PK target
          UNIQUE (title, artist_id));
        CREATE TABLE pair (
          a INTEGER, b INTEGER,
          PRIMARY KEY (a, b));                -- composite -> autoindex
        CREATE TABLE track (
          track_id INTEGER PRIMARY KEY,
          album_id INTEGER,
          FOREIGN KEY (album_id) REFERENCES album (album_id));
        """
    )
    con.close()
    keys = introspect_sqlite_keys(db)
    assert keys["artist"]["pk"] == ["artist_id"]
    assert keys["artist"]["indexes"] == [("idx_artist_name", ["name"], False)]
    assert keys["pair"]["pk"] == ["a", "b"]
    assert keys["pair"]["indexes"] == []  # autoindex folded into the pk
    # album: unique constraint is a real (auto-named) unique index in
    # sqlite_autoindex_ form -> folded out; PK from table_info
    assert keys["album"]["pk"] == ["album_id"]
    # implicit-PK FK: referenced column comes back None (resolved to
    # the referenced table's pk by the executor)
    (alb_fk,) = keys["album"]["fkeys"]
    assert alb_fk[0] == ["artist_id"] and alb_fk[1] == "artist"
    assert alb_fk[2] == [None]
    (trk_fk,) = keys["track"]["fkeys"]
    assert trk_fk[:3] == (["album_id"], "album", ["album_id"])
