"""Live post-load verification: source-vs-target checksum comparison
(plans/verify_load.py) and the WITH verify load migration hook."""

from __future__ import annotations

import os
import sqlite3

import pytest

from tests.pg_server import start_pg, stop_pg


@pytest.fixture(scope="module")
def pg_dsn():
    base, data, _port, dsn = start_pg("pgspark_verify")
    yield dsn
    stop_pg(base, data)


@pytest.fixture(scope="module")
def seeded(pg_dsn):
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(pg_dsn) as c:
        c.query("DROP TABLE IF EXISTS items")
        c.query("CREATE TABLE items (id bigint PRIMARY KEY, label text)")
        rows = "".join(f"{i}\titem_{i}\n" for i in range(1, 501))
        c.copy_in("COPY items FROM STDIN", [rows.encode()])
    return pg_dsn


def _source_df(spark, n=500):
    return spark.createDataFrame(
        [(i, f"item_{i}") for i in range(1, n + 1)], "id long, label string"
    )


def test_verify_table_match(seeded, spark):
    from pgloader_spark.plans.verify_load import verify_table

    row = verify_table(spark, _source_df(spark), seeded, "items", ["id"]).collect()[0]
    assert row.match
    assert row.src_rows == row.tgt_rows == 500
    assert row.src_checksum == row.tgt_checksum


def test_verify_table_detects_and_localizes_mismatch(seeded, spark):
    from pgloader_spark.operators.audit import bucket_checksums
    from pgloader_spark.plans.verify_load import verify_table
    from pgloader_spark.sources.pg_live import read_pg_table
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(seeded) as c:
        c.query("UPDATE items SET id = 99999 WHERE id = 250")
    try:
        row = verify_table(
            spark, _source_df(spark), seeded, "items", ["id"]
        ).collect()[0]
        assert not row.match
        assert row.src_rows == row.tgt_rows == 500  # counts alone can't see it
        assert row.src_checksum != row.tgt_checksum
        # the same portable per-key hash buckets both sides, so the
        # drill-down is a diff of two bucket frames
        src, tgt = (
            {
                r.bucket: (r.n_rows, r.key_checksum)
                for r in bucket_checksums(df, "items", ["id"], 32).collect()
            }
            for df in (
                _source_df(spark).select("id"),
                read_pg_table(spark, seeded, "items", columns=["id"]),
            )
        )
        bad = [b for b in set(src) | set(tgt) if src.get(b) != tgt.get(b)]
        # one moved key touches at most two buckets (old id's, new id's)
        assert 1 <= len(bad) <= 2
    finally:
        with PGConn(seeded) as c:
            c.query("UPDATE items SET id = 250 WHERE id = 99999")


def test_parse_with_verify_load_flag():
    from pgloader_spark.parsers.loadcmd import parse_load

    cmd = parse_load(
        "LOAD DATABASE FROM sqlite:///tmp/x.db "
        "INTO postgresql://localhost/db "
        "WITH create tables, verify load, on error stop;"
    )
    assert cmd.options.get("verify_load") is True
    assert cmd.options.get("on_error_stop") is True


def _make_sqlite(path: str) -> None:
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE widgets (id INTEGER PRIMARY KEY, name TEXT)")
    con.executemany(
        "INSERT INTO widgets VALUES (?, ?)",
        [(i, f"w{i}") for i in range(1, 201)],
    )
    con.commit()
    con.close()


def _migrate(spark, tmp_path, dsn, extra_sql: str | None) -> None:
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    db = os.path.join(str(tmp_path), "widgets.db")
    if not os.path.exists(db):
        _make_sqlite(db)
    after = f"AFTER LOAD DO $$ {extra_sql} $$" if extra_sql else ""
    cmd = parse_load(
        f"LOAD DATABASE FROM sqlite://{db} INTO {dsn} "
        "WITH include drop, create tables, verify load, on error stop "
        f"{after};"
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    return execute_database(ctx, cmd)


def test_migration_with_verify_load_passes(seeded, spark, tmp_path):
    reports = _migrate(spark, tmp_path, seeded, None)
    assert {r.table: r.loaded for r in reports} == {"widgets": 200}
    # LoadReport carries the verify outcome for programmatic callers
    assert [r.verified for r in reports] == [True]


def test_migration_verify_load_catches_tampering(seeded, spark, tmp_path):
    """AFTER LOAD runs before verification, so a row deleted there is
    exactly the 'target lost a row' failure verify load must catch;
    WITH on error stop escalates it to a hard failure."""
    with pytest.raises(RuntimeError, match="verify load failed.*widgets"):
        _migrate(spark, tmp_path, seeded, "DELETE FROM widgets WHERE id = 7")


def test_migration_verify_load_parquet_lake(spark, tmp_path):
    """verify load also covers parquet-lake targets: the loaded files
    read back and checksum-match the source frames."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    db = os.path.join(str(tmp_path), "lake_src.db")
    _make_sqlite(db)
    lake = os.path.join(str(tmp_path), "lake")
    cmd = parse_load(
        f"LOAD DATABASE FROM sqlite://{db} INTO {lake} "
        "WITH create tables, verify load, on error stop;"
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert {r.table: r.loaded for r in reports} == {"widgets": 200}
    assert [r.verified for r in reports] == [True]
    assert os.path.exists(os.path.join(lake, "widgets.parquet"))


def test_migration_verify_mismatch_reported_without_stop(seeded, spark, tmp_path):
    """Without WITH on error stop a verify mismatch must still be
    DETECTABLE by programmatic callers: LoadReport.verified is False
    (previously the failure existed only in a log line)."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    db = os.path.join(str(tmp_path), "widgets.db")
    _make_sqlite(db)
    cmd = parse_load(
        f"LOAD DATABASE FROM sqlite://{db} INTO {seeded} "
        "WITH include drop, create tables, verify load "
        "AFTER LOAD DO $$ DELETE FROM widgets WHERE id = 7 $$;"
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert [r.verified for r in reports] == [False]


def test_verify_table_schema_qualified(seeded, spark):
    """Non-public target schemas verify through the qualified name
    (regclass-resolved ctid ranges + qualified COPY), and the target
    read COPYs only the key columns."""
    from pgloader_spark.plans.verify_load import verify_table
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(seeded) as c:
        c.query("CREATE SCHEMA IF NOT EXISTS app")
        c.query("DROP TABLE IF EXISTS app.gadgets")
        c.query("CREATE TABLE app.gadgets (id bigint PRIMARY KEY, blob text)")
        rows = "".join(f"{i}\t{'x' * 200}\n" for i in range(1, 101))
        c.copy_in("COPY app.gadgets FROM STDIN", [rows.encode()])
    src = spark.createDataFrame(
        [(i, "x" * 200) for i in range(1, 101)], "id long, blob string"
    )
    row = verify_table(spark, src, seeded, "app.gadgets", ["id"]).collect()[0]
    assert row.match and row.src_rows == 100
