"""The reference's MySQL ``test/*.load`` scenarios run verbatim
against the protocol-faithful stub server (no mysqld in this
container) and a live PostgreSQL target:

- ``sakila.load`` — the reference's marquee scenario: WITH worker
  knobs, SET parameters both sides, CAST rules, MATERIALIZE ALL
  VIEWS, ALTER TABLE SET SCHEMA / RENAME, ALTER SCHEMA RENAME.
- ``mysql/db789.load`` — data only + create no tables + truncate +
  name-only and SQL matviews + INCLUDING ONLY.
- ``mysql-collision.load`` — issue #353: 63-byte identifier collision
  must abort before touching the target.

Only the connection strings are rewritten (the scenarios hardcode
``mysql://root@localhost`` and a local PG); everything else is the
reference's own text.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from tests.fixtures.mysql_stub import (
    MySQLStubServer,
    StubColumn,
    StubTable,
)
from pgloader_spark.sources.pgwire import PGConn, PGError

PORT = None  # free port per session, set by the pg_root fixture
REF = "/root/reference/test"

from tests.pg_server import start_pg, stop_pg


@pytest.fixture(scope="module")
def pg_root():
    global PORT
    base, data, PORT, root = start_pg("pgspark_myscen")
    with PGConn(root) as c:
        c.query("CREATE DATABASE sakila")
        c.query("CREATE DATABASE pgloader")
    yield root
    stop_pg(base, data)


def _dsn(db: str) -> str:
    return f"postgresql://postgres@127.0.0.1:{PORT}/{db}"


def _run_scenario(path: str, replacements: dict, spark, tmp_path):
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    if not os.path.exists(path):
        pytest.skip("reference corpus not available")
    text = open(path, encoding="utf-8", errors="replace").read()
    for old, new in replacements.items():
        text = text.replace(old, new)
    cmd = parse_load(text)
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    return execute_database(ctx, cmd)


# --------------------------------------------------------------- fixtures


def sakila_stub() -> MySQLStubServer:
    actors = [
        (i, f"FIRST{i}", f"LAST{i}", f"2006-02-15 04:34:{i % 60:02d}")
        for i in range(1, 36)
    ]
    films = [
        (1, "ACADEMY DINOSAUR", 2006, "0.99", "PG",
         "2006-02-15 05:03:42"),
        (2, "ACE GOLDFINGER", 2006, "4.99", "G", "0000-00-00 00:00:00"),
        (3, "ADAPTATION HOLES", 2007, "2.99", "NC-17",
         "2006-02-15 05:03:42"),
    ]
    tables = [
        StubTable(
            name="actor",
            comment="cast members",
            columns=[
                StubColumn("actor_id", "smallint(5) unsigned",
                           nullable=False, extra="auto_increment"),
                StubColumn("first_name", "varchar(45)", nullable=False,
                           comment="given name"),
                StubColumn("last_name", "varchar(45)", nullable=False),
                StubColumn("last_update", "timestamp", nullable=False),
            ],
            rows=actors,
            pkey=["actor_id"],
        ),
        StubTable(
            name="film",
            columns=[
                StubColumn("film_id", "smallint(5) unsigned",
                           nullable=False, extra="auto_increment"),
                StubColumn("title", "varchar(128)", nullable=False),
                StubColumn("release_year", "year(4)"),
                StubColumn("rental_rate", "decimal(4,2)", nullable=False),
                StubColumn("rating", "enum('G','PG','PG-13','R','NC-17')"),
                StubColumn("last_update", "datetime", nullable=False,
                           default="0000-00-00 00:00:00"),
            ],
            rows=films,
            pkey=["film_id"],
            checks=[("film_chk_1", "`rental_rate` >= 0")],
        ),
        StubTable(
            name="store",
            columns=[
                StubColumn("store_id", "tinyint(3) unsigned",
                           nullable=False, extra="auto_increment"),
                StubColumn("manager", "varchar(45)", nullable=False),
            ],
            rows=[(1, "Mike"), (2, "Jon")],
            pkey=["store_id"],
        ),
    ]
    views = [
        ("film_list", 'SELECT film_id AS fid, title, rating FROM "film"'),
        ("sales_by_store",
         'SELECT s.store_id, s.manager, COUNT(*) AS total '
         'FROM "store" s, "film" f GROUP BY s.store_id, s.manager'),
    ]
    return MySQLStubServer("sakila", tables, views=views)


# --------------------------------------------------------------- scenarios


def test_sakila_load_runs_verbatim(pg_root, spark, tmp_path):
    """sakila.load end-to-end: tables land in pagila (schema renamed
    from sakila), matviews in mv, film renamed to films, zero dates
    NULLed by the CAST rule, enum type created."""
    with sakila_stub() as srv:
        reports = _run_scenario(
            f"{REF}/sakila.load",
            {
                "mysql://root@localhost/sakila?sslmode=disable":
                    f"mysql://root@127.0.0.1:{srv.port}/sakila",
                "postgresql:///sakila": _dsn("sakila"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got["actor"] == 35
    assert got["films"] == 3  # ALTER TABLE ... RENAME film -> films
    assert got["film_list"] == 3
    assert got["sales_by_store_list"] == 2  # renamed matview
    with PGConn(_dsn("sakila")) as c:
        _, rows = c.query("SELECT COUNT(*) FROM pagila.actor")
        assert rows == [("35",)]
        _, rows = c.query(
            "SELECT title, last_update FROM pagila.films ORDER BY film_id"
        )
        assert rows[0][0] == "ACADEMY DINOSAUR"
        assert rows[1][1] is None  # zero date -> NULL (CAST rule)
        _, rows = c.query("SELECT fid, title FROM mv.film_list ORDER BY fid")
        assert len(rows) == 3
        _, rows = c.query(
            "SELECT manager FROM mv.sales_by_store_list ORDER BY store_id"
        )
        assert rows == [("Mike",), ("Jon",)]
        # schema landscape: everything in pagila/mv, nothing in public
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables "
            "WHERE table_schema = 'public'"
        )
        assert rows == [("0",)]
        # the MySQL enum became a PostgreSQL enum type
        _, rows = c.query(
            "SELECT typname FROM pg_type WHERE typname LIKE 'film_rating%'"
        )
        assert rows != []
        # catalog extras migrated (round 4): the table comment, the
        # column comment, and the CHECK constraint (renamed table)
        _, rows = c.query(
            "SELECT obj_description('pagila.actor'::regclass, 'pg_class')"
        )
        assert rows == [("cast members",)]
        _, rows = c.query(
            "SELECT col_description('pagila.actor'::regclass, 2)"
        )
        assert rows == [("given name",)]
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_constraint pc "
            "JOIN pg_class t ON t.oid = pc.conrelid "
            "WHERE pc.contype = 'c' AND t.relname = 'films'"
        )
        assert int(rows[0][0]) >= 1
        with pytest.raises(PGError, match="23514"):  # CHECK enforces
            c.query(
                "INSERT INTO pagila.films (film_id, title, rental_rate) "
                "VALUES (999, 'BAD', -1)"
            )


def test_sakila_data_reload_into_existing_schema(pg_root, spark, tmp_path):
    """sakila-data.load: WITH create no tables, include drop, truncate
    — the data-only reload path.  Per the scenario's own comment it
    runs against a schema created by a first migration, so we run one
    plain LOAD DATABASE first, then the scenario verbatim; the reload
    must truncate-and-refill, not duplicate."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    with PGConn(_dsn("sakila")) as c:
        c.query("DROP SCHEMA IF EXISTS sakila CASCADE")
    with sakila_stub() as srv:
        my = f"mysql://root@127.0.0.1:{srv.port}/sakila"
        first = parse_load(
            f"LOAD DATABASE FROM {my} INTO {_dsn('sakila')} "
            "MATERIALIZE ALL VIEWS;"
        )
        ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
        execute_database(ctx, first)
        reports = _run_scenario(
            f"{REF}/sakila-data.load",
            {
                "mysql://root@localhost/sakila": my,
                "postgresql:///sakila": _dsn("sakila"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got["actor"] == 35 and got["film_list"] == 3
    with PGConn(_dsn("sakila")) as c:
        _, rows = c.query("SELECT COUNT(*) FROM sakila.actor")
        assert rows == [("35",)]  # truncated + reloaded, not 70
        _, rows = c.query("SELECT COUNT(*) FROM sakila.film_list")
        assert rows == [("3",)]


def test_db789_matviews_data_only(pg_root, spark, tmp_path):
    """mysql/db789.load: WITH data only, truncate, create no tables;
    MATERIALIZE VIEWS with a name-only view (exists on the source) and
    an inline SQL view; INCLUDING ONLY filters the base table away."""
    tables = [
        StubTable(
            name="refrain",
            columns=[StubColumn("id", "char(1)", nullable=False)],
            rows=[("a",), ("b",), ("c",), ("d",)],
            pkey=["id"],
        ),
    ]
    views = [("proceed", "SELECT * FROM \"refrain\" WHERE id > 'b'")]
    with MySQLStubServer("db789", tables, views=views) as srv:
        reports = _run_scenario(
            f"{REF}/mysql/db789.load",
            {
                "mysql://root@localhost/db789":
                    f"mysql://root@127.0.0.1:{srv.port}/db789",
                "postgres:///pgloader": _dsn("pgloader"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got == {"proceed": 2, "foo": 1}  # refrain filtered out
    with PGConn(_dsn("pgloader")) as c:
        _, rows = c.query("SELECT id FROM db789.proceed ORDER BY id")
        assert rows == [("c",), ("d",)]
        _, rows = c.query("SELECT a FROM db789.foo")
        assert rows == [("1",)]
        # data only: the executor created NO tables (BEFORE LOAD did)
        _, rows = c.query("SELECT COUNT(*) FROM db789.refrain")
        assert rows == [("0",)]


def test_db789_truncate_on_rerun(pg_root, spark, tmp_path):
    """WITH truncate: re-running the scenario must not double rows."""
    tables = [
        StubTable(
            name="refrain",
            columns=[StubColumn("id", "char(1)", nullable=False)],
            rows=[("a",), ("b",), ("c",), ("d",)],
            pkey=["id"],
        ),
    ]
    views = [("proceed", "SELECT * FROM \"refrain\" WHERE id > 'b'")]
    with MySQLStubServer("db789", tables, views=views) as srv:
        repl = {
            "mysql://root@localhost/db789":
                f"mysql://root@127.0.0.1:{srv.port}/db789",
            "postgres:///pgloader": _dsn("pgloader"),
        }
        _run_scenario(f"{REF}/mysql/db789.load", repl, spark, tmp_path)
        reports = _run_scenario(
            f"{REF}/mysql/db789.load", repl, spark, tmp_path
        )
    assert {r.table: r.loaded for r in reports} == {"proceed": 2, "foo": 1}
    with PGConn(_dsn("pgloader")) as c:
        _, rows = c.query("SELECT COUNT(*) FROM db789.proceed")
        assert rows == [("2",)]  # truncated, not appended


def test_mysql_collision_fails_fast(pg_root, spark, tmp_path):
    """mysql-collision.load (issue #353): two column names truncating
    to the same 63-byte identifier abort before any target DDL."""
    from pgloader_spark.catalog import IdentifierCollision

    long_a = (
        "col_very_long_name_that_exceeds_postgresql_identifier_limit_aaax"
    )
    long_b = (
        "col_very_long_name_that_exceeds_postgresql_identifier_limit_aaay"
    )
    tables = [
        StubTable(
            name="products",
            columns=[
                StubColumn("id", "int(11)", nullable=False),
                StubColumn("name", "varchar(100)", nullable=False),
                StubColumn(long_a, "int(11)"),
                StubColumn(long_b, "int(11)"),
            ],
            rows=[(1, "x", 1, 2)],
            pkey=["id"],
        ),
    ]
    with MySQLStubServer("mysql_collision", tables) as srv:
        with pytest.raises(IdentifierCollision, match="col_very_long_name"):
            _run_scenario(
                f"{REF}/mysql-collision.load",
                {
                    "mysql://root@localhost/mysql_collision":
                        f"mysql://root@127.0.0.1:{srv.port}/mysql_collision",
                    "postgresql:///pgloader": _dsn("pgloader"),
                },
                spark,
                tmp_path,
            )
    with PGConn(_dsn("pgloader")) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables "
            "WHERE table_name = 'products'"
        )
        assert rows == [("0",)]  # nothing was created


# ------------------------------------------------- test/mysql/my.load


def test_my_load_cast_rule_surface(pg_root, spark, tmp_path):
    """mysql/my.load verbatim: the reference's densest CAST-rule file.

    Exercises per-column rules with USING transforms applied to the
    DATA of a LOAD DATABASE (empty-string-to-null, base64-decode to
    jsonb, byte-vector-to-hexstring to uuid), the typemod-guarded
    decimal(18,6) -> double precision sexp rule, smallint unsigned ->
    int, the ``when default "CURRENT_TIMESTAMP" with extra on update
    current timestamp`` guard (drop default/not null/extra +
    zero-dates-to-null), WITH quote identifiers, and ALTER SCHEMA
    'pgloader' RENAME TO 'mysql'."""
    canary = bytes(range(16))
    tables = [
        StubTable(
            name="utilisateurs__Yvelines2013-06-28",
            columns=[
                StubColumn("id", "int(11)", nullable=False,
                           extra="auto_increment"),
                StubColumn("sexe", "varchar(8)", nullable=False),
            ],
            rows=[(1, "M"), (2, ""), (3, "F")],
            pkey=["id"],
        ),
        StubTable(
            name="base64",
            columns=[
                StubColumn("id", "char(36)", nullable=False),
                StubColumn("data", "text"),
            ],
            rows=[
                ("6fa459ea-ee8a-3ca4-894e-db77e160355e", "eyJrIjogInYifQ=="),
            ],
            pkey=["id"],
        ),
        StubTable(
            name="encryption_key_canary",
            columns=[
                StubColumn("id", "int(11)", nullable=False),
                StubColumn("uuid", "binary(16)"),
            ],
            rows=[(1, canary)],
            pkey=["id"],
        ),
        StubTable(
            name="metrics",
            columns=[
                StubColumn("id", "int(11)", nullable=False),
                StubColumn("amount", "decimal(18,6)"),
                StubColumn("ratio", "decimal(10,2)"),
                StubColumn("small", "smallint(5) unsigned"),
                StubColumn("updated_at", "timestamp", nullable=False,
                           default="CURRENT_TIMESTAMP",
                           extra="on update CURRENT_TIMESTAMP"),
            ],
            rows=[
                (1, "1.5", "2.25", 7, "2020-01-02 03:04:05"),
                (2, "2.5", "3.50", 8, "0000-00-00 00:00:00"),
            ],
            pkey=["id"],
        ),
    ]
    with PGConn(_dsn("pgloader")) as c:
        c.query("DROP SCHEMA IF EXISTS mysql CASCADE")
    with MySQLStubServer("pgloader", tables) as srv:
        reports = _run_scenario(
            f"{REF}/mysql/my.load",
            {
                "mysql://root@unix:/tmp/mysql.sock:3306/pgloader":
                    f"mysql://root@127.0.0.1:{srv.port}/pgloader",
                "postgresql:///pgloader": _dsn("pgloader"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got["utilisateurs__Yvelines2013-06-28"] == 3
    assert got["base64"] == 1
    assert got["encryption_key_canary"] == 1
    assert got["metrics"] == 2
    with PGConn(_dsn("pgloader")) as c:
        # ALTER SCHEMA renamed pgloader -> mysql; quote identifiers
        # preserved the dashed table name exactly
        _, rows = c.query(
            'SELECT sexe FROM mysql."utilisateurs__Yvelines2013-06-28"'
            " ORDER BY id"
        )
        assert rows == [("M",), (None,), ("F",)]  # '' -> NULL
        _, rows = c.query(
            "SELECT data_type, is_nullable FROM information_schema.columns"
            " WHERE table_schema = 'mysql' AND column_name = 'sexe'"
        )
        assert rows == [("text", "YES")]  # to text drop not null
        # base64: id -> uuid, data -> jsonb via base64-decode
        _, rows = c.query(
            "SELECT data_type FROM information_schema.columns WHERE"
            " table_schema = 'mysql' AND table_name = 'base64'"
            " ORDER BY ordinal_position"
        )
        assert rows == [("uuid",), ("jsonb",)]
        _, rows = c.query('SELECT data->>\'k\' FROM mysql."base64"')
        assert rows == [("v",)]
        # binary(16) -> uuid via byte-vector-to-hexstring
        _, rows = c.query(
            "SELECT uuid FROM mysql.encryption_key_canary"
        )
        assert rows == [("00010203-0405-0607-0809-0a0b0c0d0e0f",)]
        # decimal(18,6) matched the sexp guard -> double precision;
        # decimal(10,2) did not -> numeric; smallint unsigned -> int
        _, rows = c.query(
            "SELECT column_name, data_type, is_nullable, column_default"
            " FROM information_schema.columns WHERE table_schema = 'mysql'"
            " AND table_name = 'metrics' ORDER BY ordinal_position"
        )
        byname = {r[0]: r[1:] for r in rows}
        assert byname["amount"][0] == "double precision"
        assert byname["ratio"][0] == "numeric"
        assert byname["small"][0] == "integer"
        # timestamp rule: timestamptz, default dropped, NOT NULL dropped
        assert byname["updated_at"][0] == "timestamp with time zone"
        assert byname["updated_at"][1] == "YES"
        assert byname["updated_at"][2] is None
        _, rows = c.query(
            "SELECT updated_at FROM mysql.metrics ORDER BY id"
        )
        assert rows[0][0] is not None
        assert rows[1][0] is None  # zero date -> NULL


# ------------------------------------------- test/mysql/f1db*.load


def _f1db_stub() -> MySQLStubServer:
    circuits = [(i, f"ref{i}", f"Circuit {i}", f"City {i}", "Italy",
                 9.0 + i, 45.0 + i, 100 + i, f"http://c/{i}")
                for i in range(1, 6)]
    races = [(i, 2019, i, f"GP {i}") for i in range(1, 4)]
    results = [(i, (i % 3) + 1, float(10 - i)) for i in range(1, 10)]
    tables = [
        StubTable(
            name="circuits",
            columns=[
                StubColumn("circuitid", "int(11)", nullable=False,
                           extra="auto_increment"),
                StubColumn("circuitref", "varchar(255)", nullable=False),
                StubColumn("name", "varchar(255)", nullable=False),
                StubColumn("location", "varchar(255)"),
                StubColumn("country", "varchar(255)"),
                StubColumn("lng", "double"),
                StubColumn("lat", "double"),
                StubColumn("alt", "int(11)"),
                StubColumn("url", "varchar(255)"),
            ],
            rows=circuits,
            pkey=["circuitid"],
        ),
        StubTable(
            name="races",
            columns=[
                StubColumn("raceid", "int(11)", nullable=False,
                           extra="auto_increment"),
                StubColumn("year", "int(11)", nullable=False),
                StubColumn("round", "int(11)", nullable=False),
                StubColumn("name", "varchar(255)", nullable=False),
            ],
            rows=races,
            pkey=["raceid"],
        ),
        StubTable(
            name="results",
            columns=[
                StubColumn("resultid", "int(11)", nullable=False,
                           extra="auto_increment"),
                StubColumn("raceid", "int(11)", nullable=False),
                StubColumn("points", "double"),
            ],
            rows=results,
            pkey=["resultid"],
        ),
    ]
    return MySQLStubServer("f1db", tables)


def test_f1db_load_plain_migration(pg_root, spark, tmp_path):
    """mysql/f1db.load verbatim: the two-line LOAD DATABASE — all
    defaults (downcase identifiers, create tables, every table)."""
    with PGConn(pg_root) as c:
        if c.query("SELECT 1 FROM pg_database WHERE datname = 'plop'")[1] == []:
            c.query("CREATE DATABASE plop")
    with PGConn(_dsn("plop")) as c:
        c.query("DROP SCHEMA IF EXISTS f1db CASCADE")
    with _f1db_stub() as srv:
        reports = _run_scenario(
            f"{REF}/mysql/f1db.load",
            {
                "mysql://root@localhost/f1db?useSSL=false":
                    f"mysql://root@127.0.0.1:{srv.port}/f1db",
                "pgsql:///plop": _dsn("plop"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got == {"circuits": 5, "races": 3, "results": 9}
    with PGConn(_dsn("plop")) as c:
        _, rows = c.query("SELECT COUNT(*) FROM f1db.results")
        assert rows == [("9",)]
        _, rows = c.query(
            "SELECT name FROM f1db.circuits ORDER BY circuitid LIMIT 1"
        )
        assert rows == [("Circuit 1",)]


def test_f1db_data_matview_only(pg_root, spark, tmp_path):
    """mysql/f1db-data.load verbatim: data only + create no tables +
    EXCLUDING ~/./ (every base table) + MATERIALIZE VIEWS circuit AS
    $$ ... concat(...) ... $$ — only the matview migrates, into a
    pre-existing target table (the data-only contract)."""
    with PGConn(pg_root) as c:
        if c.query("SELECT 1 FROM pg_database WHERE datname = 'plop'")[1] == []:
            c.query("CREATE DATABASE plop")
    with PGConn(_dsn("plop")) as c:
        c.query("DROP SCHEMA IF EXISTS f1db CASCADE")
        c.query("CREATE SCHEMA f1db")
        c.query(
            "CREATE TABLE f1db.circuit (circuitid int, circuitref text,"
            " name text, location text, country text, position text,"
            " alt bigint, url text)"
        )
    with _f1db_stub() as srv:
        reports = _run_scenario(
            f"{REF}/mysql/f1db-data.load",
            {
                "mysql://root@localhost/f1db":
                    f"mysql://root@127.0.0.1:{srv.port}/f1db",
                "pgsql:///plop": _dsn("plop"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got == {"circuit": 5}  # every base table excluded
    with PGConn(_dsn("plop")) as c:
        _, rows = c.query(
            "SELECT position FROM f1db.circuit ORDER BY circuitid LIMIT 1"
        )
        assert rows == [("(10.0,46.0)",)]  # concat('(', lng, ',', lat, ')')
        # data only: the executor created no base tables
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables WHERE"
            " table_schema = 'f1db' AND table_name = 'circuits'"
        )
        assert rows == [("0",)]


def test_f1db_citus_distribute_rules(pg_root, spark, tmp_path):
    """mysql/f1db-citus.load verbatim: 13 DISTRIBUTE rules (6 AS
    REFERENCE TABLE, 7 USING raceId) parse and drive citus_ddl with
    reference tables first; the migration itself runs against plain
    PostgreSQL (the citus extension DDL needs a Citus server)."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.citus import DistributionRule, citus_ddl

    with PGConn(pg_root) as c:
        if c.query("SELECT 1 FROM pg_database WHERE datname = 'dim'")[1] == []:
            c.query("CREATE DATABASE dim")
    with PGConn(_dsn("dim")) as c:
        c.query("DROP SCHEMA IF EXISTS f1db CASCADE")
    ref = f"{REF}/mysql/f1db-citus.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    text = open(ref, encoding="utf-8").read()
    cmd = parse_load(text)
    dist = cmd.options.get("distribute")
    assert len(dist) == 13
    rules = [
        DistributionRule(d["table"], d["column"], d["from_tables"])
        for d in dist
    ]
    stmts = citus_ddl(rules)
    assert len(stmts) == 13
    # reference tables first (they must exist on all nodes before FKs)
    assert all("create_reference_table" in s for s in stmts[:6])
    assert all("create_distributed_table" in s for s in stmts[6:])
    assert "SELECT create_distributed_table('f1db.results', 'raceId');" in stmts
    with _f1db_stub() as srv:
        reports = _run_scenario(
            ref,
            {
                "mysql://root@localhost/f1db?useSSL=false":
                    f"mysql://root@127.0.0.1:{srv.port}/f1db",
                "pgsql://localhost:9700/dim": _dsn("dim"),
            },
            spark,
            tmp_path,
        )
    got = {r.table: r.loaded for r in reports}
    assert got == {"circuits": 5, "races": 3, "results": 9}
    with PGConn(_dsn("dim")) as c:
        _, rows = c.query("SELECT COUNT(*) FROM f1db.races")
        assert rows == [("3",)]


def test_with_drop_schema_clears_stale_objects(pg_root, spark, tmp_path):
    """WITH drop schema: the target schema drops CASCADE before the
    migration recreates it, so stale objects from earlier runs (even
    ones the table-level include-drop would miss) are gone."""
    with PGConn(_dsn("postgres")) as c:
        _, have = c.query(
            "SELECT COUNT(*) FROM pg_database WHERE datname = 'dropschema'"
        )
        if have == [("0",)]:
            c.query("CREATE DATABASE dropschema")
    dsn = _dsn("dropschema")
    with PGConn(dsn) as c:
        c.query("CREATE SCHEMA IF NOT EXISTS sakila")
        c.query("CREATE TABLE IF NOT EXISTS sakila.stale_leftover (x int)")
    load = tmp_path / "ds.load"
    with sakila_stub() as srv:
        load.write_text(
            f"LOAD DATABASE FROM mysql://root@127.0.0.1:{srv.port}/sakila\n"
            f"  INTO {dsn}\n"
            "  WITH drop schema, include drop, create tables;\n"
        )
        from pgloader_spark.cli import main

        assert main([str(load), "--master", "local[4]",
                     "--root-dir", str(tmp_path / "rej")]) == 0
    with PGConn(dsn) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables "
            "WHERE table_schema = 'sakila' AND table_name = 'stale_leftover'"
        )
        assert rows == [("0",)]  # CASCADE took it
        _, rows = c.query("SELECT COUNT(*) FROM sakila.actor")
        assert rows == [("35",)]
