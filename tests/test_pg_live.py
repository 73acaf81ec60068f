"""Live PostgreSQL end-to-end: a real server (initdb + pg_ctl),
the stdlib wire client, distributed ctid-range COPY reads, and the
per-partition COPY sink.

This is the reference's flagship path — live database in, migrated
data out (src/sources/mysql/mysql.lisp:100-131 for the shape;
PostgreSQL plays both roles here because it is the server this
container ships).  Skipped cleanly when no server binary exists.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

import pytest

from pgloader_spark.sources.pgwire import PGConn, PGError, _parse_dsn
from tests.pg_server import scenario_sink, start_pg, stop_pg, su_pg as _su_pg


@pytest.fixture(scope="module")
def pg_dsn():
    base, data, _port, dsn = start_pg("pgspark_test")
    yield dsn
    stop_pg(base, data)


# ------------------------------------------------------------- wire client


def test_wire_query_and_types(pg_dsn):
    with PGConn(pg_dsn) as c:
        cols, rows = c.query("SELECT 1 AS a, 'x' AS b, NULL AS c")
        assert cols == ["a", "b", "c"]
        assert rows == [("1", "x", None)]


def test_wire_error_surfaces_sqlstate(pg_dsn):
    with PGConn(pg_dsn) as c:
        with pytest.raises(PGError, match="42P01"):
            c.query("SELECT * FROM no_such_table_xyz")
        # connection stays usable after an error (ReadyForQuery resync)
        assert c.query("SELECT 2")[1] == [("2",)]


def test_wire_copy_roundtrip_escapes(pg_dsn):
    with PGConn(pg_dsn) as c:
        c.query("DROP TABLE IF EXISTS esc")
        c.query("CREATE TABLE esc (id int, s text)")
        payload = b"1\ta\\tb\n2\t\\N\n3\tline\\nbreak\n"
        assert c.copy_in("COPY esc FROM STDIN", [payload]) == 3
        out = b"".join(c.copy_out("COPY esc TO STDOUT"))
        assert out == payload
        _, rows = c.query("SELECT s FROM esc ORDER BY id")
        assert rows == [("a\tb",), (None,), ("line\nbreak",)]


def test_dsn_parsing_unix_socket(monkeypatch, tmp_path):
    monkeypatch.setenv("PGPASSFILE", str(tmp_path / "nonexistent"))
    cfg = _parse_dsn("postgresql://u@/db?host=/tmp/sock&port=5440")
    assert cfg == {
        "host": "/tmp/sock",
        "port": 5440,
        "user": "u",
        "database": "db",
        "password": None,
        "sslmode": "prefer",  # libpq's default
        "sslrootcert": None,
    }
    # inline password wins without any pgpass consultation
    cfg2 = _parse_dsn("postgresql://u:s3cr%40t@h:5440/db")
    assert cfg2["password"] == "s3cr@t"


# --------------------------------------------------- distributed read path


@pytest.fixture(scope="module")
def seeded(pg_dsn):
    with PGConn(pg_dsn) as c:
        c.query("DROP TABLE IF EXISTS people")
        c.query(
            "CREATE TABLE people (id bigint PRIMARY KEY, name text, "
            "score numeric(10,2), active boolean, joined timestamp)"
        )
        rows = "".join(
            f"{i}\tuser_{i}\t{i}.25\t{'t' if i % 2 else 'f'}"
            f"\t2024-01-{(i % 28) + 1:02d} 12:00:00\n"
            for i in range(1, 2001)
        )
        c.copy_in("COPY people FROM STDIN", [rows.encode()])
        # the reference regress environment pre-creates these schemas
        # (its Makefile runs scenarios in a prepared database)
        c.query("CREATE SCHEMA IF NOT EXISTS csv")
        c.query("CREATE SCHEMA IF NOT EXISTS dbf")
        c.query('CREATE SCHEMA IF NOT EXISTS "copy"')
    return pg_dsn


def test_introspect_pg(seeded):
    from pgloader_spark.sources.pg_live import introspect_pg

    cat = introspect_pg(seeded)
    fields = {f.name: f for f in cat["people"]}
    assert fields["id"].type_name == "bigint"
    assert fields["score"].type_mod == "(10,2)"
    assert fields["active"].type_name == "boolean"


def test_read_pg_table_distributed(seeded, spark):
    from pgloader_spark.sources.pg_live import read_pg_table

    df = read_pg_table(spark, seeded, "people", pages_per_range=5)
    assert df.rdd.getNumPartitions() >= 2  # genuinely range-partitioned
    assert df.count() == 2000
    r = df.filter("id = 7").collect()[0]
    assert r["name"] == "user_7"
    assert float(r["score"]) == 7.25
    assert r["active"] is True
    assert r["joined"].day == 8


def test_migrate_pg_to_parquet(seeded, spark, tmp_path):
    from pgloader_spark.sources.pg_live import migrate_pg_to_parquet

    counts = migrate_pg_to_parquet(spark, seeded, str(tmp_path))
    assert counts["people"] == 2000
    back = spark.read.parquet(str(tmp_path / "people.parquet"))
    assert back.filter("active").count() == 1000


# --------------------------------------------------- distributed COPY sink


def test_load_database_end_to_end(seeded, spark):
    """The pgloader flagship shape: LOAD DATABASE FROM postgresql://
    -> introspect -> cast -> partitioned read -> COPY sink into a new
    table on the same server (source and target roles both live)."""
    from pgloader_spark.sources.pg_live import read_pg_table, write_pg_copy
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS people_copy")
        c.query(
            "CREATE TABLE people_copy (id bigint, name text, "
            "score numeric(10,2), active boolean, joined timestamp)"
        )
    df = read_pg_table(spark, seeded, "people", pages_per_range=5)
    write_pg_copy(df, seeded, "people_copy")
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*), SUM(score), COUNT(*) FILTER (WHERE active) "
            "FROM people_copy"
        )
        n, total, active = rows[0]
        assert n == "2000"
        assert float(total) == sum(i + 0.25 for i in range(1, 2001))
        assert active == "1000"


def test_load_database_dsl_live(seeded, spark, tmp_path):
    """Parse `LOAD DATABASE FROM postgresql://` text and execute it
    live into a SECOND database on the server: introspect -> cast ->
    DDL on target (DROP/CREATE) -> partitioned COPY reads ->
    per-partition COPY writes, all through the DSL path."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(seeded) as c:
        _, dbs = c.query(
            "SELECT COUNT(*) FROM pg_database WHERE datname = 'migr_target'"
        )
        if dbs == [("0",)]:
            c.query("CREATE DATABASE migr_target")
    target = seeded.rsplit("/", 1)[0] + "/migr_target"
    cmd = parse_load(
        f"""
LOAD DATABASE FROM {seeded}
  INTO {target}
  INCLUDING ONLY TABLE NAMES MATCHING 'people';
"""
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert any(r.table == "people" and r.loaded == 2000 for r in reports)
    with PGConn(target) as c:
        _, rows = c.query(
            "SELECT COUNT(*), COUNT(*) FILTER (WHERE active) FROM people"
        )
        assert rows == [("2000", "1000")]
        # DDL carried the cast-rule types onto the target
        _, types = c.query(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_name = 'people' AND column_name = 'score'"
        )
        assert types == [("numeric",)]


def test_load_database_dsl_to_parquet(seeded, spark, tmp_path):
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    cmd = parse_load(
        f"""
LOAD DATABASE FROM {seeded}
  INTO {tmp_path}/lake
  INCLUDING ONLY TABLE NAMES MATCHING 'people';
"""
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert [r.loaded for r in reports if r.table == "people"] == [2000]
    back = spark.read.parquet(f"{tmp_path}/lake/people.parquet")
    assert back.count() == 2000
    assert dict(back.dtypes)["active"] == "boolean"


def test_load_database_with_workers_option(seeded, spark, tmp_path):
    """WITH workers = N flows through to the COPY stream count."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database
    from pgloader_spark.sources.pgwire import PGConn

    target = seeded.rsplit("/", 1)[0] + "/migr_target"
    cmd = parse_load(
        f"""
LOAD DATABASE FROM {seeded}
  INTO {target}
  WITH workers = 3
  INCLUDING ONLY TABLE NAMES MATCHING 'people';
"""
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert reports[0].loaded == 2000
    with PGConn(target) as c:
        assert c.query("SELECT COUNT(*) FROM people")[1] == [("2000",)]


def test_reference_csv_load_file_runs_verbatim(seeded, spark, tmp_path):
    """The reference's own test/csv.load executes against a live
    PostgreSQL: BEFORE LOAD DO DDL via the wire client, inline CSV
    parse with its quote/escape/skip options, column-list projection,
    COPY sink.  Only the INTO connection string is substituted (the
    reference itself points it at whatever PGHOST says)."""
    ref = "/root/reference/test/csv.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute
    from pgloader_spark.sources.pg_live import write_pg_copy
    from pgloader_spark.sources.pgwire import PGConn

    text = open(ref, encoding="utf-8").read()
    text = text.replace("postgresql:///pgloader?csv", f"{seeded}?csv")
    cmd = parse_load(text)
    assert cmd.options.get("skip_lines") == 1

    runner_conn = PGConn(seeded)
    try:
        ctx = ExecutionContext(
            spark=spark,
            root_dir=str(tmp_path),
            sql_runner=lambda sql: runner_conn.query(sql),
            sink=lambda df, t, _cmd: write_pg_copy(df, seeded, t),
        )
        report = execute(ctx, cmd)
    finally:
        runner_conn.close()
    assert report.loaded == 6
    with PGConn(seeded) as c:
        _, rows = c.query(
            'SELECT a, b, c, "camelCase" FROM csv ORDER BY a'
        )
    assert rows[0] == ("33996344", "33996351", "GB", "United Kingdom")
    assert len(rows) == 6
    assert {r[2] for r in rows} == {"GB", "US", "CA"}


def _run_ref_scenario(name, seeded, spark, tmp_path):
    """Execute the reference's own test/<name>.load against a live
    PostgreSQL, verbatim except (a) the connection string points at
    the test server (what PGHOST does for the reference) and (b)
    relative data paths resolve against the reference checkout.
    Returns (report, first loaded table name)."""
    import re as _re

    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute
    from pgloader_spark.sources.pgwire import PGConn

    ref = f"/root/reference/test/{name}.load"
    text = open(ref, encoding="utf-8", errors="replace").read()
    for pat in (
        "postgresql:///pgloader",
        "postgres:///pgloader",
        "postgresql://dim@localhost/pgloader",
    ):
        text = text.replace(pat, seeded)
    text = text.replace("data/", "/root/reference/test/data/")
    text = text.replace("in directory 'data'", "in directory '/root/reference/test/data'")
    text = _re.sub(
        r"(FROM\s+)((?!/|inline|INLINE|http|stdin)\S+\.(?:dat|csv|dbf|ixf|fixed))",
        r"\1/root/reference/test/\2",
        text,
    )
    cmd = parse_load(text)

    loaded_tables: list[str] = []
    copy_sink = scenario_sink(seeded, str(tmp_path), clear=True)

    def sink(df, table, cmd):
        n = copy_sink(df, table, cmd)
        loaded_tables.append(table)
        return n

    runner = PGConn(seeded)
    try:
        from pgloader_spark.plans.ip4r_shim import wrap_sql_runner

        ctx = ExecutionContext(
            spark=spark,
            root_dir=str(tmp_path),
            sql_runner=wrap_sql_runner(lambda sql: runner.query(sql)),
            sink=sink,
        )
        report = execute(ctx, cmd)
    finally:
        runner.close()
    return report, (loaded_tables[0] if loaded_tables else None)


def _pg_table_rows(seeded, table, order_by=None):
    from pgloader_spark.sources.pgwire import PGConn

    q = ".".join('"' + p + '"' for p in table.split("."))
    with PGConn(seeded) as c:
        _, rows = c.query(
            f"SELECT * FROM {q}" + (f" ORDER BY {order_by}" if order_by else "")
        )
    return rows


REF_RUNNABLE = [
    # self-contained reference scenarios (inline data or local files)
    "allcols", "copy-hex", "csv-escape-mode",
    "csv-non-printable", "csv-parse-date", "csv-temp",
    "fields-with-periods", "csv-districts", "dbf-31", "dbf-8b",
    "copy", "csv-guess",
    # round-3 additions: the remaining self-contained corpus
    "simple", "partial", "pkey", "serial", "udc", "xzero", "reformat",
    "csv-nulls", "csv-null-if", "csv-newline", "csv-header",
    "csv-json", "csv-hstore", "csv-keep-extra-blanks",
    "csv-trim-extra-blanks", "csv-using-sexp",
    "fixed", "fixed-guess", "dbf", "dbf-memo", "ixf",
    # needs the ip4r extension: runs through the behavior-faithful
    # built-ins emulation (plans/ip4r_shim.py), value-pinned to the
    # reference's regress golden like every other scenario
    "csv-before-after",
]


def _regress_compare(seeded, table, name):
    """The reference's own regress check (src/regress/regress.lisp:
    80-112): COPY the expected .out into ``expected.<table> (LIKE
    <table>)`` and demand ``expected EXCEPT actual`` be empty (point
    columns compare as text).  Returns None when the scenario ships no
    expected file, else the diff count."""
    out = f"/root/reference/test/regress/expected/{name}.out"
    if not os.path.exists(out):
        return None
    data = open(out, "rb").read()
    sch, _, bare = table.rpartition(".")
    sch = sch or "public"
    q = ".".join('"' + p + '"' for p in table.split("."))
    with PGConn(seeded) as c:
        c.query("CREATE SCHEMA IF NOT EXISTS expected")
        c.query(f'DROP TABLE IF EXISTS expected."{bare}"')
        c.query(f'CREATE TABLE expected."{bare}" (LIKE {q})')
        if data.strip():
            c.copy_in(f'COPY expected."{bare}" FROM STDIN', [data])
        _, cols = c.query(
            "SELECT column_name, data_type FROM information_schema.columns"
            f" WHERE table_schema = '{sch}' AND table_name = '{bare}'"
            " ORDER BY ordinal_position"
        )
        exprs = ", ".join(
            f'"{n}"::text' if t in ("point", "json", "xml") else f'"{n}"'
            for n, t in cols
        )
        _, diff = c.query(
            f"SELECT COUNT(*) FROM (SELECT {exprs} FROM expected.\"{bare}\""
            f" EXCEPT SELECT {exprs} FROM {q}) ss"
        )
        _, counts = c.query(
            f'SELECT (SELECT COUNT(*) FROM expected."{bare}"),'
            f" (SELECT COUNT(*) FROM {q})"
        )
    n_exp, n_act = int(counts[0][0]), int(counts[0][1])
    assert n_exp == n_act, f"{name}: {n_act} rows loaded, expected {n_exp}"
    return int(diff[0][0])


@pytest.mark.parametrize("name", REF_RUNNABLE)
def test_reference_scenario_runs_live(name, seeded, spark, tmp_path):
    ref = f"/root/reference/test/{name}.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario(name, seeded, spark, tmp_path)
    assert report.loaded > 0, f"{name}: nothing loaded"
    with PGConn(seeded) as c:
        q = ".".join('"' + p + '"' for p in table.split("."))
        _, rows = c.query(f"SELECT COUNT(*) FROM {q}")
    assert int(rows[0][0]) == report.loaded, f"{name}: PG count mismatch"
    diff = _regress_compare(seeded, table, name)
    assert diff in (None, 0), f"{name}: {diff} rows differ from expected"


def test_reference_csv_districts_stdin(seeded, spark, tmp_path, monkeypatch):
    """csv-districts-stdin.load: FROM STDIN — the reference's
    Makefile pipes data/2013_Gaz_113CDs_national.txt in; we feed the
    same file through sys.stdin."""
    import io

    ref = "/root/reference/test/csv-districts-stdin.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    data = open(
        "/root/reference/test/data/2013_Gaz_113CDs_national.txt",
        encoding="latin-1",
    ).read()
    monkeypatch.setattr("sys.stdin", io.StringIO(data))
    report, table = _run_ref_scenario(
        "csv-districts-stdin", seeded, spark, tmp_path
    )
    assert report.loaded == 440  # 441 lines - 1 header
    rows = _pg_table_rows(seeded, table, order_by="geoid LIMIT 1")
    assert rows[0][0] == "AL"
    assert rows[0][6] is not None  # the point built by (format nil ...)


def test_reference_csv_districts_env_template(
    seeded, spark, tmp_path, monkeypatch
):
    """csv-districts-env.load: the {{SOURCEFILE}} template variable
    names the input file via the environment."""
    ref = "/root/reference/test/csv-districts-env.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    monkeypatch.setenv(
        "SOURCEFILE",
        "/root/reference/test/data/2013_Gaz_113CDs_national.txt",
    )
    report, table = _run_ref_scenario(
        "csv-districts-env", seeded, spark, tmp_path
    )
    assert report.loaded == 440


def test_reference_nofile_fails_cleanly(seeded, spark, tmp_path):
    """nofile.load: the source file does not exist — the load must
    fail (the reference reports the missing file), not silently load
    zero rows."""
    ref = "/root/reference/test/nofile.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    with pytest.raises(Exception, match="(?i)not exist|no such file|path"):
        _run_ref_scenario("nofile", seeded, spark, tmp_path)


def test_reference_csv_filename_pattern(seeded, spark, tmp_path):
    """csv-filename-pattern.load: ALL FILENAMES MATCHING
    ~<matching.*csv$> IN DIRECTORY 'data' + TARGET TABLE.  Expected
    rows from test/regress/expected/csv-filename-pattern.out."""
    ref = "/root/reference/test/csv-filename-pattern.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario(
        "csv-filename-pattern", seeded, spark, tmp_path
    )
    assert report.loaded == 3
    rows = _pg_table_rows(seeded, table, order_by="id")
    assert [(int(a), b) for a, b in rows] == [
        (1, "foo"),
        (2, "bar"),
        (3, "baz"),
    ]


def test_reference_pgsql_source_live_pg_to_pg(seeded, spark, tmp_path):
    """pgsql-source.load verbatim: LOAD DATABASE from a live PG into
    a second live PG with `including only table names matching
    ~/geolocations/` and `MATERIALIZE VIEWS some_usps AS $$..$$`.
    The matview SQL runs against the SOURCE, migrates like a table,
    and its staging relation is dropped afterwards
    (src/sources/common/matviews.lisp:14-60)."""
    ref = "/root/reference/test/pgsql-source.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import (
        ExecutionContext,
        execute_database,
    )

    base = seeded.rsplit("/", 1)[0]
    with PGConn(seeded) as c:
        for db in ("src_pgloader", "tgt_copy"):
            c.query(f"DROP DATABASE IF EXISTS {db}")
            c.query(f"CREATE DATABASE {db}")
    src = f"{base}/src_pgloader"
    tgt = f"{base}/tgt_copy"
    with PGConn(src) as c:
        c.query(
            "CREATE TABLE districts (usps text, geoid text, aland bigint,"
            " awater bigint, aland_sqmi double precision,"
            " awater_sqmi double precision, location text)"
        )
        c.copy_in(
            "COPY districts FROM STDIN",
            [
                b"MT\t3001\t1000\t10\t1.5\t0.1\t(1,2)\n"
                b"DE\t1001\t2000\t20\t2.5\t0.2\t(3,4)\n"
                b"CA\t0601\t3000\t30\t3.5\t0.3\t(5,6)\n"
                b"TX\t4801\t4000\t40\t4.5\t0.4\t(7,8)\n"
            ],
        )
        c.query("CREATE TABLE geolocations (id integer, name text)")
        c.copy_in(
            "COPY geolocations FROM STDIN",
            [b"1\tparis\n2\ttokyo\n3\tlima\n4\toslo\n5\tcairo\n"],
        )
        c.query("CREATE TABLE unrelated (id integer)")
        c.copy_in("COPY unrelated FROM STDIN", [b"1\n2\n"])

    text = open(ref, encoding="utf-8").read()
    text = text.replace("pgsql://localhost/pgloader", src)
    text = text.replace("pgsql://localhost/copy", tgt)
    cmd = parse_load(text)
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    got = {r.table: r.loaded for r in reports}
    # the include filter keeps geolocations only; the matview adds
    # some_usps; districts/unrelated stay behind
    assert got == {"geolocations": 5, "some_usps": 2}
    with PGConn(tgt) as c:
        _, rows = c.query("SELECT COUNT(*) FROM geolocations")
        assert rows == [("5",)]
        _, rows = c.query("SELECT usps FROM some_usps ORDER BY usps")
        assert [r[0] for r in rows] == ["DE", "MT"]
        _, rows = c.query("SELECT to_regclass('districts')")
        assert rows[0][0] is None
    with PGConn(src) as c:
        # the staging table was dropped from the source
        _, rows = c.query("SELECT to_regclass('some_usps')")
        assert rows[0][0] is None


def test_reference_bossa_archive_live_http(seeded, spark, tmp_path):
    """bossa.load verbatim: LOAD ARCHIVE from an http zip with TWO
    nested CSV loads selected by filename regex (~/ALIOR/ and the
    derivatives pattern).  The reference fetches bossa.pl; the
    sandbox has no network, so a local HTTP server serves a zip with
    the same member names — the command text only swaps host."""
    import http.server
    import socketserver
    import threading
    import zipfile

    ref = "/root/reference/test/bossa.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_archive

    # the reference's Makefile preloads bossa.sql into the target
    with PGConn(seeded) as c:
        for stmt in [
            "DROP TABLE IF EXISTS intf_derivatives, intf_stocks",
            "CREATE TABLE intf_stocks (ticker text, quote_date date,"
            " open numeric, high numeric, low numeric, close numeric,"
            " volume bigint)",
            "CREATE TABLE intf_derivatives (ticker text, quote_date date,"
            " open numeric, high numeric, low numeric, close numeric,"
            " volume bigint, openint bigint)",
        ]:
            c.query(stmt)

    hdr = "ticker,date,open,high,low,close,vol"
    zpath = tmp_path / "mstall.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(
            "ALIOR.mst",
            f"{hdr}\nALIOR,2015-01-02,37.0,37.8,36.9,37.5,1000\n"
            "ALIOR,2015-01-05,37.5,38.0,37.2,37.9,1200\n",
        )
        z.writestr(
            # contains ALIOR -> matched by the ~/ALIOR/ stock pattern
            # (cl-ppcre scan = substring), NOT by F[A-Z]{4}1[456]
            "FALIOR14.mst",
            f"{hdr}\nFALIOR14,2015-01-02,10,11,9,10.5,50\n",
        )
        z.writestr(
            "FWABC14.mst",  # F[A-Z]{4}1[456] -> derivatives
            f"{hdr},openint\nFWABC14,2015-01-02,10,11,9,10.5,50,7\n",
        )
        z.writestr(
            "OW20X1450.mst",
            f"{hdr},openint\nOW20X1450,2015-01-02,5,6,4,5.5,20,3\n",
        )
        z.writestr("WIG20.mst", f"{hdr}\nWIG20,2015-01-02,1,2,1,2,9\n")

    class Quiet(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def log_message(self, *a):
            pass

    httpd = socketserver.TCPServer(("127.0.0.1", 0), Quiet)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        text = open(ref, encoding="utf-8").read()
        text = text.replace(
            "http://bossa.pl/pub/metastock/mstock/mstall.zip",
            f"http://127.0.0.1:{port}/mstall.zip",
        )
        text = text.replace("postgresql:///stocks", seeded)
        cmd = parse_load(text)

        runner = PGConn(seeded)
        try:
            ctx = ExecutionContext(
                spark=spark,
                root_dir=str(tmp_path),
                sql_runner=lambda sql: runner.query(sql),
                sink=scenario_sink(seeded, str(tmp_path)),
            )
            reports = execute_archive(ctx, cmd)
        finally:
            runner.close()
    finally:
        httpd.shutdown()
    got = {r.table: r.loaded for r in reports}
    # ~/ALIOR/ matches ALIOR.mst AND FALIOR14.mst (regex substring,
    # like the reference's cl-ppcre scan); the derivatives pattern
    # matches FALIOR14 + OW20; WIG20 matches neither command
    assert got["intf_stocks"] == 3
    assert got["intf_derivatives"] == 2
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT ticker, volume FROM intf_stocks ORDER BY ticker, quote_date"
        )
        assert rows[0] == ("ALIOR", "1000")
        _, rows = c.query(
            "SELECT ticker, openint FROM intf_derivatives ORDER BY ticker"
        )
        assert [r[0] for r in rows] == ["FWABC14", "OW20X1450"]


def _serve_dir(tmp_path):
    import http.server
    import socketserver
    import threading

    class Quiet(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def log_message(self, *a):
            pass

    httpd = socketserver.TCPServer(("127.0.0.1", 0), Quiet)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, httpd.server_address[1]


def test_reference_census_places_archive_fixed(seeded, spark, tmp_path):
    """census-places.load verbatim: LOAD ARCHIVE over http with a
    NESTED FIXED load — explicit from/for column specs, a quoted
    \"LocationName\" target column, [trim right whitespace].  A local
    server serves a places2k.zip with the fixed-width layout the
    command declares."""
    import zipfile

    ref = "/root/reference/test/census-places.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_archive

    def fixed_line(usps, fips, code, name, lat, lon):
        # layout per the command: name at 9 width 64, numerics after
        return (
            f"{usps:<2}{fips:<2}{code:<5}{name:<64}"
            f"{1234:>9}{567:>9}{100:>14}{2:>14}{100.0:>14}{0.1:>12}"
            f"{lat:>10}{lon:>11}"
        )

    lines = [
        fixed_line("AL", "01", "00124", "Abbeville city", "31.56", "-85.25"),
        fixed_line("AK", "02", "00065", "Adak city", "51.87", "-176.63"),
        fixed_line("WY", "56", "00105", "Afton town", "42.72", "-110.93"),
    ]
    zpath = tmp_path / "places2k.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("places2k.txt", "\n".join(lines) + "\n")

    httpd, port = _serve_dir(tmp_path)
    try:
        text = open(ref, encoding="utf-8").read()
        text = text.replace(
            "http://www2.census.gov/geo/docs/maps-data/data/gazetteer/places2k.zip",
            f"http://127.0.0.1:{port}/places2k.zip",
        )
        text = text.replace("postgresql:///pgloader", seeded)
        cmd = parse_load(text)

        runner = PGConn(seeded)
        try:
            ctx = ExecutionContext(
                spark=spark,
                root_dir=str(tmp_path),
                sql_runner=lambda sql: runner.query(sql),
                sink=scenario_sink(seeded, str(tmp_path)),
            )
            reports = execute_archive(ctx, cmd)
        finally:
            runner.close()
    finally:
        httpd.shutdown()
    assert sum(r.loaded for r in reports) == 3
    with PGConn(seeded) as c:
        _, rows = c.query(
            'SELECT usps, "LocationName" FROM places ORDER BY usps'
        )
    assert rows[0] == ("AK", "Adak city")  # trailing blanks trimmed
    assert {r[0] for r in rows} == {"AK", "AL", "WY"}


def test_reference_bossa_all_single_table(seeded, spark, tmp_path):
    """bossa-all.load verbatim: every archive member (~/./) lands in
    ONE target table."""
    import zipfile

    ref = "/root/reference/test/bossa-all.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_archive

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS intf_derivatives")
        c.query(
            "CREATE TABLE intf_derivatives (ticker text, quote_date date,"
            " open numeric, high numeric, low numeric, close numeric,"
            " volume bigint, openint bigint)"
        )
    hdr = "ticker,date,open,high,low,close,vol,openint"
    zpath = tmp_path / "mstfut.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("FW20H14.mst", f"{hdr}\nFW20H14,2014-01-02,1,2,1,2,10,5\n")
        z.writestr(
            "FW20M15.mst",
            f"{hdr}\nFW20M15,2015-01-02,1,2,1,2,11,6\n"
            "FW20M15,2015-01-03,2,3,2,3,12,7\n",
        )
    httpd, port = _serve_dir(tmp_path)
    try:
        text = open(ref, encoding="utf-8").read()
        text = text.replace(
            "http://bossa.pl/pub/futures/mstock/mstfut.zip",
            f"http://127.0.0.1:{port}/mstfut.zip",
        )
        text = text.replace("postgresql:///stocks", seeded)
        cmd = parse_load(text)

        runner = PGConn(seeded)
        try:
            ctx = ExecutionContext(
                spark=spark,
                root_dir=str(tmp_path),
                sql_runner=lambda sql: runner.query(sql),
                sink=scenario_sink(seeded, str(tmp_path)),
            )
            reports = execute_archive(ctx, cmd)
        finally:
            runner.close()
    finally:
        httpd.shutdown()
    assert sum(r.loaded for r in reports) == 3
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT COUNT(*), COUNT(DISTINCT ticker) FROM intf_derivatives")
        assert rows == [("3", "2")]


def test_reference_dbf_zip_over_http(seeded, spark, tmp_path):
    """dbf-zip.load verbatim: LOAD DBF straight from an http zip —
    fetch, expand, read the .dbf member.  The INSEE download is not
    reachable from the sandbox; a local server serves a zip of the
    reference's own reg2013.dbf fixture."""
    import zipfile

    ref = "/root/reference/test/dbf-zip.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    zpath = tmp_path / "france2016-dbf.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.write("/root/reference/test/data/reg2013.dbf", "france2016.dbf")
    httpd, port = _serve_dir(tmp_path)
    try:
        from pgloader_spark.parsers.loadcmd import parse_load
        from pgloader_spark.plans.executor import ExecutionContext, execute

        text = open(ref, encoding="utf-8").read()
        text = text.replace(
            "https://www.insee.fr/fr/statistiques/fichier/2114819/"
            "france2016-dbf.zip",
            f"http://127.0.0.1:{port}/france2016-dbf.zip",
        )
        text = text.replace("postgresql:///pgloader", seeded)
        cmd = parse_load(text)

        runner = PGConn(seeded)
        try:
            ctx = ExecutionContext(
                spark=spark,
                root_dir=str(tmp_path),
                sql_runner=lambda sql: runner.query(sql),
                sink=scenario_sink(seeded, str(tmp_path)),
            )
            report = execute(ctx, cmd)
        finally:
            runner.close()
    finally:
        httpd.shutdown()
    assert report.loaded == 27  # reg2013's 27 French regions
    rows = _pg_table_rows(seeded, "dbf.france2016", order_by="1 LIMIT 1")
    assert rows[0][3] == "GUADELOUPE"


def test_reference_archive_geolite_ip4r(seeded, spark, tmp_path):
    """archive.load verbatim — the LAST reference scenario: LOAD ARCHIVE
    over http with two nested CSVs (latin-1, skip header = 2, null if
    blanks, point + ip4r USING transforms), BEFORE LOAD EXECUTE
    'geolite.sql', and an AFTER LOAD gist index on the ip4r column.

    The GeoLite download URL is dead, so a local server serves a zip in
    the exact GeoLiteCity layout; the sandbox PostgreSQL has no ip4r
    package, so the engine's built-ins emulation (plans/ip4r_shim.py)
    kicks in — including the ``>>=`` containment operator that
    geolite.sql's locate() function needs."""
    import zipfile

    ref = "/root/reference/test/archive.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_archive
    from pgloader_spark.plans.ip4r_shim import wrap_sql_runner

    loc_hdr = (
        "Copyright (c) 2012 MaxMind Inc.  All Rights Reserved.\n"
        "locId,country,region,city,postalCode,latitude,longitude,"
        "metroCode,areaCode\n"
    )
    loc_rows = (
        '195756,"TH","40","Phatthalung","","7.6167","100.0833",,\n'
        '209,"US","","","","38.0000","-97.0000","0","0"\n'
        '29727,"FR","A8","Orléans","45000","47.9029","1.9039",,\n'
    )
    blk_hdr = (
        "Copyright (c) 2012 MaxMind Inc.  All Rights Reserved.\n"
        "startIpNum,endIpNum,locId\n"
    )
    blk_rows = (
        '"3754901760","3754902015","195756"\n'  # 223.207.65.0/24
        '"3754902016","3754903039","209"\n'  # 223.207.66.0-223.207.69.255
        '"3754903040","3754903551","29727"\n'  # 223.207.70.0/23
    )
    zpath = tmp_path / "GeoLiteCity-latest.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("GeoLiteCity-Location.csv", (loc_hdr + loc_rows).encode("latin-1"))
        z.writestr("GeoLiteCity-Blocks.csv", (blk_hdr + blk_rows).encode("latin-1"))
    httpd, port = _serve_dir(tmp_path)
    try:
        text = open(ref, encoding="utf-8").read()
        text = text.replace(
            "http://geolite.maxmind.com/download/geoip/database/"
            "GeoLiteCity_CSV/GeoLiteCity-latest.zip",
            f"http://127.0.0.1:{port}/GeoLiteCity-latest.zip",
        )
        text = text.replace("postgresql:///ip4r", seeded)
        text = text.replace(
            "EXECUTE 'geolite.sql'", "EXECUTE '/root/reference/test/geolite.sql'"
        )
        cmd = parse_load(text)

        runner = PGConn(seeded)
        try:
            ctx = ExecutionContext(
                spark=spark,
                root_dir=str(tmp_path),
                sql_runner=wrap_sql_runner(lambda sql: runner.query(sql)),
                sink=scenario_sink(seeded, str(tmp_path)),
            )
            reports = execute_archive(ctx, cmd)
        finally:
            runner.close()
    finally:
        httpd.shutdown()
    got = {r.table: r.loaded for r in reports}
    assert got == {"geolite.location": 3, "geolite.blocks": 3}
    with PGConn(seeded) as c:
        # latin-1 decode + null-if-blanks + the point USING transform
        _, rows = c.query(
            "SELECT city, postalcode, location::text FROM geolite.location"
            " WHERE locid = 29727"
        )
        assert rows == [("Orléans", "45000", "(1.9039,47.9029)")]
        _, rows = c.query("SELECT region FROM geolite.location WHERE locid = 209")
        assert rows[0][0] is None  # null if blanks
        # canonical ip4r text, CIDR-aligned vs not
        _, rows = c.query("SELECT iprange FROM geolite.blocks ORDER BY locid")
        assert [r[0] for r in rows] == [
            "223.207.66.0-223.207.69.255",
            "223.207.70.0/23",
            "223.207.65.0/24",
        ]
        # the AFTER LOAD gist index exists (btree_gist opclass)
        _, rows = c.query(
            "SELECT indexdef FROM pg_indexes WHERE schemaname = 'geolite'"
            " AND indexname = 'blocks_ip4r_idx'"
        )
        assert "USING gist" in rows[0][0]
        # geolite.sql's locate() runs unchanged on the emulated >>=
        _, rows = c.query("SELECT (geolite.locate('223.207.70.5'::ip4)).city")
        assert rows == [("Orléans",)]
        _, rows = c.query("SELECT (geolite.locate('223.207.65.17'::ip4)).locid")
        assert rows == [("195756",)]


def test_reference_messages_syslog_live_udp(seeded, spark, tmp_path):
    """test/parse/messages.load executed LIVE: the ABNF scanner
    grammars compile to regexes, a UDP socket receives real syslog
    datagrams, messages route first-match (apache's DATA = IP REST
    claims IP-led payloads; others takes the rest), and each
    scanner's REGISTERING columns COPY into its own live PG table."""
    import socket
    import threading
    import time as _time

    ref = "/root/reference/test/parse/messages.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.sources.pg_live import ensure_pg_table, write_pg_copy
    from pgloader_spark.streaming.syslog import serve_udp_messages

    with PGConn(seeded) as c:
        c.query("CREATE SCHEMA IF NOT EXISTS logs")
        c.query("DROP TABLE IF EXISTS logs.apache")
        c.query("DROP TABLE IF EXISTS logs.others")

    text = open(ref, encoding="utf-8").read()
    text = text.replace("postgresql://localhost/db", seeded)
    port = 10514 + (os.getpid() % 400)
    text = text.replace("syslog://localhost:10514/", f"syslog://127.0.0.1:{port}/")
    cmd = parse_load(text)

    msgs = [
        b"<13>Aug 14 12:00:01 web01 httpd[123]: 10.0.0.7 GET / 200",
        b"<13>Aug 14 12:00:02 web01 httpd[123]: 10.0.0.8 GET /x 404",
        b"<13>Aug 14 12:00:03 db01 postgres: checkpoint complete",
        b"<13>Aug 14 12:00:04 web01 httpd[124]: 192.168.1.9 POST /y 201",
        b"<13>Aug 14 12:00:05 app01 cron[7]: job finished ok",
    ]

    def send_later():
        _time.sleep(0.5)
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for m in msgs:
            s.sendto(m, ("127.0.0.1", port))
            _time.sleep(0.02)
        s.close()

    def sink(df, table):
        ensure_pg_table(seeded, table, df.schema)
        return write_pg_copy(df, seeded, table, reject_dir=str(tmp_path))

    threading.Thread(target=send_later, daemon=True).start()
    counts = serve_udp_messages(spark, cmd, sink, idle_timeout=1.5)
    assert counts == {"logs.apache": 3, "logs.others": 2}
    with PGConn(seeded) as c:
        _, rows = c.query('SELECT ip, rest FROM logs.apache ORDER BY ip')
        assert [r[0] for r in rows] == ["10.0.0.7", "10.0.0.8", "192.168.1.9"]
        assert rows[0][1].strip() == "GET / 200"
        _, rows = c.query(
            'SELECT "app-name", data FROM logs.others ORDER BY data'
        )
        assert [r[0] for r in rows] == ["postgres", "cron"]


def test_messages_structured_streaming_to_pg(seeded, spark, tmp_path):
    """The production shape of LOAD MESSAGES: a Structured Streaming
    socket source feeds the SAME first-match scanner routing, and
    foreachBatch COPYs each scanner's rows into live PostgreSQL —
    micro-batch at-least-once, per-scanner tables, no driver loop."""
    import socket
    import threading
    import time as _time

    ref = "/root/reference/test/parse/messages.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.sources.pg_live import ensure_pg_table, write_pg_copy
    from pgloader_spark.streaming.syslog import (
        route_first_match,
        scanners_from_command,
    )

    with PGConn(seeded) as c:
        c.query("CREATE SCHEMA IF NOT EXISTS logs")
        c.query("DROP TABLE IF EXISTS logs.apache_stream")
        c.query("DROP TABLE IF EXISTS logs.others_stream")

    text = open(ref, encoding="utf-8").read().replace(
        "postgresql://localhost/db", seeded
    )
    cmd = parse_load(text)
    scanners = scanners_from_command(cmd)

    # TCP server the socket source connects to
    port = 19514 + (os.getpid() % 400)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", port))
    srv.listen(1)

    msgs = [
        "<13>Aug 14 12:00:01 web01 httpd[123]: 10.0.0.7 GET / 200",
        "<13>Aug 14 12:00:03 db01 postgres: checkpoint complete",
        "<13>Aug 14 12:00:04 web01 httpd[124]: 192.168.1.9 POST /y 201",
    ]

    def feed():
        conn, _ = srv.accept()
        _time.sleep(0.3)
        conn.sendall(("\n".join(msgs) + "\n").encode())
        _time.sleep(3.0)
        conn.close()

    threading.Thread(target=feed, daemon=True).start()

    def on_batch(batch_df, batch_id):
        for s, sc, routed in route_first_match(batch_df, scanners):
            tbl = sc["target"].rsplit("?", 1)[-1] + "_stream"
            if routed.isEmpty():
                continue
            ensure_pg_table(seeded, tbl, routed.schema)
            write_pg_copy(routed, seeded, tbl)

    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 30
        done = False
        while _time.time() < deadline and not done:
            _time.sleep(1.0)
            with PGConn(seeded) as c:
                _, a = c.query(
                    "SELECT COUNT(*) FROM logs.apache_stream"
                ) if _table_exists(c, "logs", "apache_stream") else (None, [("0",)])
                _, o = c.query(
                    "SELECT COUNT(*) FROM logs.others_stream"
                ) if _table_exists(c, "logs", "others_stream") else (None, [("0",)])
            done = int(a[0][0]) >= 2 and int(o[0][0]) >= 1
    finally:
        q.stop()
        srv.close()
    assert done, "streamed rows did not arrive in PG within 30s"
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT ip FROM logs.apache_stream ORDER BY ip")
        assert [r[0] for r in rows] == ["10.0.0.7", "192.168.1.9"]


def _table_exists(conn, schema, name) -> bool:
    _, rows = conn.query(
        "SELECT COUNT(*) FROM information_schema.tables WHERE"
        f" table_schema = '{schema}' AND table_name = '{name}'"
    )
    return rows[0][0] == "1"


def test_reference_citus_company_migration(seeded, spark, tmp_path):
    """citus/company.load verbatim against plain PostgreSQL: PG->PG
    LOAD DATABASE with a `cast column impressions.seen_at to
    "timestamp with time zone"` rule and a `distribute companies
    using id` clause (the citus DDL itself needs a Citus server; the
    migration + cast surface runs live)."""
    ref = "/root/reference/test/citus/company.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import (
        ExecutionContext,
        execute_database,
    )

    base = seeded.rsplit("/", 1)[0]
    with PGConn(seeded) as c:
        for db in ("hackathon", "citus_target"):
            c.query(f"DROP DATABASE IF EXISTS {db}")
            c.query(f"CREATE DATABASE {db}")
    src = f"{base}/hackathon"
    tgt = f"{base}/citus_target"
    ddl = open("/root/reference/test/citus/company.sql").read()
    with PGConn(src) as c:
        for stmt in ddl.split(";"):
            if stmt.strip():
                c.query(stmt)
        c.query(
            "INSERT INTO companies (name, created_at, updated_at) "
            "SELECT 'co_' || i, now(), now() FROM generate_series(1, 20) i"
        )
        c.query(
            "INSERT INTO campaigns (company_id, name, cost_model, state,"
            " created_at, updated_at) SELECT i, 'camp', 'cpc', 'live',"
            " now(), now() FROM generate_series(1, 20) i"
        )
        c.query(
            "INSERT INTO ads (campaign_id, name, created_at, updated_at)"
            " SELECT i, 'ad', now(), now() FROM generate_series(1, 20) i"
        )
        c.query(
            "INSERT INTO impressions (ad_id, seen_at, site_url,"
            " cost_per_impression_usd, user_ip, user_data)"
            " SELECT i, now(), 's', 0.01, '10.0.0.1'::inet, '{}'::jsonb"
            " FROM generate_series(1, 20) i"
        )

    text = open(ref, encoding="utf-8").read()
    text = text.replace("pgsql:///hackathon", src)
    text = text.replace("pgsql://localhost:9700/dim", tgt)
    cmd = parse_load(text)
    assert cmd.options.get("distribute")  # the clause parsed
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    got = {r.table: r.loaded for r in reports}
    assert got["companies"] == 20
    assert got["impressions"] == 20
    with PGConn(tgt) as c:
        _, rows = c.query(
            "SELECT data_type FROM information_schema.columns WHERE"
            " table_name = 'impressions' AND column_name = 'seen_at'"
        )
        assert rows == [("timestamp with time zone",)]
        _, rows = c.query("SELECT COUNT(*) FROM clicks")
        assert rows == [("0",)]


def test_reference_fk_reject_isolates_bad_rows(seeded, spark, tmp_path):
    """fk-reject.load (reference issue #1333): a batch with an FK
    violation — the server cannot annotate a line number, so the
    writer bisects the batch; valid rows commit, the bad row lands in
    the reject file.  Expected output test/regress/expected/
    fk-reject.out: rows (1,1) and (3,2)."""
    if not os.path.exists("/root/reference/test/fk-reject.load"):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario("fk-reject", seeded, spark, tmp_path)
    assert report.loaded == 2
    assert report.errors == 1
    rows = _pg_table_rows(seeded, table, order_by="id")
    assert [(int(a), int(b)) for a, b in rows] == [(1, 1), (3, 2)]
    reject_dir = tmp_path / "postgres"  # <root-dir>/<target db>/
    rejects = (reject_dir / "fk_reject.dat").read_text().strip().splitlines()
    assert rejects == ["2\t99"]
    log = (reject_dir / "fk_reject.log").read_text()
    assert "23503" in log  # foreign_key_violation sqlstate


def test_copy_isolation_randomized_bad_rows(seeded, spark, tmp_path):
    """Randomized check of the retry-with-isolation writer: random
    subsets of rows violate a CHECK constraint the validator cannot
    see; the server must end up with exactly the good rows and the
    reject file with exactly the bad ones — under both error shapes
    (CHECK violations carry no line annotation -> bisection)."""
    import random

    from pgloader_spark.sources.pg_live import write_pg_copy

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS iso_t")
        c.query("CREATE TABLE iso_t (id int, v int CHECK (v >= 0))")
    rng = random.Random(1234)
    for trial in range(4):
        n = rng.choice([1, 7, 100, 500])
        bad = {i for i in range(n) if rng.random() < rng.choice([0.02, 0.3, 0.9])}
        rows = [(i, -1 if i in bad else i) for i in range(n)]
        df = spark.createDataFrame(rows, "id int, v int").repartition(3)
        with PGConn(seeded) as c:
            c.query("TRUNCATE iso_t")
        rej_dir = tmp_path / f"rej{trial}"
        loaded = write_pg_copy(
            df, seeded, "iso_t", reject_dir=str(rej_dir)
        )
        assert loaded == n - len(bad)
        with PGConn(seeded) as c:
            _, got = c.query("SELECT COUNT(*), COALESCE(MIN(v), 0) FROM iso_t")
            assert int(got[0][0]) == n - len(bad)
            assert int(got[0][1]) >= 0
        dat = rej_dir / "iso_t.dat"
        if bad:
            rejected = dat.read_text().strip().splitlines()
            assert len(rejected) == len(bad)
            assert {int(line.split("\t")[0]) for line in rejected} == bad
        else:
            assert not dat.exists()


def test_reference_overflow_rejects_everything(seeded, spark, tmp_path):
    """overflow.load: an int wider than int4 and a NULL into NOT NULL
    — the reference's expected output is EMPTY (both rows rejected,
    test/regress/expected/overflow.out)."""
    if not os.path.exists("/root/reference/test/overflow.load"):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario("overflow", seeded, spark, tmp_path)
    assert report.loaded == 0
    assert report.errors == 2
    assert _pg_table_rows(seeded, table) == []


def test_reference_csv_error_encoding_and_length_rejects(
    seeded, spark, tmp_path
):
    """csv-error.load: WITH ENCODING ascii drops the latin row at
    read time; the over-length char(20) value rejects server-side.
    Expected (test/regress/expected/csv-error.out): 3 rows."""
    if not os.path.exists("/root/reference/test/csv-error.load"):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario("csv-error", seeded, spark, tmp_path)
    assert report.loaded == 3
    rows = _pg_table_rows(seeded, table)
    assert {r[0].strip() for r in rows} == {"BORDET", "LASTNAME"}


def test_reference_csv_using_sexp_split_join(seeded, spark, tmp_path):
    """csv-using-sexp.load (issue #965): (format nil "~{~a~^ ~}"
    (split-sequence #\\Space f1 :remove-empty-subseqs cl:t)) —
    whitespace-normalization via split + join.  Expected rows from
    test/regress/expected/csv-using-sexp.out."""
    if not os.path.exists("/root/reference/test/csv-using-sexp.load"):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario(
        "csv-using-sexp", seeded, spark, tmp_path
    )
    assert report.loaded == 3
    rows = _pg_table_rows(seeded, table, order_by="id, f1")
    assert [(int(i), s) for i, s in rows] == [
        (1, "Hello World"),
        (2, "Hello World"),
        (2, "foobar foobaz"),
    ]


def test_reference_ixf_real_db2_fixture(seeded, spark, tmp_path):
    """ixf.load over the reference's DB2-exported nsitra.test1.ixf:
    spec-layout C records, null indicators, CHAR/VARCHAR/INTEGER.
    Expected values from test/regress/expected/ixf.out."""
    if not os.path.exists("/root/reference/test/ixf.load"):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario("ixf", seeded, spark, tmp_path)
    assert report.loaded == 4
    rows = _pg_table_rows(seeded, table, order_by="1")
    got = [(int(r[0]), r[1] if r[1] is None else int(r[1]), r[5]) for r in rows]
    assert got == [
        (1, 77, "baz"),
        (2, None, None),
        (3, 179, "BAZ"),
        (4, None, None),
    ]


def test_reference_trim_vs_keep_unquoted_blanks(seeded, spark, tmp_path):
    """csv-trim-extra-blanks vs csv-keep-extra-blanks: same data, the
    WITH flag flips whether unquoted blanks survive.  Pinned to
    test/regress/expected/csv-{trim,keep}-extra-blanks.out."""
    if not os.path.exists(
        "/root/reference/test/csv-trim-extra-blanks.load"
    ):
        pytest.skip("reference corpus not available")
    report, table = _run_ref_scenario(
        "csv-trim-extra-blanks", seeded, spark, tmp_path
    )
    assert report.loaded == 7
    rows = _pg_table_rows(seeded, table, order_by="id")
    by_f1 = {r[1]: r[2] for r in rows}
    assert by_f1["unquoted blanks"] is None  # trimmed to NULL
    assert by_f1["quoted blanks"] == "    "  # quoted blanks survive
    assert by_f1["trim extra blanks"] == "test string"
    assert by_f1["quoted empty string"] == ""  # quoted '' is not NULL
    assert by_f1["no value between separators"] is None

    report, table = _run_ref_scenario(
        "csv-keep-extra-blanks", seeded, spark, tmp_path
    )
    # the last line's field starts with blanks then a quote: in keep
    # mode that's a stray quote inside unquoted data = rejected row
    assert report.loaded == 6
    rows = _pg_table_rows(seeded, table, order_by="id")
    by_f1 = {r[1]: r[2] for r in rows}
    assert by_f1["unquoted blanks"] == "    "  # kept verbatim


def test_reference_negative_scenario_fails_like_reference(seeded, spark, tmp_path):
    """csv-missing-col is the reference's NEGATIVE regress case: its
    expected output is empty because the target column list names a
    column the table doesn't have — the COPY must fail, not load."""
    ref = "/root/reference/test/csv-missing-col.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute
    from pgloader_spark.sources.pg_live import write_pg_copy
    from pgloader_spark.sources.pgwire import PGError

    text = open(ref, encoding="utf-8").read()
    text = text.replace("postgresql:///pgloader", seeded)
    cmd = parse_load(text)
    runner = PGConn(seeded)
    try:
        ctx = ExecutionContext(
            spark=spark,
            root_dir=str(tmp_path),
            sql_runner=lambda sql: runner.query(sql),
            sink=lambda df, t, _cmd: write_pg_copy(df, seeded, t),
        )
        with pytest.raises(Exception) as exc:
            execute(ctx, cmd)
        # the failure must be the server rejecting the column list
        assert "42703" in str(exc.value) or "PGError" in str(type(exc.value).__mro__)
    finally:
        runner.close()


def _run_ref_db_scenario(name, dsn, spark, tmp_path):
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    ref = f"/root/reference/test/{name}.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    text = open(ref, encoding="utf-8", errors="replace").read()
    text = text.replace("postgresql:///pgloader", dsn)
    text = text.replace("'sqlite/", "'/root/reference/test/sqlite/")
    cmd = parse_load(text)
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    return execute_database(ctx, cmd)


def test_reference_sqlite_chinook_migration(seeded, spark, tmp_path):
    """The reference's flagship LOAD DATABASE scenario: the Chinook
    SQLite database migrated into a live PostgreSQL verbatim —
    introspection, cast rules, DDL (include drop), the ALTER TABLE
    rename rule (Employee -> staff), WITH workers, and per-table
    distributed COPY."""
    reports = _run_ref_db_scenario("sqlite-chinook", seeded, spark, tmp_path)
    got = {r.table: r.loaded for r in reports}
    # Chinook's published row counts; identifiers downcased (the
    # reference's default folding)
    assert got["album"] == 347
    assert got["track"] == 3503
    assert got["customer"] == 59
    assert "staff" in got and "employee" not in got  # rename applied
    assert got["staff"] == 8
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT COUNT(*) FROM track")
        assert rows == [("3503",)]
        _, rows = c.query("SELECT COUNT(*) FROM staff")
        assert rows == [("8",)]
        _, rows = c.query("SELECT name FROM genre ORDER BY genreid LIMIT 1")
        assert rows == [("Rock",)]


def test_reference_sqlite_chinook_noseq_migration(seeded, spark, tmp_path):
    """sqlite-chinook-noseq.load verbatim: the plain-PK Chinook
    database (no AUTOINCREMENT sequences), no WITH clause — defaults
    drive the whole migration."""
    reports = _run_ref_db_scenario(
        "sqlite-chinook-noseq", seeded, spark, tmp_path
    )
    got = {r.table: r.loaded for r in reports}
    assert got["album"] == 347
    assert got["track"] == 3503
    assert got["invoiceline"] == 2240
    # no rename rule in this variant: employee keeps its name
    assert "employee" in got and "staff" not in got


def test_reference_sqlite_on_error_stop_type_mismatch(
    seeded, spark, tmp_path
):
    """sqlite-on-error-stop.load (issue #1622): TEXT in an INTEGER
    column under `on error stop` — must fail cleanly (raise), not
    hang and not silently load."""
    with pytest.raises(Exception) as exc:
        _run_ref_db_scenario(
            "sqlite-on-error-stop", seeded, spark, tmp_path
        )
    # the failing column must be the mismatched one: either the raw
    # text rejected by int input (22P02) or the recovered NULL hitting
    # NOT NULL (23502) — both are the server refusing qty's bad value
    msg = str(exc.value)
    assert '"qty"' in msg or "lots-of-it" in msg or "22P02" in msg


def test_reference_sqlite_bad_utf8_recovery(seeded, spark, tmp_path):
    """GitHub issue #1250 regress: an invalid-UTF-8 text cell loads as
    NULL while the rest of the row and table survive."""
    reports = _run_ref_db_scenario("sqlite-bad-utf8", seeded, spark, tmp_path)
    got = {r.table: r.loaded for r in reports}
    assert got["files"] == 3
    with PGConn(seeded) as c:
        _, rows = c.query(
            'SELECT id, filename FROM "files" ORDER BY id'
        )
    assert rows[0] == ("1", "valid-file.txt")
    assert rows[1] == ("2", None)  # invalid byte sequence -> NULL
    assert rows[2] == ("3", "another-valid.txt")


def test_reference_sqlite_testpk_migration(seeded, spark, tmp_path):
    """test_pk.db's tables are empty — the scenario proves the SCHEMA
    migrates (DDL lands on the target) even with no rows to move."""
    reports = _run_ref_db_scenario("sqlite-testpk", seeded, spark, tmp_path)
    assert {r.table for r in reports} == {"division_kind", "division"}
    assert all(r.loaded == 0 for r in reports)
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables "
            "WHERE table_name IN ('division_kind', 'division')"
        )
    assert rows == [("2",)]


def test_reference_sqlite_collision_fails_fast(seeded, spark, tmp_path):
    """Issue #353 regress: two column names truncating to the same
    63-byte PostgreSQL identifier must abort BEFORE any DDL or data
    movement, naming the collision."""
    from pgloader_spark.catalog import IdentifierCollision
    from pgloader_spark.sources.pgwire import PGConn

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS products")
    with pytest.raises(IdentifierCollision, match="col_very_long_name"):
        _run_ref_db_scenario("sqlite-collision", seeded, spark, tmp_path)
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM information_schema.tables "
            "WHERE table_name = 'products'"
        )
    assert rows == [("0",)]  # nothing was created


def test_reference_sqlite_full_type_zoo(seeded, spark, tmp_path):
    """sqlite.load verbatim: the reference's SQLite type-zoo database
    (blobs, reals, unsigned, timestamps, mixed-case `def`/`user`
    keyword table names) with WITH snake_case identifiers."""
    reports = _run_ref_db_scenario("sqlite", seeded, spark, tmp_path)
    got = {r.table: r.loaded for r in reports}
    assert got["blobs"] == 1
    assert got["reals"] == 3
    assert got["stamps"] == 3
    assert "def" in got and "user" in got  # keyword names survive quoting
    with PGConn(seeded) as c:
        _, rows = c.query('SELECT COUNT(*) FROM "def"')
        assert rows == [(str(got["def"]),)]


def test_reference_sqlite_env_template(seeded, spark, tmp_path, monkeypatch):
    """sqlite-env.load verbatim: the {{DBPATH}} template variable
    expands from the environment (the reference's mustache support)."""
    monkeypatch.setenv("DBPATH", "/root/reference/test/sqlite/sqlite.db")
    reports = _run_ref_db_scenario("sqlite-env", seeded, spark, tmp_path)
    got = {r.table: r.loaded for r in reports}
    assert got.get("reals") == 3


def test_reference_sqlite_base64_storage(seeded, spark, tmp_path):
    reports = _run_ref_db_scenario("sqlite-base64", seeded, spark, tmp_path)
    assert sum(r.loaded for r in reports) > 0


def test_template_var_unset_stays_verbatim():
    from pgloader_spark.parsers.loadcmd import expand_template_vars

    out = expand_template_vars("from '{{NOPE_UNSET}}' into x;")
    assert "{{NOPE_UNSET}}" in out  # parse-time lenient; fails at exec


def test_reference_errors_load_reject_isolation(seeded, spark, tmp_path):
    """errors.load verbatim: the reject-isolation regress.  The
    reference retries COPY batches around bad rows; our validate-first
    split derives the same outcome — 7 good rows land (expected
    regress output), malformed dates reject with reasons — using the
    live target catalog for the type rules (what pgloader's
    merge-catalogs supplies)."""
    ref = "/root/reference/test/errors.load"
    if not os.path.exists(ref):
        pytest.skip("reference corpus not available")
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute, project, read_source
    from pgloader_spark.sinks.validate import ColumnRule, load_with_isolation
    from pgloader_spark.sources.pg_live import introspect_pg, write_pg_copy

    text = open(ref, encoding="utf-8").read()
    text = text.replace("postgresql:///pgloader", seeded)
    cmd = parse_load(text)
    runner = PGConn(seeded)
    try:
        for stmt in cmd.before_load:
            runner.query(stmt)
        projected = project(read_source(spark, cmd), cmd)
        # type rules from the LIVE target catalog (the reference's
        # merge-catalogs step feeding its retry logic)
        fields = {f.name: f for f in introspect_pg(seeded, "err")["errors"]}
        rules = [
            ColumnRule("a", cast_to="int"),
            ColumnRule("b", cast_to="date"),
        ]
        assert fields["b"].type_name == "date"
        res = load_with_isolation(
            projected, rules, str(tmp_path), "pgloader", "errors"
        )
        good = res.good.selectExpr(
            "try_cast(a AS int) AS a", "try_cast(b AS date) AS b", "c"
        )
        write_pg_copy(good, seeded, "err.errors")
    finally:
        runner.close()
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT a, b, c FROM err.errors ORDER BY a")
    # the reference's expected regress output: ids 0,1,4,6,7,8,9
    assert [r[0] for r in rows] == ["0", "1", "4", "6", "7", "8", "9"]
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert got["0"] == ("2006-11-11", "nov. the 11th should go")
    assert got["6"][0] is None  # empty date -> NULL, loads fine
    assert got["7"][0] is None  # ragged line -> padded NULL
    assert res.error_count >= 3  # months 13/16/13 rejected


# seven more self-contained inline scenarios
for _name in ("fixed", "partial", "reformat", "serial", "simple", "udc", "xzero"):
    REF_RUNNABLE.append(_name)


def test_cli_flags_end_to_end_with_regress(seeded, spark, tmp_path):
    """The reference's CLI invocation mode against a live server:
    SOURCE TARGET plus --field/--with/--before fragments synthesize a
    command (api.lisp:29-141), the --before SQL script runs through
    the target connection, and --regress replays the reference's
    regress driver (regress.lisp:80-112) against an expected .out."""
    from pgloader_spark.cli import main

    src = tmp_path / "cli_people.csv"
    src.write_text("10,ada\n20,grace\n30,edsger\n")
    pre = tmp_path / "pre.sql"
    pre.write_text(
        "DROP TABLE IF EXISTS cli_people;"
        "CREATE TABLE cli_people (id int, name text);"
    )
    rc = main([
        str(src), f"{seeded}?cli_people",
        "--field", "id", "--field", "name",
        "--with", "fields terminated by ','",
        "--before", str(pre),
        "--master", "local[4]",
        "--root-dir", str(tmp_path / "rej"),
    ])
    assert rc == 0
    rows = _pg_table_rows(seeded, "cli_people", order_by="id")
    assert [(int(a), b) for a, b in rows] == [
        (10, "ada"), (20, "grace"), (30, "edsger")
    ]

    # --regress needs a .load file with a regress/expected layout
    load = tmp_path / "cli_people.load"
    load.write_text(
        f"LOAD CSV FROM '{src}' (id, name)\n"
        f"  INTO {seeded}?cli_people\n"
        "  WITH truncate, fields terminated by ','\n"
        f"  BEFORE LOAD EXECUTE '{pre}';\n"
    )
    expdir = tmp_path / "regress" / "expected"
    expdir.mkdir(parents=True)
    (expdir / "cli_people.out").write_text("10\tada\n20\tgrace\n30\tedsger\n")
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej2"), "--regress"]) == 0
    # a wrong expectation fails the regress gate
    (expdir / "cli_people.out").write_text("10\tada\n20\tgrace\n30\tWRONG\n")
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej3"), "--regress"]) == 1


def test_write_pg_upsert_converges_on_rerun(seeded, spark):
    """Merge load: COPY into staging + one ON CONFLICT statement.
    Re-running the same load leaves the target unchanged (idempotent);
    changed rows update in place; new rows insert."""
    from pgloader_spark.sources.pg_live import write_pg_upsert

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS upsert_t")
        c.query(
            "CREATE TABLE upsert_t (id bigint PRIMARY KEY, name text,"
            " score double precision)"
        )
    df1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id long, name string, score double",
    )
    staged, merged = write_pg_upsert(df1, seeded, "upsert_t", ["id"])
    assert (staged, merged) == (3, 3)
    # re-run: same input, target unchanged, still 3 rows
    write_pg_upsert(df1, seeded, "upsert_t", ["id"])
    # changed + new rows
    df2 = spark.createDataFrame(
        [(2, "b2", 20.0), (4, "d", 4.0)], "id long, name string, score double"
    )
    staged2, merged2 = write_pg_upsert(df2, seeded, "upsert_t", ["id"])
    assert (staged2, merged2) == (2, 2)
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, name, score FROM upsert_t ORDER BY id")
    assert [(int(i), n, float(s)) for i, n, s in rows] == [
        (1, "a", 1.0),
        (2, "b2", 20.0),
        (3, "c", 3.0),
        (4, "d", 4.0),
    ]
    # staging table cleaned up
    with PGConn(seeded) as c:
        _, r = c.query(
            "SELECT COUNT(*) FROM information_schema.tables"
            " WHERE table_name LIKE '%__upsert_stage'"
        )
    assert int(r[0][0]) == 0


def test_write_pg_upsert_do_nothing_mode(seeded, spark):
    from pgloader_spark.sources.pg_live import write_pg_upsert

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS upsert_n")
        c.query("CREATE TABLE upsert_n (k text PRIMARY KEY)")
    df = spark.createDataFrame([("x",), ("y",)], "k string")
    write_pg_upsert(df, seeded, "upsert_n", ["k"], update_cols=[])
    s, m = write_pg_upsert(df, seeded, "upsert_n", ["k"], update_cols=[])
    assert (s, m) == (2, 0)  # DO NOTHING: conflicts merge zero rows
    with PGConn(seeded) as c:
        _, r = c.query("SELECT COUNT(*) FROM upsert_n")
    assert int(r[0][0]) == 2


def test_write_pg_upsert_duplicate_keys_in_batch(seeded, spark):
    """A batch carrying the same key twice must not error with
    "ON CONFLICT DO UPDATE command cannot affect row a second time"
    (round-3 advice); the staging select dedupes per key first."""
    from pgloader_spark.sources.pg_live import write_pg_upsert

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS upsert_dup")
        c.query(
            "CREATE TABLE upsert_dup (id bigint PRIMARY KEY, name text)"
        )
    df = spark.createDataFrame(
        [(1, "first"), (1, "second"), (2, "only")],
        "id long, name string",
    ).coalesce(1)
    staged, merged = write_pg_upsert(df, seeded, "upsert_dup", ["id"])
    assert staged == 3
    assert merged == 2  # one row per distinct key reaches the target
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, name FROM upsert_dup ORDER BY id")
    got = {int(i): n for i, n in rows}
    assert set(got) == {1, 2}
    assert got[1] in ("first", "second")  # one of the dups, no error
    assert got[2] == "only"
    # converges on re-run, too
    s2, m2 = write_pg_upsert(df, seeded, "upsert_dup", ["id"])
    assert (s2, m2) == (3, 2)


def test_password_auth_scram_md5_and_pgpass(pg_dsn, monkeypatch, tmp_path):
    """Real-server auth matrix: SCRAM-SHA-256 (PG-14+ default verifier),
    MD5, wrong-password rejection, and password resolution from a
    pgpass file instead of the DSN (reference parse-pgpass.lisp)."""
    host_port = pg_dsn.split("@", 1)[1].split("/", 1)[0]
    with PGConn(pg_dsn) as c:
        hba_path = c.query("SHOW hba_file")[1][0][0]
        c.query("DROP ROLE IF EXISTS scram_user")
        c.query("DROP ROLE IF EXISTS md5_user")
        c.query("SET password_encryption = 'scram-sha-256'")
        c.query("CREATE ROLE scram_user LOGIN PASSWORD 'sc-pw'")
        c.query("SET password_encryption = 'md5'")
        c.query("CREATE ROLE md5_user LOGIN PASSWORD 'md5-pw'")
    original = open(hba_path).read()
    try:
        with open(hba_path, "w") as fh:
            fh.write(
                "host all scram_user 127.0.0.1/32 scram-sha-256\n"
                "host all md5_user 127.0.0.1/32 md5\n" + original
            )
        with PGConn(pg_dsn) as c:
            assert c.query("SELECT pg_reload_conf()")[1] == [("t",)]
        # inline-password DSNs: full SCRAM and MD5 handshakes
        with PGConn(f"postgresql://scram_user:sc-pw@{host_port}/postgres") as c:
            assert c.query("SELECT current_user")[1] == [("scram_user",)]
        with PGConn(f"postgresql://md5_user:md5-pw@{host_port}/postgres") as c:
            assert c.query("SELECT current_user")[1] == [("md5_user",)]
        # wrong password is rejected by the server
        with pytest.raises(PGError, match="28P01|password"):
            PGConn(f"postgresql://scram_user:WRONG@{host_port}/postgres")
        # no password anywhere: clear failure, not a hang
        monkeypatch.setenv("PGPASSFILE", str(tmp_path / "absent"))
        with pytest.raises(PGError, match="password"):
            PGConn(f"postgresql://scram_user@{host_port}/postgres")
        # pgpass-resolved password (DSN carries none)
        pgpass = tmp_path / "pgpass"
        host, port = host_port.split(":")
        pgpass.write_text(
            f"# comment\n{host}:{port}:*:scram_user:sc-pw\n*:*:*:md5_user:md5-pw\n"
        )
        monkeypatch.setenv("PGPASSFILE", str(pgpass))
        with PGConn(f"postgresql://scram_user@{host_port}/postgres") as c:
            assert c.query("SELECT current_user")[1] == [("scram_user",)]
        with PGConn(f"postgresql://md5_user@{host_port}/postgres") as c:
            assert c.query("SELECT current_user")[1] == [("md5_user",)]
    finally:
        with open(hba_path, "w") as fh:
            fh.write(original)
        with PGConn(pg_dsn) as c:
            c.query("SELECT pg_reload_conf()")
            c.query("DROP ROLE IF EXISTS scram_user")
            c.query("DROP ROLE IF EXISTS md5_user")


def test_post_load_retry_survives_connection_kill(pg_dsn):
    """complete-pgsql-database semantics (migrate-database.lisp:227-250):
    the post-load phase runs in one transaction; a connection killed
    mid-phase (here: pg_terminate_backend during a pg_sleep between the
    index and FK statements) rolls everything back, and the automatic
    reconnect re-runs the whole list to convergence."""
    import threading

    from pgloader_spark.plans.orchestrate import run_post_load

    with PGConn(pg_dsn) as c:
        c.query("DROP TABLE IF EXISTS plr_child")
        c.query("DROP TABLE IF EXISTS plr_parent")
        c.query("CREATE TABLE plr_parent (id bigint NOT NULL)")
        c.query("CREATE TABLE plr_child (id bigint, pid bigint)")
        c.query("INSERT INTO plr_parent VALUES (1), (2)")
        c.query("INSERT INTO plr_child VALUES (10, 1), (20, 2)")

    marker = "/* post-load-phase-gap */"
    statements = [
        "ALTER TABLE plr_parent ADD PRIMARY KEY (id)",
        "CREATE INDEX plr_child_pid_idx ON plr_child (pid)",
        f"SELECT pg_sleep(5) {marker}",  # the long "index build"
        "ALTER TABLE plr_child ADD CONSTRAINT plr_fk "
        "FOREIGN KEY (pid) REFERENCES plr_parent (id)",
    ]

    killed = threading.Event()

    def killer():
        # watch for the sleeping statement, terminate that backend once
        with PGConn(pg_dsn) as k:
            for _ in range(100):
                _, rows = k.query(
                    "SELECT pg_terminate_backend(pid) FROM pg_stat_activity "
                    f"WHERE query LIKE '%{marker}%' "
                    "AND pid <> pg_backend_pid() AND state = 'active'"
                )
                if rows:
                    killed.set()
                    return
                time.sleep(0.1)

    t = threading.Thread(target=killer)
    t.start()
    n = run_post_load(pg_dsn, statements, max_retries=3, retry_sleep=0.5)
    t.join()
    assert killed.is_set(), "killer never fired — test proved nothing"
    assert n == len(statements)
    with PGConn(pg_dsn) as c:
        # all DDL converged exactly once despite the mid-phase kill
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes WHERE indexname = 'plr_child_pid_idx'"
        )
        assert rows == [("1",)]
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_constraint WHERE conname = 'plr_fk'"
        )
        assert rows == [("1",)]
        c.query("DROP TABLE plr_child")
        c.query("DROP TABLE plr_parent")


def test_post_load_retry_raises_on_sql_error(pg_dsn):
    """Ordinary SQL errors are NOT retried (the reference's
    handler-case catches only postgresql-unavailable)."""
    from pgloader_spark.plans.orchestrate import run_post_load

    with pytest.raises(PGError, match="42P01"):
        run_post_load(pg_dsn, ["SELECT * FROM table_that_is_not_there"])


def test_chinook_migration_carries_keys(seeded, spark, tmp_path):
    """The complete phase now migrates PKs, secondary indexes, and
    FOREIGN KEYs from the source catalog (complete-pgsql-database /
    list-all-indexes / list-all-fkeys), not just the data."""
    _run_ref_db_scenario("sqlite-chinook", seeded, spark, tmp_path)
    with PGConn(seeded) as c:
        # every core table got its PRIMARY KEY promoted
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_constraint pc "
            "JOIN pg_class t ON t.oid = pc.conrelid "
            "WHERE pc.contype = 'p' AND t.relname IN "
            "('album', 'track', 'customer', 'staff', 'genre')"
        )
        assert rows == [("5",)]
        # FKs followed the ALTER TABLE rename (employee -> staff)
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_constraint pc "
            "JOIN pg_class t ON t.oid = pc.conrelid "
            "JOIN pg_class ft ON ft.oid = pc.confrelid "
            "WHERE pc.contype = 'f' AND t.relname = 'album' "
            "AND ft.relname = 'artist'"
        )
        assert rows == [("1",)]
        # track's composer index (a Chinook secondary index) exists
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes "
            "WHERE tablename = 'track' AND indexdef LIKE '%(trackid)%'"
            " AND indexdef LIKE '%UNIQUE%'"
        )
        # PK index counts as unique on trackid
        assert int(rows[0][0]) >= 1
        # FK integrity is live: an orphan insert fails
        with pytest.raises(PGError, match="23503"):
            c.query("INSERT INTO album VALUES (99999, 'x', 987654)")


def test_legacy_ini_config_end_to_end(seeded, spark, tmp_path):
    """pgloader v2 pgloader.conf through the CLI: two data sections,
    template inheritance, truncate + skip_head_lines, loaded into the
    live server (parse-ini.lisp compatibility)."""
    from pgloader_spark.cli import main

    host_port = seeded.split("@", 1)[1].split("/", 1)[0]
    host, port = host_port.split(":")
    (tmp_path / "ini_people.csv").write_text(
        "id,name\n1,ada\n2,grace\n"
    )
    (tmp_path / "ini_tags.csv").write_text("10;x\n20;y\n30;z\n")
    conf = tmp_path / "pgloader.conf"
    conf.write_text(
        f"[pgsql]\nhost = {host}\nport = {port}\nuser = postgres\n"
        "base = postgres\n"
        "\n"
        "[semi]\ntemplate = True\nfield_sep = ;\n"
        "\n"
        "[ini_people]\ntable = ini_people\nfilename = ini_people.csv\n"
        "field_sep = ,\nskip_head_lines = 1\ntruncate = True\n"
        "columns = id, name\n"
        "\n"
        "[ini_tags]\nuse_template = semi\ntable = ini_tags\n"
        "filename = ini_tags.csv\ncolumns = id, tag\n"
    )
    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS ini_people")
        c.query("DROP TABLE IF EXISTS ini_tags")
        c.query("CREATE TABLE ini_people (id int, name text)")
        c.query("CREATE TABLE ini_tags (id int, tag text)")
        c.query("INSERT INTO ini_people VALUES (99, 'stale')")  # truncated
    assert main([str(conf), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej")]) == 0
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, name FROM ini_people ORDER BY id")
        assert rows == [("1", "ada"), ("2", "grace")]
        _, rows = c.query("SELECT id, tag FROM ini_tags ORDER BY id")
        assert rows == [("10", "x"), ("20", "y"), ("30", "z")]


def test_capture_and_drop_indexes_roundtrip(seeded):
    """WITH drop indexes kernel: constraints + plain indexes drop and
    the returned DDL rebuilds them; a PK referenced by another table's
    FK survives (cannot drop) and is excluded from the rebuild."""
    from pgloader_spark.plans.orchestrate import run_post_load
    from pgloader_spark.sources.pg_live import capture_and_drop_indexes

    with PGConn(seeded) as c:
        for t in ("cdi_child", "cdi_t", "cdi_ref"):
            c.query(f"DROP TABLE IF EXISTS {t}")
        c.query(
            "CREATE TABLE cdi_t (id bigint PRIMARY KEY, u text UNIQUE,"
            " v int)"
        )
        c.query("CREATE INDEX cdi_t_v_idx ON cdi_t (v)")
        c.query("CREATE TABLE cdi_ref (id bigint PRIMARY KEY)")
        c.query(
            "CREATE TABLE cdi_child (rid bigint REFERENCES cdi_ref (id))"
        )

    stmts = capture_and_drop_indexes(seeded, "cdi_t")
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes WHERE tablename = 'cdi_t'"
        )
        assert rows == [("0",)]  # everything dropped
    assert len(stmts) == 3  # pkey + unique + plain index
    run_post_load(seeded, stmts, transactional=False)
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes WHERE tablename = 'cdi_t'"
        )
        assert rows == [("3",)]  # all back

    # FK-referenced PK is kept live and NOT in the rebuild list
    stmts_ref = capture_and_drop_indexes(seeded, "cdi_ref")
    assert stmts_ref == []
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes WHERE tablename = 'cdi_ref'"
        )
        assert rows == [("1",)]
        for t in ("cdi_child", "cdi_t", "cdi_ref"):
            c.query(f"DROP TABLE IF EXISTS {t}")


def test_load_csv_with_drop_indexes_rebuilds(seeded, spark, tmp_path):
    """File load WITH truncate, drop indexes: target indexes drop
    before the COPY and rebuild after it (docs/ref/pgsql.rst 'drop
    indexes')."""
    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS di_people")
        c.query("CREATE TABLE di_people (id bigint PRIMARY KEY, name text)")
        c.query("CREATE INDEX di_people_name_idx ON di_people (name)")
        c.query("INSERT INTO di_people VALUES (99, 'stale')")
    csv = tmp_path / "di.csv"
    csv.write_text("1,ada\n2,grace\n")
    load = tmp_path / "di.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO {seeded}?di_people (id, name)\n"
        "  WITH truncate, drop indexes, fields terminated by ',';\n"
    )
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej")]) == 0
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, name FROM di_people ORDER BY id")
        assert rows == [("1", "ada"), ("2", "grace")]
        _, rows = c.query(
            "SELECT indexname FROM pg_indexes WHERE tablename = 'di_people'"
            " ORDER BY indexname"
        )
        assert [r[0] for r in rows] == ["di_people_name_idx", "di_people_pkey"]
        # the rebuilt PK still enforces
        with pytest.raises(PGError, match="23505"):
            c.query("INSERT INTO di_people VALUES (1, 'dup')")


def test_load_csv_with_drop_indexes_rebuilds_after_failed_copy(
    seeded, spark, tmp_path
):
    """A COPY the server rejects fails the load (so `python -m
    pgloader_spark` exits non-zero), and WITH drop indexes still
    rebuilds the index and PK and removes its recovery script."""
    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS dif_people")
        c.query("CREATE TABLE dif_people (id bigint PRIMARY KEY, name text)")
        c.query("CREATE INDEX dif_people_name_idx ON dif_people (name)")
    csv = tmp_path / "dif.csv"
    # untyped target columns: 'not-a-number' reaches the server's COPY
    csv.write_text("1,ada\nnot-a-number,grace\n")
    load = tmp_path / "dif.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO {seeded}?dif_people (id, name)\n"
        "  WITH truncate, drop indexes, on error stop,\n"
        "       fields terminated by ',';\n"
    )
    root = tmp_path / "rej"
    with pytest.raises(Exception, match="22P02"):
        main([str(load), "--master", "local[4]", "--root-dir", str(root)])
    assert list(root.rglob("*.rebuild.sql")) == []
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT indexname FROM pg_indexes WHERE tablename = 'dif_people'"
            " ORDER BY indexname"
        )
        assert [r[0] for r in rows] == ["dif_people_name_idx", "dif_people_pkey"]
        c.query("INSERT INTO dif_people VALUES (1, 'ada')")
        with pytest.raises(PGError, match="23505"):
            c.query("INSERT INTO dif_people VALUES (1, 'dup')")


def test_cli_load_csv_runs_at_most_two_spark_jobs(
    seeded, spark, tmp_path, capsys
):
    """A file LOAD into PostgreSQL is one Spark pass: the COPY counts
    rows while it writes, with no cache()+count() and no validate scan
    before it.  A value that fails its cast still loads as NULL."""
    import json

    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS jc_people")
        c.query("CREATE TABLE jc_people (id bigint, name text, score numeric)")
    csv = tmp_path / "jc.csv"
    csv.write_text(
        "".join(f"{i},user_{i},{i}.5\n" for i in range(1, 101)) + "x,bad,1\n"
    )
    load = tmp_path / "jc.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name, score)\n"
        f"  INTO {seeded}?jc_people (id bigint, name text, score numeric)\n"
        "  WITH fields terminated by ',';\n"
    )
    sc = spark.sparkContext
    capsys.readouterr()
    sc.setJobGroup("cli_csv_load", "cli LOAD CSV job count")
    try:
        assert main([str(load), "--master", "local[4]", "--summary", "json",
                     "--root-dir", str(tmp_path / "rej")]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cli_csv_load")) <= 2
    (table,) = json.loads(capsys.readouterr().out)["tables"]
    assert (table["read"], table["loaded"], table["errors"]) == (101, 101, 0)
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT count(*), count(id), sum(score)::int FROM jc_people"
        )
        assert rows == [("101", "100", "5101")]


def test_cli_load_isolates_rejected_row_into_reject_files(
    seeded, spark, tmp_path, capsys
):
    """Without on error stop the COPY retries around the row the server
    rejects: the load succeeds, the summary counts the reject, and the
    row and its error land in <root-dir>/<db>/<table>.dat and .log."""
    import json

    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS rj_people")
        c.query("CREATE TABLE rj_people (id bigint, name text)")
    csv = tmp_path / "rj.csv"
    csv.write_text("1,ada\nnot-a-number,grace\n")
    load = tmp_path / "rj.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO {seeded}?rj_people (id, name)\n"
        "  WITH fields terminated by ',';\n"
    )
    root = tmp_path / "root"
    capsys.readouterr()
    assert main([str(load), "--master", "local[4]", "--summary", "json",
                 "--root-dir", str(root)]) == 0
    (table,) = json.loads(capsys.readouterr().out)["tables"]
    assert (table["read"], table["loaded"], table["errors"]) == (2, 1, 1)
    assert _pg_table_rows(seeded, "rj_people") == [("1", "ada")]
    assert (root / "postgres" / "rj_people.dat").read_text() == (
        "not-a-number\tgrace\n"
    )
    assert "22P02" in (root / "postgres" / "rj_people.log").read_text()


def test_cli_load_applies_set_clause_to_copy_session(seeded, spark, tmp_path):
    """The command's SET clause is in effect on the COPY session: a
    column defaulting to current_setting('application_name') records
    the value the command set."""
    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS set_people")
        c.query(
            "CREATE TABLE set_people (id int, name text,"
            " app text DEFAULT current_setting('application_name'))"
        )
    csv = tmp_path / "set.csv"
    csv.write_text("1,ada\n2,grace\n")
    load = tmp_path / "set.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO {seeded}?set_people (id, name)\n"
        "  WITH fields terminated by ','\n"
        "  SET application_name to 'pgl_set_test';\n"
    )
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej")]) == 0
    assert _pg_table_rows(seeded, "set_people", order_by="id") == [
        ("1", "ada", "pgl_set_test"), ("2", "grace", "pgl_set_test"),
    ]


def test_cli_load_date_format_and_positional_columns(seeded, spark, tmp_path):
    """The COPY sink aligns the frame to the live target: WITH date
    format parses values PostgreSQL cannot, and a load with no field
    list (positional _c0.._cN columns) takes the target's names."""
    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS df_events")
        c.query("CREATE TABLE df_events (id int, ts timestamp)")
        c.query("DROP TABLE IF EXISTS pos_people")
        c.query("CREATE TABLE pos_people (id int, name text)")
    dates = tmp_path / "dates.csv"
    dates.write_text("1,31/01/2024 10:30:00\n2,15/02/2024 08:00:00\n")
    (tmp_path / "dates.load").write_text(
        f"LOAD CSV FROM '{dates}' (id, ts)\n"
        f"  INTO {seeded}?df_events (id, ts)\n"
        "  WITH fields terminated by ',',\n"
        "       date format 'DD/MM/YYYY HH24:MI:SS';\n"
    )
    people = tmp_path / "pos.csv"
    people.write_text("1,ada\n2,grace\n")
    (tmp_path / "pos.load").write_text(
        f"LOAD CSV FROM '{people}'\n"
        f"  INTO {seeded}?pos_people\n"
        "  WITH fields terminated by ',';\n"
    )
    for name in ("dates", "pos"):
        assert main([str(tmp_path / f"{name}.load"), "--master", "local[4]",
                     "--root-dir", str(tmp_path / "rej")]) == 0
    assert _pg_table_rows(seeded, "df_events", order_by="id") == [
        ("1", "2024-01-31 10:30:00"), ("2", "2024-02-15 08:00:00"),
    ]
    assert _pg_table_rows(seeded, "pos_people", order_by="id") == [
        ("1", "ada"), ("2", "grace"),
    ]


def test_cli_load_archive_runs_nested_commands(seeded, spark, tmp_path):
    """The CLI runs LOAD ARCHIVE: the zip expands, and each nested
    command lands through the COPY sink with its own WITH options
    (truncate replaces the stale row)."""
    import zipfile

    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS arc_people")
        c.query("CREATE TABLE arc_people (id int, name text)")
        c.query("INSERT INTO arc_people VALUES (99, 'stale')")
    zpath = tmp_path / "people.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("arc_people.csv", "1,ada\n2,grace\n")
    load = tmp_path / "arc.load"
    load.write_text(
        f"LOAD ARCHIVE\n"
        f"  FROM {zpath}\n"
        f"  INTO {seeded}\n"
        "  LOAD CSV FROM FILENAME MATCHING ~/arc_people\\.csv/ (id, name)\n"
        f"       INTO {seeded}?arc_people (id, name)\n"
        "       WITH truncate, fields terminated by ',';\n"
    )
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej")]) == 0
    assert _pg_table_rows(seeded, "arc_people", order_by="id") == [
        ("1", "ada"), ("2", "grace"),
    ]


def test_load_database_drop_indexes_rebuilds_after_failed_copy(
    seeded, spark, tmp_path
):
    """LOAD DATABASE WITH data only, drop indexes: a COPY the server
    rejects fails the migration, and the target still gets its index
    and PK back, with no recovery script left behind."""
    import sqlite3

    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute_database

    src = tmp_path / "src.db"
    con = sqlite3.connect(src)
    con.execute("CREATE TABLE dbi_people (id integer PRIMARY KEY, name text)")
    con.execute("INSERT INTO dbi_people VALUES (1, 'ada')")
    con.commit()
    con.close()
    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS dbi_people")
        # name is int on the target: 'ada' fails the COPY
        c.query("CREATE TABLE dbi_people (id bigint PRIMARY KEY, name int)")
        c.query("CREATE INDEX dbi_people_name_idx ON dbi_people (name)")
    cmd = parse_load(
        f"LOAD DATABASE FROM sqlite://{src} INTO {seeded}\n"
        "  WITH data only, drop indexes\n"
        "  INCLUDING ONLY TABLE NAMES MATCHING 'dbi_people';\n"
    )
    root = tmp_path / "root"
    with pytest.raises(Exception, match="22P02"):
        execute_database(ExecutionContext(spark=spark, root_dir=str(root)), cmd)
    assert list(root.rglob("*.rebuild.sql")) == []
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT indexname FROM pg_indexes WHERE tablename = 'dbi_people'"
            " ORDER BY indexname"
        )
        assert [r[0] for r in rows] == ["dbi_people_name_idx", "dbi_people_pkey"]
        c.query("INSERT INTO dbi_people VALUES (1, 2)")
        with pytest.raises(PGError, match="23505"):
            c.query("INSERT INTO dbi_people VALUES (1, 3)")


def test_run_parallel_indexes_builds_concurrently(seeded):
    """The idx-kernel shape: N CREATE INDEX statements across
    concurrent connections, duplicate-tolerant per statement."""
    from pgloader_spark.plans.orchestrate import run_parallel_indexes

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS pidx")
        c.query("CREATE TABLE pidx (a int, b int, c int, d int)")
        c.query("INSERT INTO pidx SELECT i, i, i, i FROM generate_series(1, 1000) i")
    stmts = [f"CREATE INDEX pidx_{col} ON pidx ({col})" for col in "abcd"]
    errors: list[str] = []
    assert run_parallel_indexes(seeded, stmts, workers=4, errors=errors) == 4
    assert errors == []
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*) FROM pg_indexes WHERE tablename = 'pidx'"
        )
        assert rows == [("4",)]
    # re-run converges (duplicate-object tolerance), a genuine error is
    # collected without failing the phase
    errors2: list[str] = []
    n = run_parallel_indexes(
        seeded, stmts + ["CREATE INDEX bad ON pidx (missing_col)"],
        workers=3, errors=errors2,
    )
    assert n == 4 and len(errors2) == 1
    with PGConn(seeded) as c:
        c.query("DROP TABLE pidx")


def test_pg_to_pg_migrates_comments_and_checks(seeded, spark, tmp_path):
    """PG-source extras (round 4): table/column comments and CHECK
    constraints introspected from pg_description / pg_constraint carry
    into the target, alongside the PK."""
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import (
        ExecutionContext,
        execute_database,
    )

    base = seeded.rsplit("/", 1)[0]
    with PGConn(seeded) as c:
        for db in ("src_extras", "tgt_extras"):
            c.query(f"DROP DATABASE IF EXISTS {db}")
            c.query(f"CREATE DATABASE {db}")
    src = f"{base}/src_extras"
    tgt = f"{base}/tgt_extras"
    with PGConn(src) as c:
        c.query(
            "CREATE TABLE items (id bigint PRIMARY KEY, qty int,"
            " CONSTRAINT items_qty_chk CHECK (qty >= 0))"
        )
        c.query("COMMENT ON TABLE items IS 'inventory lines'")
        c.query("COMMENT ON COLUMN items.qty IS 'on-hand count'")
        c.query("INSERT INTO items VALUES (1, 5), (2, 0)")
    cmd = parse_load(
        f"LOAD DATABASE FROM {src} INTO {tgt} WITH include drop;"
    )
    ctx = ExecutionContext(spark=spark, root_dir=str(tmp_path))
    reports = execute_database(ctx, cmd)
    assert {r.table: r.loaded for r in reports} == {"items": 2}
    with PGConn(tgt) as c:
        _, rows = c.query(
            "SELECT obj_description('items'::regclass, 'pg_class')"
        )
        assert rows == [("inventory lines",)]
        _, rows = c.query("SELECT col_description('items'::regclass, 2)")
        assert rows == [("on-hand count",)]
        with pytest.raises(PGError, match="23514"):
            c.query("INSERT INTO items VALUES (3, -1)")
        with pytest.raises(PGError, match="23505"):  # PK migrated too
            c.query("INSERT INTO items VALUES (1, 9)")


def test_write_pg_copy_exactly_once_under_task_retry(seeded, tmp_path):
    """Task retries are routine on a 1000-executor cluster; the COPY
    sink must stay exactly-once through them.  A task killed MID-COPY
    leaves an uncommitted stream (the server aborts the statement on
    disconnect), so the retry re-sends the partition cleanly.  Runs in
    a subprocess because local[N] disables task retries — local[4,2]
    grants each task a second attempt."""
    import subprocess
    import sys
    import textwrap

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS retry_t")
        c.query("CREATE TABLE retry_t (id bigint, v text)")
    flag = tmp_path / "failed_once"
    # injection: a row-level UDF in the source poisons one partition's
    # first attempt; the failure surfaces inside the sink task while
    # its COPY stream is open
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {str(os.getcwd())!r})
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark = (SparkSession.builder.master("local[4,2]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())

        @F.udf(LongType())
        def maybe_boom(i):
            # partition-0 rows crash the FIRST attempt midway
            if i == 300 and not os.path.exists({str(flag)!r}):
                open({str(flag)!r}, "w").close()
                raise RuntimeError("injected task failure")
            return i

        df = (spark.range(5000)
              .select(maybe_boom(F.col("id")).alias("id"))
              .selectExpr("id", "concat('v_', id) AS v"))
        from pgloader_spark.sources.pg_live import write_pg_copy
        n = write_pg_copy(df, {seeded!r}, "retry_t")
        print("LOADED", n)
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.getcwd(),
    )
    assert "LOADED 5000" in proc.stdout, proc.stderr[-2000:]
    assert flag.exists(), "injection never fired — test proved nothing"
    with PGConn(seeded) as c:
        _, rows = c.query(
            "SELECT COUNT(*), COUNT(DISTINCT id) FROM retry_t"
        )
        assert rows == [("5000", "5000")]  # no duplicates, no gaps


def test_tls_sslmode_require_and_verify(pg_dsn, tmp_path, monkeypatch):
    """Real TLS over the wire client: a self-signed server cert turns
    ssl=on via reload; sslmode=require completes the SSLRequest
    handshake and encrypts (pg_stat_ssl confirms), verify-ca passes
    with the right root cert and fails with the wrong one, and
    sslmode=disable stays plaintext."""
    import subprocess

    with PGConn(pg_dsn) as c:
        data_dir = c.query("SHOW data_directory")[1][0][0]
    key = tmp_path / "server.key"
    crt = tmp_path / "server.crt"
    r = subprocess.run(
        ["openssl", "req", "-new", "-x509", "-days", "1", "-nodes",
         "-subj", "/CN=127.0.0.1", "-keyout", str(key), "-out", str(crt)],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr
    import shutil as _sh

    for src, name, mode in ((key, "server.key", 0o600), (crt, "server.crt", 0o644)):
        dst = os.path.join(data_dir, name)
        _sh.copy(str(src), dst)
        os.chmod(dst, mode)
        _sh.chown(dst, "postgres", "postgres")
    with PGConn(pg_dsn) as c:
        c.query("ALTER SYSTEM SET ssl = on")
        c.query("ALTER SYSTEM SET ssl_cert_file = 'server.crt'")
        c.query("ALTER SYSTEM SET ssl_key_file = 'server.key'")
        c.query("SELECT pg_reload_conf()")
    try:
        with PGConn(f"{pg_dsn}?sslmode=require") as c:
            _, rows = c.query(
                "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"
            )
            assert rows == [("t",)]  # the stream is genuinely encrypted
            assert c.query("SELECT 41 + 1")[1] == [("42",)]
        # default 'prefer' now also lands on TLS
        with PGConn(pg_dsn) as c:
            _, rows = c.query(
                "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"
            )
            assert rows == [("t",)]
        # disable stays plaintext
        with PGConn(f"{pg_dsn}?sslmode=disable") as c:
            _, rows = c.query(
                "SELECT COUNT(*) FROM pg_stat_ssl "
                "WHERE pid = pg_backend_pid() AND ssl"
            )
            assert rows == [("0",)]
        # verify-ca: our self-signed cert IS the root -> passes
        with PGConn(
            f"{pg_dsn}?sslmode=verify-ca&sslrootcert={crt}"
        ) as c:
            assert c.query("SELECT 1")[1] == [("1",)]
        # distributed read over TLS: every Spark task opens its own
        # encrypted connection for its ctid-range COPY stream
        from pgloader_spark.session import get_spark
        from pgloader_spark.sources.pg_live import read_pg_table

        with PGConn(pg_dsn) as c:
            c.query("DROP TABLE IF EXISTS tls_read_t")
            c.query("CREATE TABLE tls_read_t (id bigint, v text)")
            c.query(
                "INSERT INTO tls_read_t "
                "SELECT g, 'v' || g FROM generate_series(1, 5000) g"
            )
        spark = get_spark()
        df = read_pg_table(spark, f"{pg_dsn}?sslmode=require", "tls_read_t")
        assert df.count() == 5000
        assert df.agg({"id": "sum"}).collect()[0][0] == 5000 * 5001 // 2
        # verify-ca against an unrelated root: certificate rejected
        other = tmp_path / "other.crt"
        subprocess.run(
            ["openssl", "req", "-new", "-x509", "-days", "1", "-nodes",
             "-subj", "/CN=elsewhere", "-keyout", str(tmp_path / "o.key"),
             "-out", str(other)],
            capture_output=True,
        )
        with pytest.raises(Exception, match="certificate|CERTIFICATE"):
            PGConn(f"{pg_dsn}?sslmode=verify-ca&sslrootcert={other}")
    finally:
        with PGConn(f"{pg_dsn}?sslmode=disable") as c:
            c.query("ALTER SYSTEM RESET ssl")
            c.query("ALTER SYSTEM RESET ssl_cert_file")
            c.query("ALTER SYSTEM RESET ssl_key_file")
            c.query("SELECT pg_reload_conf()")


def test_load_csv_with_reindex_spelling(seeded, spark, tmp_path):
    """WITH reindex = drop indexes before + create indexes after
    (docs/ref/pgsql.rst) — the alternate spelling drives the same
    drop/rebuild kernel."""
    from pgloader_spark.cli import main

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS ri_people")
        c.query("CREATE TABLE ri_people (id bigint PRIMARY KEY, name text)")
        c.query("CREATE INDEX ri_people_name_idx ON ri_people (name)")
    csv = tmp_path / "ri.csv"
    csv.write_text("1,ada\n2,grace\n")
    load = tmp_path / "ri.load"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO {seeded}?ri_people (id, name)\n"
        "  WITH truncate, reindex, fields terminated by ',';\n"
    )
    assert main([str(load), "--master", "local[4]",
                 "--root-dir", str(tmp_path / "rej")]) == 0
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT count(*) FROM ri_people")
        assert rows == [("2",)]
        _, rows = c.query(
            "SELECT indexname FROM pg_indexes WHERE tablename = 'ri_people'"
            " ORDER BY indexname"
        )
        assert [r[0] for r in rows] == ["ri_people_name_idx", "ri_people_pkey"]


def test_streaming_sink_exactly_once(seeded, spark, tmp_path):
    """Exactly-once streaming into PG: (a) a live 2-micro-batch stream
    lands every row exactly once; (b) REPLAYING an epoch (the
    crash-between-sink-and-checkpoint case) is a no-op; (c) a partial
    stage left by a mid-epoch crash is discarded on the retry."""
    from pgloader_spark.sources.pg_live import write_pg_copy
    from pgloader_spark.streaming.pg_sink import (
        apply_epoch_exactly_once,
        write_stream_pg_exactly_once,
    )

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS eo_sink")
        c.query("DROP TABLE IF EXISTS eo_sink__epochs")
        c.query("CREATE TABLE eo_sink (id bigint, v text)")
    src = tmp_path / "eo_in"
    src.mkdir()
    (src / "b1.csv").write_text("1,a\n2,b\n")
    stream = (
        spark.readStream.format("csv")
        .schema("id bigint, v string")
        .load(str(src))
    )
    q = write_stream_pg_exactly_once(
        stream, seeded, "eo_sink", str(tmp_path / "eo_ck"), n_writers=2
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("3,c\n")
        q.processAllAvailable()
    finally:
        q.stop()
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM eo_sink ORDER BY id")
        assert rows == [("1", "a"), ("2", "b"), ("3", "c")]
        _, eps = c.query("SELECT COUNT(*) FROM eo_sink__epochs")
        n_epochs = int(eps[0][0])
        assert n_epochs >= 2

    # (b) replay an already-committed epoch -> skipped, no duplicates
    replay = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    assert apply_epoch_exactly_once(replay, 0, seeded, "eo_sink") == 0
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT COUNT(*) FROM eo_sink")
        assert rows == [("3",)]

    # (c) a partial stage from a mid-epoch crash is truncated on retry
    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS eo_sink__stage")
        c.query("CREATE TABLE eo_sink__stage (LIKE eo_sink)")
    write_pg_copy(
        spark.createDataFrame([(97, "zombie")], "id bigint, v string"),
        seeded,
        "eo_sink__stage",
        n_writers=1,
    )
    fresh = spark.createDataFrame([(4, "d")], "id bigint, v string")
    assert apply_epoch_exactly_once(fresh, 99, seeded, "eo_sink") == 1
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM eo_sink ORDER BY id")
        assert rows == [("1", "a"), ("2", "b"), ("3", "c"), ("4", "d")]


def test_apply_pg_cdc_collapsed_last_op(seeded, spark):
    """CDC batch application: last-op-per-key wins (by seq), deletes
    remove, upserts land, re-running the same batch converges, and a
    delete-then-reinsert inside one batch resolves to the reinsert."""
    from pgloader_spark.sources.pg_live import apply_pg_cdc

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS cdc_t")
        c.query("CREATE TABLE cdc_t (id bigint PRIMARY KEY, v text)")
        c.query("INSERT INTO cdc_t VALUES (1, 'old1'), (2, 'old2'), (3, 'old3')")
    batch = spark.createDataFrame(
        [
            (1, "upd1", "U", 10),     # update existing
            (2, None, "D", 11),       # delete existing
            (4, "new4", "I", 12),     # insert new
            (5, "first5", "I", 13),   # insert...
            (5, "last5", "U", 14),    # ...then update: last wins
            (3, None, "D", 15),       # delete...
            (3, "back3", "I", 16),    # ...then reinsert: reinsert wins
        ],
        "id bigint, v string, op string, seq long",
    )
    staged, ups, dels = apply_pg_cdc(
        batch, seeded, "cdc_t", key_cols=["id"], seq_col="seq", n_writers=2
    )
    assert staged == 7
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM cdc_t ORDER BY id")
        assert rows == [
            ("1", "upd1"), ("3", "back3"), ("4", "new4"), ("5", "last5"),
        ]
    assert dels == 1  # only id=2's collapsed op was a delete
    # idempotence: the same batch re-applied converges to the same state
    apply_pg_cdc(batch, seeded, "cdc_t", key_cols=["id"], seq_col="seq")
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM cdc_t ORDER BY id")
        assert rows == [
            ("1", "upd1"), ("3", "back3"), ("4", "new4"), ("5", "last5"),
        ]


def test_streaming_cdc_exactly_once(seeded, spark, tmp_path):
    """Streaming CDC replication with exactly-once epochs: a 2-batch
    change stream (insert/update/delete) lands collapsed, and
    replaying an applied epoch is a no-op."""
    from pgloader_spark.sources.pg_live import apply_pg_cdc
    from pgloader_spark.streaming.pg_sink import (
        write_stream_pg_cdc_exactly_once,
    )

    with PGConn(seeded) as c:
        c.query("DROP TABLE IF EXISTS cdcs_t")
        c.query("DROP TABLE IF EXISTS cdcs_t__epochs")
        c.query("CREATE TABLE cdcs_t (id bigint PRIMARY KEY, v text)")
    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "b1.csv").write_text("1,a,I,1\n2,b,I,2\n")
    stream = (
        spark.readStream.format("csv")
        .schema("id bigint, v string, op string, seq long")
        .load(str(src))
    )
    q = write_stream_pg_cdc_exactly_once(
        stream, seeded, "cdcs_t", ["id"],
        str(tmp_path / "cdc_ck"), seq_col="seq", n_writers=2,
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("1,a2,U,3\n2,,D,4\n3,c,I,5\n")
        q.processAllAvailable()
    finally:
        q.stop()
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM cdcs_t ORDER BY id")
        assert rows == [("1", "a2"), ("3", "c")]
    # replaying epoch 0 (the crash-replay case) changes nothing
    replay = spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 2)],
        "id bigint, v string, op string, seq long",
    )
    assert apply_pg_cdc(
        replay, seeded, "cdcs_t", ["id"], seq_col="seq", epoch_id=0
    ) == (0, 0, 0)
    with PGConn(seeded) as c:
        _, rows = c.query("SELECT id, v FROM cdcs_t ORDER BY id")
        assert rows == [("1", "a2"), ("3", "c")]
