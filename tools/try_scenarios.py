"""Triage: run uncovered reference test/*.load scenarios through the
live-PG executor path and report pass/fail per scenario.

Usage: python tools/try_scenarios.py name1 name2 ...
Spins its own postgres instance (same recipe as tests/test_pg_live.py).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgloader_spark.sources.pgwire import PGConn

PORT = 54377


def su_pg(cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["su", "postgres", "-s", "/bin/bash", "-c", cmd],
        capture_output=True,
        text=True,
    )


def start_pg():
    base = f"/tmp/pgspark_try_{uuid.uuid4().hex[:8]}"
    data = f"{base}/data"
    os.makedirs(base, exist_ok=True)
    shutil.chown(base, "postgres", "postgres")
    assert su_pg(f"initdb -A trust -D {data} -U postgres").returncode == 0
    r = su_pg(
        f"pg_ctl -D {data} -l {base}/log -o '-p {PORT} "
        f"-c listen_addresses=127.0.0.1 "
        f"-c unix_socket_directories={base}' start"
    )
    assert r.returncode == 0, r.stderr
    dsn = f"postgresql://postgres@127.0.0.1:{PORT}/postgres"
    for _ in range(50):
        try:
            PGConn(dsn).close()
            break
        except OSError:
            time.sleep(0.2)
    return base, data, dsn


def run_scenario(name, dsn, spark, tmp_path):
    from pgloader_spark.parsers.loadcmd import parse_load
    from pgloader_spark.plans.executor import ExecutionContext, execute
    from tests.pg_server import scenario_sink

    ref = f"/root/reference/test/{name}.load"
    text = open(ref, encoding="utf-8", errors="replace").read()
    for pat in (
        "postgresql:///pgloader",
        "postgres:///pgloader",
        "postgresql://dim@localhost/pgloader",
    ):
        text = text.replace(pat, dsn)
    text = text.replace("data/", "/root/reference/test/data/")
    text = text.replace("in directory 'data'", "in directory '/root/reference/test/data'")
    # relative paths resolve against the .load file's directory, like
    # the reference's Makefile-driven runs
    import re as _re

    text = _re.sub(
        r"(FROM\s+)((?!/|inline|INLINE|http|stdin)\S+\.(?:dat|csv|dbf|ixf|fixed))",
        r"\1/root/reference/test/\2",
        text,
    )
    cmd = parse_load(text)

    loaded_tables = []
    copy_sink = scenario_sink(dsn, str(tmp_path), clear=True)

    def sink(df, table, cmd):
        n = copy_sink(df, table, cmd)
        loaded_tables.append(table)
        return n

    runner = PGConn(dsn)
    try:
        ctx = ExecutionContext(
            spark=spark,
            root_dir=str(tmp_path),
            sql_runner=lambda sql: runner.query(sql),
            sink=sink,
        )
        report = execute(ctx, cmd)
    finally:
        runner.close()
    assert report.loaded > 0 or report.errors > 0, f"{name}: nothing loaded"
    with PGConn(dsn) as c:
        q = ".".join('"' + p + '"' for p in loaded_tables[0].split("."))
        _, rows = c.query(f"SELECT COUNT(*) FROM {q}")
    assert int(rows[0][0]) == report.loaded, (
        f"{name}: PG count {rows[0][0]} != report {report.loaded}"
    )
    _dump_regress_diff(dsn, loaded_tables[0], name)
    return f"{report.loaded} (rejected {report.errors})"


def _dump_regress_diff(dsn, table, name):
    out = f"/root/reference/test/regress/expected/{name}.out"
    if not os.path.exists(out):
        return
    data = open(out, "rb").read()
    sch, _, bare = table.rpartition(".")
    sch = sch or "public"
    q = ".".join('"' + p + '"' for p in table.split("."))
    with PGConn(dsn) as c:
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
        _, miss = c.query(
            f"SELECT {exprs} FROM expected.\"{bare}\" EXCEPT SELECT {exprs} FROM {q} LIMIT 5"
        )
        _, extra = c.query(
            f"SELECT {exprs} FROM {q} EXCEPT SELECT {exprs} FROM expected.\"{bare}\" LIMIT 5"
        )
    if miss or extra:
        print(f"--- {name}: expected-but-missing:")
        for r in miss:
            print("   ", r)
        print(f"--- {name}: loaded-but-unexpected:")
        for r in extra:
            print("   ", r)


def main():
    names = sys.argv[1:]
    from pgloader_spark.session import get_spark

    spark = get_spark("try-scenarios", master="local[4]")
    base, data, dsn = start_pg()
    results = {}
    try:
        for name in names:
            tmp = tempfile.mkdtemp()
            try:
                n = run_scenario(name, dsn, spark, tmp)
                results[name] = f"PASS loaded={n}"
            except Exception as e:
                tb = traceback.format_exc().strip().splitlines()
                results[name] = f"FAIL {type(e).__name__}: {str(e)[:300]} | last: {tb[-1][:200]}"
    finally:
        su_pg(f"pg_ctl -D {data} -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)
    for k, v in results.items():
        print(f"{k:28s} {v}")


if __name__ == "__main__":
    main()
