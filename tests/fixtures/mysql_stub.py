"""Protocol-faithful in-process MySQL server — TEST FIXTURE.

This container ships no ``mysqld`` binary and no Connector/J jar, so
the live ``LOAD DATABASE FROM mysql://`` path (client:
``sources/mywire.py``, reader: ``sources/mysql_live.py``) is verified
against this stand-in.  It speaks the real wire format — handshake
v10, genuine ``mysql_native_password`` scramble verification,
``COM_QUERY`` text-protocol resultsets with ColumnDefinition41 / EOF
packets — so the client code exercised here would run unchanged
against an actual MySQL server; only the SQL executor behind the
socket differs (an embedded SQLite with a populated
``information_schema`` attachment instead of InnoDB).

Fixture model: tables are declared with their MYSQL column types
(``int(11) unsigned``, ``varchar(45)``, ``tinyint(1)``,
``enum('a','b')``, zero dates as literal ``'0000-00-00'`` strings...)
and the declared metadata is served through ``information_schema``
exactly the way the introspection SQL in ``sources/jdbc.py`` expects
to find it on a real server (the reference's
``src/sources/mysql/sql/*.sql`` catalog queries).

Not a general SQL engine: it executes whatever SQL arrives against
SQLite (which accepts the backtick quoting our readers emit) and
special-cases only session statements (SET/USE -> OK).  Good enough
for the catalog + range-scan query shapes a migration issues; loudly
NOT for production use.
"""

from __future__ import annotations

import hashlib
import re
import socket
import socketserver
import sqlite3
import struct
import threading
from dataclasses import dataclass, field


def encode_lenenc_int(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + struct.pack("<Q", n)


CAPS = 0x00000001 | 0x00000200 | 0x00000008 | 0x00008000 | 0x00080000
# LONG_PASSWORD | PROTOCOL_41 | CONNECT_WITH_DB | SECURE_CONN | PLUGIN_AUTH
CLIENT_SSL = 0x00000800  # advertised only when the stub holds a cert


@dataclass
class StubColumn:
    name: str
    column_type: str  # full MySQL type: "int(11) unsigned", "enum('a','b')"
    nullable: bool = True
    default: str | None = None
    extra: str = ""  # "auto_increment", "on update CURRENT_TIMESTAMP"
    comment: str = ""

    @property
    def data_type(self) -> str:
        return re.match(r"(\w+)", self.column_type).group(1).lower()


@dataclass
class StubTable:
    name: str
    columns: list[StubColumn]
    rows: list[tuple] = field(default_factory=list)
    comment: str = ""
    pkey: list[str] = field(default_factory=list)
    # (index_name, non_unique, [columns])
    indexes: list[tuple[str, int, list[str]]] = field(default_factory=list)
    # (constraint_name, [columns], referenced_table, [referenced_columns])
    fkeys: list[tuple[str, list[str], str, list[str]]] = field(default_factory=list)
    # (constraint_name, check_clause)  — clause in MySQL backtick form
    checks: list[tuple[str, str]] = field(default_factory=list)


def _affinity(data_type: str) -> str:
    t = data_type.lower()
    if t in ("tinyint", "smallint", "mediumint", "int", "integer", "bigint",
             "bit", "year"):
        return "INTEGER"
    if t in ("float", "double", "real"):
        return "REAL"
    return "TEXT"  # decimal/char/text/date/time/enum/set/blob/json/geometry


class MySQLStubServer:
    """TCP server serving one fixture database over the MySQL protocol.

    Usage::

        srv = MySQLStubServer("sakila", tables, user="root", password="pw")
        srv.start()                      # returns the bound port
        ... MyConn(f"mysql://root:pw@127.0.0.1:{srv.port}/sakila") ...
        srv.stop()
    """

    def __init__(
        self,
        database: str,
        tables: list[StubTable],
        user: str = "root",
        password: str = "",
        host: str = "127.0.0.1",
        views: list[tuple[str, str]] | None = None,  # (name, SELECT sql)
        ssl_context=None,  # ssl.SSLContext (server cert) -> advertise CLIENT_SSL
    ):
        self.database = database
        self.tables = tables
        self.views = views or []
        self.user = user
        self.password = password
        self.host = host
        self.ssl_context = ssl_context
        self.port: int | None = None
        self._server: socketserver.ThreadingTCPServer | None = None
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()
        self._con = self._build_sqlite()

    # ----------------------------------------------------- fixture -> SQLite

    def _build_sqlite(self) -> sqlite3.Connection:
        con = sqlite3.connect(":memory:", check_same_thread=False)
        # MySQL scalar functions the fixture store lacks (SQLite grew
        # concat() only in 3.44); view SQL in the reference scenarios
        # uses them (test/mysql/f1db-data.load: concat in a matview)
        con.create_function(
            "concat", -1,
            lambda *a: None if any(x is None for x in a)
            else "".join(str(x) for x in a),
        )
        con.execute("ATTACH ':memory:' AS information_schema")
        cur = con.cursor()
        cur.executescript(
            """
CREATE TABLE information_schema.columns (
  table_schema TEXT, table_name TEXT, column_name TEXT,
  ordinal_position INTEGER, column_default TEXT, is_nullable TEXT,
  data_type TEXT, column_type TEXT, extra TEXT, column_comment TEXT);
CREATE TABLE information_schema.tables (
  table_schema TEXT, table_name TEXT, table_type TEXT,
  table_rows INTEGER, table_comment TEXT);
CREATE TABLE information_schema.statistics (
  table_schema TEXT, table_name TEXT, index_name TEXT,
  non_unique INTEGER, seq_in_index INTEGER, column_name TEXT);
CREATE TABLE information_schema.key_column_usage (
  constraint_schema TEXT, constraint_name TEXT, table_schema TEXT,
  table_name TEXT, column_name TEXT, ordinal_position INTEGER,
  referenced_table_name TEXT, referenced_column_name TEXT);
CREATE TABLE information_schema.table_constraints (
  constraint_schema TEXT, constraint_name TEXT, table_schema TEXT,
  table_name TEXT, constraint_type TEXT);
CREATE TABLE information_schema.check_constraints (
  constraint_schema TEXT, constraint_name TEXT, check_clause TEXT);
CREATE TABLE information_schema.referential_constraints (
  constraint_schema TEXT, constraint_name TEXT,
  unique_constraint_schema TEXT, unique_constraint_name TEXT,
  update_rule TEXT, delete_rule TEXT);
"""
        )
        db = self.database
        for t in self.tables:
            cols = ", ".join(
                f'"{c.name}" {_affinity(c.data_type)}' for c in t.columns
            )
            cur.execute(f'CREATE TABLE "{t.name}" ({cols})')
            if t.rows:
                ph = ", ".join("?" * len(t.columns))
                cur.executemany(
                    f'INSERT INTO "{t.name}" VALUES ({ph})',
                    [
                        tuple(
                            str(v)
                            if not isinstance(
                                v, (int, float, str, bytes, type(None))
                            )
                            else v
                            for v in row
                        )
                        for row in t.rows
                    ],
                )
            cur.execute(
                "INSERT INTO information_schema.tables VALUES (?,?,?,?,?)",
                (db, t.name, "BASE TABLE", len(t.rows), t.comment),
            )
            for i, c in enumerate(t.columns, start=1):
                cur.execute(
                    "INSERT INTO information_schema.columns VALUES "
                    "(?,?,?,?,?,?,?,?,?,?)",
                    (db, t.name, c.name, i, c.default,
                     "YES" if c.nullable else "NO", c.data_type,
                     c.column_type, c.extra, c.comment),
                )
            if t.pkey:
                for i, cname in enumerate(t.pkey, start=1):
                    cur.execute(
                        "INSERT INTO information_schema.statistics VALUES "
                        "(?,?,?,?,?,?)",
                        (db, t.name, "PRIMARY", 0, i, cname),
                    )
                cur.execute(
                    "INSERT INTO information_schema.table_constraints VALUES "
                    "(?,?,?,?,?)",
                    (db, "PRIMARY", db, t.name, "PRIMARY KEY"),
                )
            for iname, non_unique, icols in t.indexes:
                for i, cname in enumerate(icols, start=1):
                    cur.execute(
                        "INSERT INTO information_schema.statistics VALUES "
                        "(?,?,?,?,?,?)",
                        (db, t.name, iname, non_unique, i, cname),
                    )
            for fname, fcols, rtable, rcols in t.fkeys:
                for i, (c1, c2) in enumerate(zip(fcols, rcols), start=1):
                    cur.execute(
                        "INSERT INTO information_schema.key_column_usage "
                        "VALUES (?,?,?,?,?,?,?,?)",
                        (db, fname, db, t.name, c1, i, rtable, c2),
                    )
                cur.execute(
                    "INSERT INTO information_schema.table_constraints VALUES "
                    "(?,?,?,?,?)",
                    (db, fname, db, t.name, "FOREIGN KEY"),
                )
                cur.execute(
                    "INSERT INTO information_schema.referential_constraints "
                    "VALUES (?,?,?,?,?,?)",
                    (db, fname, db, "PRIMARY", "NO ACTION", "NO ACTION"),
                )
            for cname, clause in t.checks:
                cur.execute(
                    "INSERT INTO information_schema.table_constraints VALUES "
                    "(?,?,?,?,?)",
                    (db, cname, db, t.name, "CHECK"),
                )
                cur.execute(
                    "INSERT INTO information_schema.check_constraints "
                    "VALUES (?,?,?)",
                    (db, cname, clause),
                )
        for vname, vsql in self.views:
            cur.execute(f'CREATE VIEW "{vname}" AS {vsql}')
            cur.execute(
                "INSERT INTO information_schema.tables VALUES (?,?,?,?,?)",
                (db, vname, "VIEW", 0, ""),
            )
            # information_schema.columns carries view columns on a real
            # server too; list-all-columns filters them by table_type
            for cid, name, decl, _nn, _df, _pk in cur.execute(
                f'PRAGMA table_info("{vname}")'
            ).fetchall():
                cur.execute(
                    "INSERT INTO information_schema.columns VALUES "
                    "(?,?,?,?,?,?,?,?,?,?)",
                    (db, vname, name, cid + 1, None, "YES",
                     (decl or "text").lower(), (decl or "text").lower(),
                     "", ""),
                )
        # geometry pushdown: the reader asks the server to render WKT
        # (mysql_select_expr); mirror a passthrough ST_AsText
        con.create_function(
            "ST_AsText", 1, lambda v: v if v is None else str(v)
        )
        con.commit()
        return con

    # --------------------------------------------------------------- server

    def start(self) -> int:
        stub = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # one client connection
                try:
                    _Session(stub, self.request).run()
                except (ConnectionError, OSError):
                    pass

        self._server = socketserver.ThreadingTCPServer(
            (self.host, 0), Handler, bind_and_activate=True
        )
        self._server.daemon_threads = True
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
        self._con.close()

    def __enter__(self) -> "MySQLStubServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def execute(self, sql: str) -> tuple[list[str], list[tuple]] | None:
        """Run one statement against the fixture store (serialized —
        SQLite connection is shared across client threads)."""
        if re.match(r"\s*(SET|USE)\b", sql, re.IGNORECASE):
            return None
        with self._lock:
            cur = self._con.execute(sql)
            if cur.description is None:
                self._con.commit()
                # DDL keeps the catalog current, like a real server
                # (MATERIALIZE VIEWS stages a table then introspects it)
                if re.match(r"\s*(CREATE|DROP|ALTER)\b", sql, re.IGNORECASE):
                    self._sync_information_schema()
                return None
            cols = [d[0] for d in cur.description]
            return cols, cur.fetchall()

    def _sync_information_schema(self) -> None:
        """Reflect DDL into information_schema: tables created at
        runtime (CREATE TABLE ... AS) get metadata derived from their
        SQLite decl types; dropped tables lose their rows.  Fixture
        tables keep their declared MySQL metadata untouched."""
        decl_to_mysql = {
            "INTEGER": "bigint", "INT": "bigint",
            "REAL": "double", "TEXT": "text",
        }
        cur = self._con.cursor()
        live = {
            r[0]
            for r in cur.execute(
                "SELECT name FROM main.sqlite_master "
                "WHERE type IN ('table', 'view')"
            )
        }
        known = {
            r[0]
            for r in cur.execute(
                "SELECT DISTINCT table_name FROM information_schema.tables"
            )
        }
        for gone in known - live:
            for t in ("columns", "tables", "statistics"):
                cur.execute(
                    f"DELETE FROM information_schema.{t} WHERE table_name = ?",
                    (gone,),
                )
        for new in live - known:
            nrows = cur.execute(f'SELECT COUNT(*) FROM "{new}"').fetchone()[0]
            cur.execute(
                "INSERT INTO information_schema.tables VALUES (?,?,?,?,?)",
                (self.database, new, "BASE TABLE", nrows, ""),
            )
            for cid, name, decl, notnull, dflt, _pk in cur.execute(
                f'PRAGMA table_info("{new}")'
            ).fetchall():
                mtype = decl_to_mysql.get((decl or "").upper(), "text")
                cur.execute(
                    "INSERT INTO information_schema.columns VALUES "
                    "(?,?,?,?,?,?,?,?,?,?)",
                    (self.database, new, name, cid + 1, dflt,
                     "NO" if notnull else "YES", mtype, mtype, "", ""),
                )
        self._con.commit()


class _Session:
    """One client connection: handshake, auth, command loop."""

    def __init__(self, stub: MySQLStubServer, sock: socket.socket):
        self.stub = stub
        self.sock = sock
        self._buf = b""
        self._seq = 0

    # ------------------------------------------------------------- framing

    def _recv_exact(self, n: int) -> bytes:
        # NEVER read past the requested bytes: with a big recv, the
        # client's SSLRequest and its TLS ClientHello can coalesce into
        # one chunk, the ClientHello lands in _buf, and the TLS upgrade
        # (which must hand the RAW socket to wrap_socket) discards it —
        # both sides then block until the client times out (the
        # load-dependent handshake flake this bounded recv removes)
        while len(self._buf) < n:
            chunk = self.sock.recv(n - len(self._buf))
            if not chunk:
                raise ConnectionError("client gone")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_packet(self) -> bytes:
        head = self._recv_exact(4)
        n = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        return self._recv_exact(n)

    def _send_packet(self, payload: bytes) -> None:
        self.sock.sendall(
            len(payload).to_bytes(3, "little") + bytes([self._seq]) + payload
        )
        self._seq = (self._seq + 1) & 0xFF

    def _send_ok(self, affected: int = 0) -> None:
        self._send_packet(
            b"\x00" + encode_lenenc_int(affected) + encode_lenenc_int(0)
            + struct.pack("<HH", 0x0002, 0)
        )

    def _send_err(self, errno: int, sqlstate: str, msg: str) -> None:
        self._send_packet(
            b"\xff" + struct.pack("<H", errno) + b"#"
            + sqlstate.encode()[:5].ljust(5, b"0") + msg.encode()[:400]
        )

    def _send_eof(self) -> None:
        self._send_packet(b"\xfe" + struct.pack("<HH", 0, 0x0002))

    # ----------------------------------------------------------- handshake

    def run(self) -> None:
        import os

        nonce = os.urandom(20)
        while 0 in nonce or 0x24 in nonce:  # no NUL / '$' in auth data
            nonce = os.urandom(20)
        srv_caps = CAPS | (CLIENT_SSL if self.stub.ssl_context else 0)
        greeting = (
            b"\x0a" + b"8.0.99-stub\x00" + struct.pack("<I", 1)
            + nonce[:8] + b"\x00" + struct.pack("<H", srv_caps & 0xFFFF)
            + b"\x2d" + struct.pack("<H", 0x0002)
            + struct.pack("<H", srv_caps >> 16) + bytes([21]) + b"\x00" * 10
            + nonce[8:20] + b"\x00" + b"mysql_native_password\x00"
        )
        self._send_packet(greeting)
        resp = self._read_packet()
        caps = struct.unpack_from("<I", resp, 0)[0]
        if caps & CLIENT_SSL and self.stub.ssl_context is not None:
            # SSLRequest (truncated 32-byte response): upgrade to TLS,
            # then the full handshake response arrives encrypted
            self.sock = self.stub.ssl_context.wrap_socket(
                self.sock, server_side=True
            )
            self._buf = b""
            resp = self._read_packet()
            caps = struct.unpack_from("<I", resp, 0)[0]
        off = 4 + 4 + 1 + 23
        end = resp.index(b"\x00", off)
        user = resp[off:end].decode()
        off = end + 1
        alen = resp[off]
        off += 1
        auth = resp[off : off + alen]
        if user != self.stub.user or not self._check_auth(auth, nonce):
            self._send_err(1045, "28000", f"Access denied for user '{user}'")
            return
        self._send_ok()
        del caps

        while True:
            pkt = self._read_packet()
            cmd = pkt[0]
            if cmd == 0x01:  # COM_QUIT
                return
            if cmd == 0x0E:  # COM_PING
                self._send_ok()
            elif cmd == 0x02:  # COM_INIT_DB
                self._send_ok()
            elif cmd == 0x03:  # COM_QUERY
                self._run_query(pkt[1:].decode("utf-8", "surrogateescape"))
            else:
                self._send_err(1047, "08S01", f"unknown command {cmd}")

    def _check_auth(self, auth: bytes, nonce: bytes) -> bool:
        pw = self.stub.password
        if not pw:
            return auth == b""
        # server-side verification of the mysql_native_password proof:
        # auth XOR SHA1(nonce + SHA1(SHA1(pw))) must SHA1 to SHA1(SHA1(pw))
        h2 = hashlib.sha1(hashlib.sha1(pw.encode()).digest()).digest()
        mix = hashlib.sha1(nonce + h2).digest()
        if len(auth) != 20:
            return False
        h1 = bytes(a ^ b for a, b in zip(auth, mix))
        return hashlib.sha1(h1).digest() == h2

    # --------------------------------------------------------------- query

    def _run_query(self, sql: str) -> None:
        try:
            result = self.stub.execute(sql)
        except sqlite3.Error as exc:
            self._send_err(1064, "42000", str(exc))
            return
        if result is None:
            self._send_ok()
            return
        cols, rows = result
        self._send_packet(encode_lenenc_int(len(cols)))
        for name in cols:
            n = name.encode()
            defn = (
                b"\x03def"
                + _ls(self.stub.database) + _ls("t") + _ls("t")
                + bytes([len(n)]) + n + bytes([len(n)]) + n
                + b"\x0c" + struct.pack("<HIBHB", 45, 1024, 0xFD, 0, 0)
                + b"\x00\x00"
            )
            self._send_packet(defn)
        self._send_eof()
        for row in rows:
            out = b""
            for v in row:
                if v is None:
                    out += b"\xfb"
                else:
                    b = (
                        v if isinstance(v, bytes)
                        else str(v).encode("utf-8", "surrogateescape")
                    )
                    out += encode_lenenc_int(len(b)) + b
            self._send_packet(out)
        self._send_eof()


def _ls(s: str) -> bytes:
    b = s.encode()
    return bytes([len(b)]) + b
