"""Live SQLite source: introspection + distributed rowid-range reads.

The execution path for the common deployment — a SQLite FILE on
shared storage — using Python's stdlib ``sqlite3`` inside the shared
range-read kernel (``sources.jdbc.read_ranges``).  ``live_source``
builds the ``LiveSource`` record ``LOAD DATABASE FROM sqlite://``
runs through.

Reference parity (dimitri/pgloader):
- typed per-cell reads with decode-error -> NULL + logged row id,
  ``src/sources/sqlite/sqlite.lisp:30-85``;
- parallel ranges over the integer key like the MySQL
  rows-per-range scan, ``src/sources/mysql/mysql.lisp:10-62``
  (SQLite's implicit ``rowid`` plays the pkey role);
- schema via ``sqlite_master`` + ``PRAGMA table_info``,
  ``src/sources/sqlite/sqlite-schema.lisp:116-300``.

Scale notes: each task opens the file read-only (SQLite supports any
number of concurrent readers), scans ONE rowid range, and yields
Arrow batches — so a big table parallelizes across executors exactly
like the reference's reader pool, and a 1000-executor cluster is just
more ranges. The only driver-side work is the min/max rowid probe
(two indexed lookups).
"""

from __future__ import annotations

import contextlib
import re
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.sources.jdbc import (
    ROWS_PER_RANGE,
    LiveSource,
    key_ranges,
    read_ranges,
    read_schema,
)


def introspect_sqlite(db_path: str) -> dict[str, list[SourceField]]:
    """table -> SourceField list from sqlite_master + PRAGMA table_info."""
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        tables = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master "
                "WHERE type = 'table' AND name NOT LIKE 'sqlite_%'"
            )
        ]
        out: dict[str, list[SourceField]] = {}
        for t in tables:
            fields = []
            # quote: table names can be SQL keywords ("references",
            # "def", "user" — the reference's sqlite.db type zoo)
            for _cid, name, decl, notnull, dflt, _pk in con.execute(
                f'PRAGMA table_info("{t}")'
            ):
                m = re.match(r"\s*(\w+)\s*(\([^)]*\))?", decl or "text")
                base, mod = (m.group(1), m.group(2)) if m else ("text", None)
                fields.append(
                    SourceField(
                        name=name,
                        type_name=base.lower(),
                        type_mod=mod,
                        default=dflt,
                        nullable=not notnull,
                        table_name=t,
                    )
                )
            out[t] = fields
        return out
    finally:
        con.close()


# the predicate of a partial index: the tail of its CREATE INDEX text
# after the WHERE that follows the indexed column list
_WHERE_TAIL = re.compile(r"\bWHERE\b(.*)$", re.IGNORECASE | re.DOTALL)


def introspect_sqlite_keys(db_path: str) -> dict[str, dict]:
    """Per-table PK / secondary indexes / foreign keys, via the same
    pragmas the reference walks (``sqlite-schema.lisp``:
    list-all-indexes over ``PRAGMA index_list`` + ``index_info``,
    list-all-fkeys over ``PRAGMA foreign_key_list``).

    Returns ``{table: {"pk": [cols], "indexes": [(name, [cols],
    unique)], "fkeys": [(cols, ftable, fcols, on_update,
    on_delete)], "filters": {name: where}}}``.  An INTEGER PRIMARY KEY
    (rowid alias) has no index_list entry — the PK comes from
    table_info's pk ordinals, exactly the case the reference
    special-cases.  Auto-generated ``sqlite_autoindex_*`` entries
    backing the PK are folded into the pk, not emitted as separate
    indexes.  A partial index (index_list's ``partial`` flag) carries
    the ``WHERE`` tail of its ``CREATE INDEX`` text in ``filters``, so
    the target index keeps its predicate.
    """
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        tables = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master "
                "WHERE type = 'table' AND name NOT LIKE 'sqlite_%'"
            )
        ]
        out: dict[str, dict] = {}
        for t in tables:
            pk_cols = [
                (pk, name)
                for _cid, name, _d, _nn, _df, pk in con.execute(
                    f'PRAGMA table_info("{t}")'
                )
                if pk > 0
            ]
            pk = [name for _, name in sorted(pk_cols)]
            indexes = []
            filters = {}
            for _seq, iname, unique, origin, partial in con.execute(
                f'PRAGMA index_list("{t}")'
            ):
                if origin == "pk" or iname.startswith("sqlite_autoindex_"):
                    continue  # PK-backing/auto entries ride the pk
                cols = [
                    r[2]
                    for r in con.execute(f'PRAGMA index_info("{iname}")')
                ]
                indexes.append((iname, cols, bool(unique)))
                if partial:
                    (sql,) = con.execute(
                        "SELECT sql FROM sqlite_master "
                        "WHERE type = 'index' AND name = ?", (iname,)
                    ).fetchone()
                    filters[iname] = _WHERE_TAIL.search(sql).group(1).strip()
            fk_groups: dict[int, dict] = {}
            for (fid, _seq, ftable, col, fcol, on_update, on_delete,
                 _match) in con.execute(f'PRAGMA foreign_key_list("{t}")'):
                g = fk_groups.setdefault(
                    fid,
                    {"cols": [], "ftable": ftable, "fcols": [],
                     "on_update": on_update, "on_delete": on_delete},
                )
                g["cols"].append(col)
                g["fcols"].append(fcol)
            fkeys = [
                (g["cols"], g["ftable"], g["fcols"],
                 g["on_update"], g["on_delete"])
                for g in fk_groups.values()
            ]
            out[t] = {
                "pk": pk, "indexes": indexes, "fkeys": fkeys,
                "filters": filters,
            }
        return out
    finally:
        con.close()


def read_sqlite_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    engine: CastEngine | None = None,
    rows_per_range: int = ROWS_PER_RANGE,
    fields: list[SourceField] | None = None,
) -> DataFrame:
    """Distributed typed read of one SQLite table.

    Returns a DataFrame with the cast-rule-derived schema; text cells
    that are not valid UTF-8 (SQLite happily stores such bytes in TEXT
    columns) become NULL, with the offending rowid logged — the
    reference's recovery semantics, per cell not per batch.
    """
    import datetime as _dt
    import logging

    eng = engine or CastEngine(source_kind="sqlite")
    if fields is None:
        fields = introspect_sqlite(db_path)[table]
    schema = read_schema(fields, eng)
    spark_types = [sf.dataType for sf in schema.fields]
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(
            f'SELECT MIN(rowid), MAX(rowid) FROM "{table}"'
        ).fetchone()
    finally:
        con.close()
    ranges = [] if lo is None else key_ranges(lo, hi + 1, rows_per_range)
    col_list = ", ".join(f'"{f.name}"' for f in fields)

    def _cell(v, typ, rowid):
        if v is None:
            return None
        # text_factory=bytes defers decoding to here: every non-binary
        # cell that arrives as bytes is decoded with per-cell recovery
        # (reference: sqlite.lisp:60-75 — NULL + pkey-cited log line)
        if isinstance(v, bytes) and not isinstance(typ, T.BinaryType):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                logging.getLogger("pgloader_spark.sqlite").warning(
                    "invalid UTF-8 in %s rowid=%s -> NULL", table, rowid
                )
                return None
        if isinstance(typ, T.BooleanType):
            if isinstance(v, str):
                return v.lower() in ("1", "t", "true", "y", "yes")
            return bool(v)
        if isinstance(typ, T.TimestampType) and isinstance(v, str):
            try:
                return _dt.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(typ, T.DateType) and isinstance(v, str):
            try:
                return _dt.date.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(typ, T.DecimalType):
            from decimal import Decimal

            return Decimal(str(v))
        # SQLite's dynamic typing: a declared-INTEGER column can hold
        # text — coerce, NULL on failure (per-cell, like the reference)
        if isinstance(typ, (T.LongType, T.IntegerType)) and isinstance(v, str):
            try:
                return int(v)
            except ValueError:
                return None
        if isinstance(typ, T.DoubleType) and isinstance(v, str):
            try:
                return float(v)
            except ValueError:
                return None
        # ...and the mirror image: a declared-TEXT column can hold an
        # int/float (same dynamic typing) — stringify for Arrow
        if isinstance(typ, T.StringType) and not isinstance(v, str):
            return str(v)
        return v

    def connect():
        con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
        con.text_factory = bytes  # defer decoding to per-cell recovery
        return contextlib.closing(con)

    def fetch(con, lo: int, hi: int) -> list[list]:
        rows = con.execute(
            f'SELECT rowid, {col_list} FROM "{table}" '
            "WHERE rowid >= ? AND rowid < ?",
            (lo, hi),
        ).fetchall()
        return [
            [_cell(r[i + 1], typ, r[0]) for r in rows]
            for i, typ in enumerate(spark_types)
        ]

    return read_ranges(spark, ranges, schema, connect, fetch)


def live_source(src: str, options: dict) -> LiveSource:
    """``sqlite://PATH``, ``db3://PATH`` or a bare ``PATH.db``.  The
    record's calls name this module's functions at call time, so a
    wrapper set on the module attribute sees every call."""
    path = src.split("://", 1)[1] if "://" in src else src

    def run(statements: list[str]) -> list:
        # mode=rw: a missing file is an error, never a new empty database
        con = sqlite3.connect(f"file:{path}?mode=rw", uri=True)
        try:
            rows: list = []
            with con:
                for s in statements:
                    rows = con.execute(s).fetchall()
            return rows
        finally:
            con.close()

    return LiveSource(
        kind="sqlite",
        introspect=lambda: introspect_sqlite(path),
        keys=lambda: introspect_sqlite_keys(path),
        read=lambda spark, table, engine, fields: read_sqlite_table(
            spark, path, table, engine=engine, fields=fields
        ),
        run=run,
        views_sql="SELECT name FROM sqlite_master WHERE type = 'view'",
        quote=lambda name: f'"{name}"',
    )
