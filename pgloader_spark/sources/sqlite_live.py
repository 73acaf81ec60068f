"""Live SQLite source: introspection + distributed rowid-range reads.

The JDBC planner (``sources/jdbc.py``) emits the URLs/SQL a cluster
with a sqlite-jdbc jar would use; this module is the self-contained
execution path for the common deployment — a SQLite FILE on shared
storage — using Python's stdlib ``sqlite3`` inside Arrow-batched
``mapInPandas`` tasks.

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

import re
import sqlite3
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.sources.jdbc import range_frame

ROWS_PER_RANGE = 10_000  # reference *rows-per-range*, src/params.lisp:142


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


def introspect_sqlite_keys(db_path: str) -> dict[str, dict]:
    """Per-table PK / secondary indexes / foreign keys, via the same
    pragmas the reference walks (``sqlite-schema.lisp``:
    list-all-indexes over ``PRAGMA index_list`` + ``index_info``,
    list-all-fkeys over ``PRAGMA foreign_key_list``).

    Returns ``{table: {"pk": [cols], "indexes": [(name, [cols],
    unique)], "fkeys": [(cols, ftable, fcols, on_update,
    on_delete)]}}``.  An INTEGER PRIMARY KEY (rowid alias) has no
    index_list entry — the PK comes from table_info's pk ordinals,
    exactly the case the reference special-cases.  Auto-generated
    ``sqlite_autoindex_*`` entries backing the PK are folded into the
    pk, not emitted as separate indexes.
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
            for _seq, iname, unique, origin, _partial in con.execute(
                f'PRAGMA index_list("{t}")'
            ):
                if origin == "pk" or iname.startswith("sqlite_autoindex_"):
                    continue  # PK-backing/auto entries ride the pk
                cols = [
                    r[2]
                    for r in con.execute(f'PRAGMA index_info("{iname}")')
                ]
                indexes.append((iname, cols, bool(unique)))
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
            out[t] = {"pk": pk, "indexes": indexes, "fkeys": fkeys}
        return out
    finally:
        con.close()


def _schema_for(fields: list[SourceField], engine: CastEngine) -> T.StructType:
    # Every read-side field is nullable regardless of the source's NOT
    # NULL: per-cell error recovery may null any cell (a non-nullable
    # Spark field would NPE in the unsafe-row writer). The constraint
    # is enforced on the TARGET (catalog DDL / sink validation), where
    # a violated row lands in the reject file instead of crashing the
    # scan — the reference's semantics.
    return T.StructType(
        [
            T.StructField(f.name, engine.read_spark_type(f, res), True)
            for f, res in engine.cast_fields(fields)
        ]
    )


def _rowid_ranges(db_path: str, table: str, rows_per_range: int) -> list[tuple[int, int]]:
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        row = con.execute(
            f'SELECT MIN(rowid), MAX(rowid) FROM "{table}"'
        ).fetchone()
    finally:
        con.close()
    lo, hi = row
    if lo is None:
        return []
    ranges = []
    start = lo
    while start <= hi:
        ranges.append((start, start + rows_per_range))
        start += rows_per_range
    return ranges


def read_sqlite_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    engine: CastEngine | None = None,
    rows_per_range: int = ROWS_PER_RANGE,
) -> DataFrame:
    """Distributed typed read of one SQLite table.

    Returns a DataFrame with the cast-rule-derived schema; text cells
    that are not valid UTF-8 (SQLite happily stores such bytes in TEXT
    columns) become NULL, with the offending rowid logged — the
    reference's recovery semantics, per cell not per batch.
    """
    import datetime as _dt
    import logging

    import pandas as pd

    eng = engine or CastEngine(source_kind="sqlite")
    fields = introspect_sqlite(db_path)[table]
    schema = _schema_for(fields, eng)
    names = [f.name for f in fields]
    spark_types = [sf.dataType for sf in schema.fields]
    ranges = _rowid_ranges(db_path, table, rows_per_range)
    if not ranges:
        return spark.createDataFrame([], schema)
    ranges_df = range_frame(spark, ranges)

    col_list = ", ".join(f'"{n}"' for n in names)

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

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
        con.text_factory = bytes  # defer decoding to per-cell recovery
        try:
            for b in batches:
                for lo, hi in zip(b["lo"], b["hi"]):
                    rows = con.execute(
                        f'SELECT rowid, {col_list} FROM "{table}" '
                        "WHERE rowid >= ? AND rowid < ?",
                        (int(lo), int(hi)),
                    ).fetchall()
                    data = {
                        name: [
                            _cell(r[i + 1], spark_types[i], r[0]) for r in rows
                        ]
                        for i, name in enumerate(names)
                    }
                    yield pd.DataFrame(data, columns=names, dtype=object)
        finally:
            con.close()

    return ranges_df.mapInPandas(fetch, schema)


def migrate_sqlite_to_parquet(
    spark: SparkSession,
    db_path: str,
    out_dir: str,
    engine: CastEngine | None = None,
) -> dict[str, int]:
    """Whole-database migration: introspect, cast, read, write parquet.

    The parquet lake stands in for the PG COPY target (same plan
    shape; ``LOAD DATABASE`` into a live server swaps the sink for
    ``sources.pg_live.write_pg_copy``). Returns per-table row counts —
    the reference's summary-table numbers.
    """
    import os

    counts: dict[str, int] = {}
    eng = engine or CastEngine(source_kind="sqlite")
    for table in introspect_sqlite(db_path):
        df = read_sqlite_table(spark, db_path, table, engine=eng)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
        counts[table] = spark.read.parquet(
            os.path.join(out_dir, f"{table}.parquet")
        ).count()
    return counts
