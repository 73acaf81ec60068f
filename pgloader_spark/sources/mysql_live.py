"""Live MySQL source: introspection + distributed pkey-range reads.

The execution path using the stdlib wire client
(``sources/mywire.py``) inside the shared range-read kernel
(``sources.jdbc.read_ranges``) — the reference's flagship
``LOAD DATABASE FROM mysql://`` lifecycle
(``src/sources/mysql/mysql.lisp:100-131``).  ``live_source`` builds
the ``LiveSource`` record the executor runs.

Reference parity (dimitri/pgloader):
- catalog via information_schema (``src/sources/mysql/sql/*.sql``;
  the SQL lives in ``sources/jdbc.py``);
- integer-pkey parallel ranges, ``rows per range`` = 10k
  (``mysql.lisp:10-62``) — probe ``MIN(pk), MAX(pk)+1``, one reader
  per range; tables without a single-column integer pkey fall back to
  one full scan, like the reference;
- per-type SELECT pushdown: geometry reads as WKT via ``ST_AsText``
  (``mysql-schema.lisp:268-286``);
- MySQL-isms handled the way the reference's cast functions do: zero
  dates ``0000-00-00 [00:00:00]`` -> NULL
  (``mysql-cast-rules.lisp:107-140``), ``tinyint(1)`` -> boolean,
  text protocol values funneled through typed conversion per cell;
- row-count estimates order the COPYs largest first
  (``migrate-database.lisp:304-320``).

Scale notes: each task opens its own connection and scans ONE pkey
range, so a big table parallelizes across executors exactly like the
reference's reader pool — a 1000-executor cluster is just more
ranges.  Driver-side work is one MIN/MAX probe per table (indexed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.sources.jdbc import (
    ROWS_PER_RANGE,
    LiveSource,
    attach_mysql_checks,
    attach_mysql_comments,
    fields_from_mysql_columns,
    key_ranges,
    mysql_checks_sql,
    mysql_column_comments_sql,
    mysql_columns_sql,
    mysql_fkeys_sql,
    mysql_indexes_sql,
    mysql_row_counts_sql,
    mysql_select_expr,
    mysql_table_comments_sql,
    read_ranges,
    read_schema,
    wire_runner,
)
from pgloader_spark.sources.mywire import MyConn, parse_my_dsn

_INT_TYPES = {"tinyint", "smallint", "mediumint", "int", "integer", "bigint"}


def _dict_rows(cols: list[str], rows: list[tuple]) -> list[dict]:
    return [dict(zip(cols, r)) for r in rows]


def introspect_mysql(dsn: str) -> dict[str, list[SourceField]]:
    """table -> SourceField list from information_schema.columns."""
    db = parse_my_dsn(dsn)["database"]
    with MyConn(dsn) as conn:
        cols, rows = conn.query(mysql_columns_sql(db))
    out: dict[str, list[SourceField]] = {}
    for f in fields_from_mysql_columns(_dict_rows(cols, rows)):
        out.setdefault(f.table_name, []).append(f)
    return out


def introspect_mysql_keys(dsn: str) -> dict[str, dict]:
    """Per-table PK / secondary indexes / foreign keys from
    information_schema (reference list-all-indexes / list-all-fkeys,
    ``src/sources/mysql/sql/list-all-indexes.sql`` /
    ``list-all-fkeys.sql`` — same catalog views, rewritten).

    Same shape as ``introspect_sqlite_keys``: ``{table: {"pk": [...],
    "indexes": [(name, [cols], unique)], "fkeys": [(cols, ftable,
    fcols, on_update, on_delete)]}}``.
    """
    db = parse_my_dsn(dsn)["database"]
    with MyConn(dsn) as conn:
        idx_rows = _dict_rows(*conn.query(mysql_indexes_sql(db)))
        fk_rows = _dict_rows(*conn.query(mysql_fkeys_sql(db)))
    out: dict[str, dict] = {}

    def entry(t: str) -> dict:
        return out.setdefault(t, {"pk": [], "indexes": [], "fkeys": []})

    grouped: dict[tuple[str, str], dict] = {}
    for r in idx_rows:  # ordered by table, index, seq_in_index
        g = grouped.setdefault(
            (r["table_name"], r["index_name"]),
            {"cols": [], "unique": not int(r["non_unique"])},
        )
        g["cols"].append(r["column_name"])
    for (t, iname), g in grouped.items():
        if iname == "PRIMARY":
            entry(t)["pk"] = g["cols"]
        else:
            entry(t)["indexes"].append((iname, g["cols"], g["unique"]))
    fk_grouped: dict[tuple[str, str], dict] = {}
    for r in fk_rows:  # ordered by constraint, ordinal_position
        g = fk_grouped.setdefault(
            (r["table_name"], r["constraint_name"]),
            {"cols": [], "ftable": r["referenced_table_name"], "fcols": []},
        )
        g["cols"].append(r["column_name"])
        g["fcols"].append(r["referenced_column_name"])
    for (t, _name), g in fk_grouped.items():
        entry(t)["fkeys"].append((g["cols"], g["ftable"], g["fcols"], None, None))
    return out


def introspect_mysql_extras(dsn: str) -> dict:
    """The rest of the catalog scans the reference performs before
    data movement: row-count estimates (largest-first scheduling),
    fkeys, CHECKs, table/column comments."""
    db = parse_my_dsn(dsn)["database"]
    with MyConn(dsn) as conn:
        return {
            "row_counts": _dict_rows(*conn.query(mysql_row_counts_sql(db))),
            "fkeys": _dict_rows(*conn.query(mysql_fkeys_sql(db))),
            "checks": _dict_rows(*conn.query(mysql_checks_sql(db))),
            "table_comments": _dict_rows(
                *conn.query(mysql_table_comments_sql(db))
            ),
            "column_comments": _dict_rows(
                *conn.query(mysql_column_comments_sql(db))
            ),
        }


def _int_pkey(dsn: str, table: str, fields: list[SourceField]) -> str | None:
    """The range-read partition column: a single-column PRIMARY KEY of
    integer type (mysql.lisp:35-44's precondition), else None."""
    db = parse_my_dsn(dsn)["database"]
    with MyConn(dsn) as conn:
        _, rows = conn.query(
            "SELECT column_name FROM information_schema.statistics "
            f"WHERE table_schema = '{db}' AND table_name = '{table}' "
            "AND index_name = 'PRIMARY' ORDER BY seq_in_index"
        )
    if len(rows) != 1:
        return None
    pk = rows[0][0]
    for f in fields:
        if f.name == pk and f.type_name.lower() in _INT_TYPES:
            return pk
    return None


def _convert_cell(v: str | None, typ: T.DataType):
    """MySQL text-protocol value -> Python value for the Arrow batch.

    Zero dates become NULL (the reference's zero-dates-to-null cast
    transform); tinyint(1)-as-boolean reads '0'/'1'; BIT arrives as
    raw bytes (surrogateescape-decoded) and converts via its int
    value.  Unparseable cells -> NULL per cell, never a crashed scan.
    """
    import datetime as _dt
    from decimal import Decimal, InvalidOperation

    if v is None:
        return None
    try:
        if isinstance(typ, T.BooleanType):
            if v in ("0", "1"):
                return v == "1"
            # BIT(1) raw byte
            b = v.encode("utf-8", "surrogateescape")
            return any(b)
        if isinstance(typ, (T.LongType, T.IntegerType, T.ShortType)):
            return int(v)
        if isinstance(typ, (T.DoubleType, T.FloatType)):
            return float(v)
        if isinstance(typ, T.DecimalType):
            return Decimal(v)
        if isinstance(typ, T.TimestampType):
            if v.startswith("0000-00-00"):
                return None
            return _dt.datetime.fromisoformat(v)
        if isinstance(typ, T.DateType):
            if v == "0000-00-00":
                return None
            return _dt.date.fromisoformat(v)
        if isinstance(typ, T.BinaryType):
            return v.encode("utf-8", "surrogateescape")
        return v
    except (ValueError, InvalidOperation):
        return None


def read_mysql_table(
    spark: SparkSession,
    dsn: str,
    table: str,
    engine: CastEngine | None = None,
    rows_per_range: int = ROWS_PER_RANGE,
    fields: list[SourceField] | None = None,
) -> DataFrame:
    """Distributed typed read of one MySQL table via pkey ranges."""
    eng = engine or CastEngine(source_kind="mysql")
    flds = fields if fields is not None else introspect_mysql(dsn)[table]
    schema = read_schema(flds, eng)
    spark_types = [sf.dataType for sf in schema.fields]
    col_list = ", ".join(mysql_select_expr(f.name, f.type_name) for f in flds)

    pk = _int_pkey(dsn, table, flds)
    if pk is None:
        # no integer pkey: one full scan, the reference's fallback
        ranges = [(0, -1)]
        where = ""
    else:
        with MyConn(dsn) as conn:
            _, rows = conn.query(
                f"SELECT MIN(`{pk}`), MAX(`{pk}`) + 1 FROM `{table}`"
            )
        lo, hi = rows[0]
        ranges = [] if lo is None else key_ranges(
            int(lo), int(float(hi)), rows_per_range
        )
        where = f" WHERE `{pk}` >= {{lo}} AND `{pk}` < {{hi}}"

    def fetch(conn, lo: int, hi: int) -> list[list]:
        _, rows = conn.query(
            f"SELECT {col_list} FROM `{table}`" + where.format(lo=lo, hi=hi)
        )
        return [
            [_convert_cell(r[i], typ) for r in rows]
            for i, typ in enumerate(spark_types)
        ]

    return read_ranges(spark, ranges, schema, lambda: MyConn(dsn), fetch)


def live_source(dsn: str, options: dict) -> LiveSource:
    """``mysql://``: the source database maps to a target schema of
    the same name (mysql.lisp:149 add-schema with the catalog name)."""
    db = parse_my_dsn(dsn)["database"]

    def extras(catalog) -> None:
        """CHECKs and comments ride the complete phase; row-count
        estimates order the COPYs largest first."""
        ex = introspect_mysql_extras(dsn)
        attach_mysql_checks(catalog, ex["checks"])
        attach_mysql_comments(
            catalog, ex["table_comments"], ex["column_comments"]
        )
        est = {
            r["table_name"]: int(r["table_rows"] or 0)
            for r in ex["row_counts"]
            if r.get("table_name") and r.get("table_rows") is not None
        }
        for tbl in catalog.all_tables():
            tbl.row_count_estimate = est.get(tbl.source_name)

    return LiveSource(
        kind="mysql",
        introspect=lambda: introspect_mysql(dsn),
        keys=lambda: introspect_mysql_keys(dsn),
        read=lambda spark, table, engine, fields: read_mysql_table(
            spark, dsn, table, engine=engine, fields=fields
        ),
        run=wire_runner(lambda: MyConn(dsn)),
        views_sql=(
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{db}' AND table_type = 'VIEW'"
        ),
        quote=lambda name: f"`{name}`",
        schema=db or "public",
        extras=extras,
    )
