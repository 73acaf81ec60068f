"""Live MS SQL source: introspection + distributed pkey-range reads.

The TDS counterpart of ``mysql_live.py``: the stdlib wire client
(``tdswire.MsConn``) runs the catalog scans (``jdbc.py:mssql_*_sql``
— the re-derivation of src/sources/mssql/sql/*.sql) and then streams
each table through integer-pkey ranged SELECTs inside the shared
range-read kernel (``sources.jdbc.read_ranges``), with the
CONVERT-to-text pushdown for datetimes/decimals
(mssql-schema.lisp:200-218) and client-side typed conversion per the
introspected catalog type.  ``live_source`` builds the
``LiveSource`` record the executor runs.

Scale: one connection and ONE pkey range per task, exactly the
reference's reader-pool sharding (``rows per range``) — a
1000-executor cluster is just more ranges.  Driver-side work is one
MIN/MAX probe per table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.sources.jdbc import (
    ROWS_PER_RANGE,
    LiveSource,
    fields_from_mssql_columns,
    key_ranges,
    mssql_columns_sql,
    mssql_fkeys_sql,
    mssql_indexes_sql,
    mssql_select_expr,
    read_ranges,
    read_schema,
    wire_runner,
)
from pgloader_spark.sources.mysql_live import _convert_cell
from pgloader_spark.sources.tdswire import MsConn, parse_ms_dsn

_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _dict_rows(cols: list[str], rows: list[tuple]) -> list[dict]:
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        # the text funnel returns every cell as str; the field builder
        # compares numeric catalog columns
        for k in (
            "character_maximum_length",
            "numeric_precision",
            "numeric_scale",
            "is_identity",
        ):
            if d.get(k) is not None:
                try:
                    d[k] = int(d[k])
                except (TypeError, ValueError):
                    pass
        out.append(d)
    return out


def introspect_mssql(dsn: str) -> dict[str, list[SourceField]]:
    """table -> SourceField list (dbo schema tables keyed bare, so
    they land in the target's default schema; other schemas keyed
    ``schema.table``)."""
    db = parse_ms_dsn(dsn)["database"]
    with MsConn(dsn) as conn:
        cols, rows = conn.query(mssql_columns_sql(db))
    out: dict[str, list[SourceField]] = {}
    for (schema, table), fields in fields_from_mssql_columns(
        _dict_rows(cols, rows)
    ).items():
        key = table if schema == "dbo" else f"{schema}.{table}"
        out[key] = fields
    return out


def introspect_mssql_extras(dsn: str) -> dict:
    db = parse_ms_dsn(dsn)["database"]
    with MsConn(dsn) as conn:
        return {
            "fkeys": _dict_rows(*conn.query(mssql_fkeys_sql(db))),
            "indexes": _dict_rows(*conn.query(mssql_indexes_sql())),
        }


def introspect_mssql_keys(dsn: str) -> dict[str, dict]:
    """Per-table PK / secondary indexes / foreign keys from the sys
    catalogs (reference list-all-indexes.sql / list-all-fkeys.sql).
    Same shape as ``introspect_sqlite_keys``; tables keyed like
    ``introspect_mssql`` (dbo bare, others ``schema.table``).  A
    filtered index's ``filter_definition`` lands, untranslated, in the
    table's ``filters`` map under the index name."""
    extras = introspect_mssql_extras(dsn)
    out: dict[str, dict] = {}

    def entry(t: str) -> dict:
        return out.setdefault(t, {"pk": [], "indexes": [], "fkeys": []})

    def key_of(schema: str, table: str) -> str:
        return table if schema == "dbo" else f"{schema}.{table}"

    grouped: dict[tuple[str, str], dict] = {}
    for r in extras["indexes"]:
        k = (key_of(r["schema_name"], r["table_name"]), r["index_name"])
        g = grouped.setdefault(
            k,
            {
                "cols": [],
                "unique": str(r["is_unique"]) in ("1", "True", "true"),
                "primary": str(r["is_primary_key"]) in ("1", "True", "true"),
                "filter": r.get("filter_definition"),
            },
        )
        g["cols"].append(r["column_name"])
    for (t, iname), g in grouped.items():
        if g["primary"]:
            entry(t)["pk"] = g["cols"]
        else:
            entry(t)["indexes"].append((iname, g["cols"], g["unique"]))
            if g["filter"]:
                entry(t).setdefault("filters", {})[iname] = g["filter"]
    fk_grouped: dict[tuple[str, str], dict] = {}
    for r in extras["fkeys"]:
        t = key_of(r["table_schema"], r["table_name"])
        g = fk_grouped.setdefault(
            (t, r["constraint_name"]),
            {
                "cols": [],
                "ftable": key_of(
                    r["unique_table_schema"], r["unique_table_name"]
                ),
                "fcols": [],
                "on_update": r.get("update_rule"),
                "on_delete": r.get("delete_rule"),
            },
        )
        g["cols"].append(r["column_name"])
        g["fcols"].append(r["unique_column_name"])
    for (t, _name), g in fk_grouped.items():
        entry(t)["fkeys"].append(
            (g["cols"], g["ftable"], g["fcols"], g["on_update"], g["on_delete"])
        )
    return out


def _int_pkey(dsn: str, table: str, fields: list[SourceField]) -> str | None:
    """Single-column integer PRIMARY KEY -> range-read partition
    column (the reference's parallel-read precondition)."""
    with MsConn(dsn) as conn:
        _, rows = conn.query(mssql_indexes_sql())
    pk_cols = [
        r[3]
        for r in rows
        if r[1] == table.split(".")[-1] and str(r[5]) in ("1", "True")
    ]
    if len(pk_cols) != 1:
        return None
    for f in fields:
        if f.name == pk_cols[0] and f.type_name.lower() in _INT_TYPES:
            return f.name
    return None


def _bracket(table: str) -> str:
    return ".".join(f"[{p}]" for p in table.split("."))


def read_mssql_table(
    spark: SparkSession,
    dsn: str,
    table: str,
    engine: CastEngine | None = None,
    rows_per_range: int = ROWS_PER_RANGE,
    fields: list[SourceField] | None = None,
) -> DataFrame:
    """Distributed typed read of one MS SQL table via pkey ranges."""
    eng = engine or CastEngine(source_kind="mssql")
    flds = fields if fields is not None else introspect_mssql(dsn)[table]
    schema = read_schema(flds, eng)
    spark_types = [sf.dataType for sf in schema.fields]
    col_list = ", ".join(mssql_select_expr(f.name, f.type_name) for f in flds)
    qtable = _bracket(table)

    pk = _int_pkey(dsn, table, flds)
    if pk is None:
        ranges = [(0, -1)]
        where = ""
    else:
        with MsConn(dsn) as conn:
            _, rows = conn.query(
                f"SELECT MIN([{pk}]), MAX([{pk}]) + 1 FROM {qtable}"
            )
        lo, hi = rows[0]
        ranges = [] if lo is None else key_ranges(
            int(lo), int(float(hi)), rows_per_range
        )
        where = f" WHERE [{pk}] >= {{lo}} AND [{pk}] < {{hi}}"

    def fetch(conn, lo: int, hi: int) -> list[list]:
        _, rows = conn.query(
            f"SELECT {col_list} FROM {qtable}" + where.format(lo=lo, hi=hi)
        )
        return [
            [_convert_cell(r[i], typ) for r in rows]
            for i, typ in enumerate(spark_types)
        ]

    return read_ranges(spark, ranges, schema, lambda: MsConn(dsn), fetch)


def live_source(dsn: str, options: dict) -> LiveSource:
    """``mssql://``, over the TDS client."""
    return LiveSource(
        kind="mssql",
        introspect=lambda: introspect_mssql(dsn),
        keys=lambda: introspect_mssql_keys(dsn),
        read=lambda spark, table, engine, fields: read_mssql_table(
            spark, dsn, table, engine=engine, fields=fields
        ),
        run=wire_runner(lambda: MsConn(dsn)),
        views_sql=(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_type = 'VIEW'"
        ),
        quote=lambda name: f"[{name}]",
    )
