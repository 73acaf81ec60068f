"""Database sources: the one range-read kernel, the scheme table, and
the catalog SQL every live reader shares.

The reference runs every database source through one engine
(``copy-database``, ``src/load/migrate-database.lisp:326-594``) that
calls per-source generics (``fetch-metadata`` / ``fetch-columns`` /
``-indexes`` / ``-fkeys``, ``src/sources/common/api.lisp:119-163``).
Here the engine is ``plans.executor.execute_database`` and the
generics are a ``LiveSource`` record that each ``*_live.py`` module
builds with ``live_source(loc, options)``; ``LIVE_SCHEMES`` maps a
source URI's scheme to that module.

- **Range reads** (``src/sources/mysql/mysql.lisp:10-62``: probe
  ``min(pk), max(pk)+1``, split into ranges of ``rows per range`` =
  10k, one reader per range; v4 ``clojure/src/pgloader/source/
  pgsql.sql:97-112``: ctid block ranges) -> ``key_ranges`` splits a
  key span, ``read_ranges`` runs one Spark task per range with one
  source connection per task.  Each reader keeps only its probe, its
  SELECT and its per-cell converter.
- **Pushdown** (``src/sources/mysql/mysql-schema.lisp:268-286``
  geometry ``ST_AsText``; ``src/sources/mssql/mssql-schema.lisp:
  200-218`` date/decimal CONVERT) -> per-type SELECT expressions, so
  the source database formats values exactly as the reference asks.
- **Introspection** (``fetch-columns/-indexes/-fkeys/-table-row-count``)
  -> SQL against information_schema / sys-catalogs, run by the wire
  clients (``mywire``, ``tdswire``, ``pgwire``).
"""

from __future__ import annotations

import importlib
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pgloader_spark.session import skip_unchanged_zip_rereads

ROWS_PER_RANGE = 10_000  # *rows-per-range*, src/params.lisp:142


# --------------------------------------------------------------------------
# One record per live source, one table of schemes
# --------------------------------------------------------------------------


@dataclass
class LiveSource:
    """What ``execute_database`` needs from a source database."""

    kind: str  # cast-rule source kind (CastEngine)
    introspect: Callable[[], dict]  # table -> [SourceField]
    # table -> {"pk", "indexes", "fkeys"}; MSSQL adds "filters", index
    # name -> filtered-index WHERE in source syntax
    keys: Callable[[], dict]
    read: Callable[..., DataFrame]  # (spark, table, engine, fields) -> DataFrame
    run: Callable[[list[str]], list]  # statements -> last result's rows
    views_sql: str  # one view name per row (MATERIALIZE ALL VIEWS)
    quote: Callable[[str], str]  # identifier quoting in source SQL
    schema: str = "public"  # target schema of the migrated tables
    # attach catalog extras (checks, comments, row_count_estimate)
    extras: Callable[[object], None] | None = None


# scheme -> the module under pgloader_spark.sources that reads it
LIVE_SCHEMES = {
    "sqlite": "sqlite_live",
    "db3": "sqlite_live",
    "postgresql": "pg_live",
    "postgres": "pg_live",
    "pgsql": "pg_live",
    "mysql": "mysql_live",
    "mssql": "mssql_live",
}


def live_scheme(src: str) -> str | None:
    """The ``LIVE_SCHEMES`` key SRC names (a bare SQLite file counts
    as ``sqlite``), or None for a file source."""
    scheme, sep, _ = src.partition("://")
    if sep:
        return scheme if scheme in LIVE_SCHEMES else None
    return "sqlite" if src.endswith((".db", ".sqlite", ".sqlite3")) else None


def is_pg_uri(uri: str) -> bool:
    """A PostgreSQL URI (``postgresql://``, ``postgres://``,
    ``pgsql://``) — the one live target."""
    return LIVE_SCHEMES.get(live_scheme(uri) or "") == "pg_live"


def open_live_source(src: str, options: dict) -> LiveSource:
    """The ``LiveSource`` record of database SRC."""
    scheme = live_scheme(src)
    if scheme is None:
        raise ValueError(
            f"not a database source: {src!r} (schemes: "
            f"{', '.join(s + '://' for s in LIVE_SCHEMES)})"
        )
    mod = importlib.import_module(
        f"pgloader_spark.sources.{LIVE_SCHEMES[scheme]}"
    )
    return mod.live_source(src, options)


def wire_runner(connect: Callable) -> Callable[[list[str]], list]:
    """``LiveSource.run`` over a wire client (``PGConn``, ``MyConn``,
    ``MsConn``): one connection, the statements in order, the rows of
    the last one."""

    def run(statements: list[str]) -> list:
        rows: list = []
        with connect() as conn:
            for s in statements:
                rows = conn.query(s)[1]
        return rows

    return run


# --------------------------------------------------------------------------
# The range-read kernel
# --------------------------------------------------------------------------


def read_schema(fields: list, engine) -> T.StructType:
    """The read-side Spark schema of FIELDS under ENGINE's cast rules.

    Every field is nullable regardless of the source's NOT NULL: per-
    cell error recovery may null any cell (a non-nullable Spark field
    would NPE in the unsafe-row writer).  The constraint is enforced
    on the TARGET (catalog DDL), where a violated row lands in the
    reject file instead of crashing the scan — the reference's
    semantics."""
    return T.StructType(
        [
            T.StructField(f.name, engine.read_spark_type(f, res), True)
            for f, res in engine.cast_fields(fields)
        ]
    )


def key_ranges(lo: int, hi: int, step: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` split into ``(start, start + step)`` ranges."""
    return [(s, s + step) for s in range(lo, hi, step)]


def range_frame(spark: SparkSession, ranges: list[tuple[int, int]]) -> DataFrame:
    """``lo long, hi long``, one row per read range, in
    min(len(ranges), defaultParallelism) partitions — Spark's own
    LocalTableScanExec rule.  ``createDataFrame`` would slice even one
    range into defaultParallelism partitions, each empty one still a
    Python read task; literal arrays indexed by ``spark.range`` ids add
    no shuffle and no Python stage.  Built as one SQL text: a
    ``lit`` Column per bound would be one Py4J round trip each."""
    k = max(min(len(ranges), spark.sparkContext.defaultParallelism), 1)
    return spark.range(len(ranges), numPartitions=k).selectExpr(
        *[
            f"CAST(array({', '.join(str(int(r[i])) for r in ranges)})"
            f" AS array<long>)[id] AS {name}"
            for i, name in enumerate(("lo", "hi"))
        ]
    )


def read_ranges(
    spark: SparkSession,
    ranges: list[tuple[int, int]],
    schema: T.StructType,
    connect: Callable,
    fetch: Callable,
) -> DataFrame:
    """One Spark task per range group: each task opens ONE source
    connection (``with connect() as conn``) and yields, per range,
    ``fetch(conn, lo, hi)`` — one list of cells per schema field — as
    one object-typed pandas batch.  No ranges: an empty frame."""
    if not ranges:
        return spark.createDataFrame([], schema)
    names = schema.names

    def run(batches):
        skip_unchanged_zip_rereads()
        import pandas as pd

        with connect() as conn:
            for b in batches:
                for lo, hi in zip(b["lo"], b["hi"]):
                    cols = fetch(conn, int(lo), int(hi))
                    yield pd.DataFrame(
                        dict(zip(names, cols)), columns=names, dtype=object
                    )

    return range_frame(spark, ranges).mapInPandas(run, schema)


# --------------------------------------------------------------------------
# Per-type SELECT pushdown (the source formats values, not us)
# --------------------------------------------------------------------------


def mysql_select_expr(column: str, type_name: str) -> str:
    """Geometry -> ST_AsText (mysql-schema.lisp:268-286); everything
    else reads raw."""
    if type_name.lower() in ("point", "linestring", "polygon", "geometry"):
        return f"ST_AsText(`{column}`) AS `{column}`"
    return f"`{column}`"


def mssql_select_expr(column: str, type_name: str) -> str:
    """Date/decimal CONVERT styles (mssql-schema.lisp:200-218):
    datetime -> ISO8601 (style 126), decimals -> max precision."""
    t = type_name.lower()
    if t in ("datetime", "datetime2", "smalldatetime"):
        return f"CONVERT(varchar(33), [{column}], 126) AS [{column}]"
    if t in ("decimal", "numeric", "money"):
        return f"CONVERT(varchar(66), [{column}], 2) AS [{column}]"
    return f"[{column}]"


# --------------------------------------------------------------------------
# Introspection SQL (catalog reads the wire clients run)
# --------------------------------------------------------------------------


def mysql_columns_sql(database: str, table_type: str = "BASE TABLE") -> str:
    """information_schema.columns scan, the content of
    src/sources/mysql/sql/list-all-columns.sql re-derived from the
    public information_schema layout.  Joined to ``tables`` so views
    are excluded (the reference passes a table-type parameter —
    mysql-schema.lisp:55-75 — and migrates views only via
    MATERIALIZE VIEWS)."""
    return f"""
SELECT c.table_name, c.column_name, c.ordinal_position, c.column_default,
       c.is_nullable, c.data_type, c.column_type, c.extra, c.column_comment
FROM information_schema.columns c
JOIN information_schema.tables t USING (table_schema, table_name)
WHERE c.table_schema = '{database}' AND t.table_type = '{table_type}'
ORDER BY c.table_name, c.ordinal_position
""".strip()


def mysql_indexes_sql(database: str) -> str:
    return f"""
SELECT table_name, index_name, non_unique, seq_in_index, column_name
FROM information_schema.statistics
WHERE table_schema = '{database}'
ORDER BY table_name, index_name, seq_in_index
""".strip()


def mysql_fkeys_sql(database: str) -> str:
    return f"""
SELECT constraint_name, table_name, column_name,
       referenced_table_name, referenced_column_name
FROM information_schema.key_column_usage
WHERE table_schema = '{database}' AND referenced_table_name IS NOT NULL
ORDER BY constraint_name, ordinal_position
""".strip()


def mysql_row_counts_sql(database: str) -> str:
    """Estimated row counts (list-table-rows.sql) — drives
    largest-first scheduling."""
    return f"""
SELECT table_name, table_rows
FROM information_schema.tables
WHERE table_schema = '{database}' AND table_type = 'BASE TABLE'
""".strip()


def mysql_checks_sql(database: str) -> str:
    """CHECK constraints (MySQL 8.0.16+; the JOIN is empty on older
    servers) — src/sources/mysql/sql/list-all-checks.sql."""
    return f"""
SELECT tc.table_name, cc.constraint_name, cc.check_clause
FROM information_schema.table_constraints tc
JOIN information_schema.check_constraints cc
  ON cc.constraint_schema = tc.table_schema
 AND cc.constraint_name = tc.constraint_name
WHERE tc.table_schema = '{database}' AND tc.constraint_type = 'CHECK'
ORDER BY tc.table_name, cc.constraint_name
""".strip()


def mysql_table_comments_sql(database: str) -> str:
    """src/sources/mysql/sql/list-table-comments.sql."""
    return f"""
SELECT table_name, table_comment
FROM information_schema.tables
WHERE table_schema = '{database}' AND table_type = 'BASE TABLE'
""".strip()


def mysql_column_comments_sql(database: str) -> str:
    """src/sources/mysql/sql/list-columns-comments.sql."""
    return f"""
SELECT c.table_name, c.column_name, c.column_comment
FROM information_schema.columns c
JOIN information_schema.tables t
  USING (table_schema, table_name)
WHERE c.table_schema = '{database}' AND t.table_type = 'BASE TABLE'
ORDER BY c.table_name, c.ordinal_position
""".strip()


def mysql_check_clause_to_pg(clause: str) -> str:
    """Backtick quoting -> double quotes so the clause is valid in
    PostgreSQL (mysql-schema.lisp:203-206)."""
    return re.sub(r"`([^`]+)`", r'"\1"', clause)


def pg_columns_sql(schema: str = "public") -> str:
    return f"""
SELECT table_name, column_name, ordinal_position, column_default,
       is_nullable, data_type, character_maximum_length,
       numeric_precision, numeric_scale
FROM information_schema.columns
WHERE table_schema = '{schema}'
ORDER BY table_name, ordinal_position
""".strip()


# --------------------------------------------------------------------------
# MS SQL introspection (src/sources/mssql/sql/*.sql re-derived from the
# public INFORMATION_SCHEMA / sys-catalog layouts)
# --------------------------------------------------------------------------


def mssql_columns_sql(database: str, table_type: str = "BASE TABLE") -> str:
    """Column catalog scan — list-all-columns.sql.  The reference
    unwraps MSSQL's ((default)) parens and maps getdate()/newid()
    server-side in T-SQL; we read the raw default and normalize
    client-side in ``mssql_normalize_default`` (same mapping,
    unit-testable without a live server)."""
    return f"""
SELECT c.table_schema, c.table_name, c.column_name, c.data_type,
       c.column_default, c.is_nullable,
       COLUMNPROPERTY(object_id(c.table_name), c.column_name,
                      'IsIdentity') AS is_identity,
       c.character_maximum_length, c.numeric_precision, c.numeric_scale,
       c.character_set_name, c.collation_name
FROM information_schema.columns c
JOIN information_schema.tables t
  ON c.table_schema = t.table_schema AND c.table_name = t.table_name
WHERE c.table_catalog = '{database}' AND t.table_type = '{table_type}'
ORDER BY c.table_schema, c.table_name, c.ordinal_position
""".strip()


def mssql_fkeys_sql(database: str) -> str:
    """Foreign keys via REFERENTIAL_CONSTRAINTS joined to both sides'
    KEY_COLUMN_USAGE — list-all-fkeys.sql (dots in constraint names
    are replaced since PG identifiers treat them as separators)."""
    return f"""
SELECT REPLACE(kcu1.constraint_name, '.', '_') AS constraint_name,
       kcu1.table_schema, kcu1.table_name, kcu1.column_name,
       kcu2.table_schema AS unique_table_schema,
       kcu2.table_name AS unique_table_name,
       kcu2.column_name AS unique_column_name,
       rc.update_rule, rc.delete_rule
FROM information_schema.referential_constraints rc
JOIN information_schema.key_column_usage kcu1
  ON kcu1.constraint_catalog = rc.constraint_catalog
 AND kcu1.constraint_schema = rc.constraint_schema
 AND kcu1.constraint_name = rc.constraint_name
JOIN information_schema.key_column_usage kcu2
  ON kcu2.constraint_catalog = rc.unique_constraint_catalog
 AND kcu2.constraint_schema = rc.unique_constraint_schema
 AND kcu2.constraint_name = rc.unique_constraint_name
WHERE kcu1.ordinal_position = kcu2.ordinal_position
  AND kcu1.table_catalog = '{database}'
  AND kcu1.table_schema NOT IN ('dto', 'sys')
  AND kcu2.table_schema NOT IN ('dto', 'sys')
ORDER BY kcu1.constraint_name, kcu1.ordinal_position
""".strip()


def mssql_indexes_sql() -> str:
    """Indexes (incl. filtered-index definitions) from the sys
    catalogs — list-all-indexes.sql."""
    return """
SELECT schema_name(o.schema_id) AS schema_name,
       o.name AS table_name,
       REPLACE(i.name, '.', '_') AS index_name,
       co.name AS column_name,
       i.is_unique, i.is_primary_key, i.filter_definition
FROM sys.indexes i
JOIN sys.objects o ON i.object_id = o.object_id
JOIN sys.index_columns ic
  ON ic.object_id = i.object_id AND ic.index_id = i.index_id
JOIN sys.columns co
  ON co.object_id = i.object_id AND co.column_id = ic.column_id
WHERE schema_name(o.schema_id) NOT IN ('dto', 'sys')
ORDER BY schema_name, o.name, i.name, ic.is_included_column, ic.key_ordinal
""".strip()


def mssql_normalize_default(default: str | None) -> str | None:
    """Unwrap MSSQL's ((value)) / (value) default wrapping and map the
    common function defaults, matching the CASE ladder the reference
    runs in T-SQL (list-all-columns.sql):
    newid() -> GENERATE_UUID, getdate()/sysdatetimeoffset() ->
    CURRENT_TIMESTAMP, convert(varchar..., getdate(), ...) -> today,
    'literal' -> literal."""
    if default is None:
        return None
    d = default.strip()
    while len(d) >= 2 and d[0] == "(" and d[-1] == ")":
        d = d[1:-1]
    low = d.lower()
    if low == "newid()":
        return "GENERATE_UUID"
    if low in ("getdate()", "sysdatetimeoffset()"):
        return "CURRENT_TIMESTAMP"
    if re.fullmatch(r"convert\(.*varchar.*,\s*getdate\(\)\s*,.*\)", low):
        return "today"
    if len(d) >= 2 and d[0] == "'" and d[-1] == "'":
        return d[1:-1]
    return d


def _rowget(row, key, default=None):
    """Field access tolerant of dicts and pyspark Rows."""
    try:
        return row[key]
    except (KeyError, ValueError, IndexError, TypeError):
        return default


def fields_from_mssql_columns(rows) -> dict[tuple[str, str], list]:
    """information_schema rows -> {(schema, table): [SourceField]}
    feeding the MSSQL cast rules (mssql-schema.lisp list-all-columns
    consumption)."""
    from pgloader_spark.casting import SourceField

    out: dict[tuple[str, str], list] = {}
    for r in rows:
        char_len = _rowget(r, "character_maximum_length")
        num_prec = _rowget(r, "numeric_precision")
        num_scale = _rowget(r, "numeric_scale")
        dtype = r["data_type"]
        if char_len and char_len > 0:
            mod = f"({char_len})"
        elif num_prec and dtype.lower() in ("decimal", "numeric"):
            mod = f"({num_prec},{num_scale or 0})"
        else:
            mod = None
        f = SourceField(
            name=r["column_name"],
            type_name=dtype,
            type_mod=mod,
            default=mssql_normalize_default(_rowget(r, "column_default")),
            nullable=(_rowget(r, "is_nullable") or "YES").upper() == "YES",
            extra="auto_increment" if _rowget(r, "is_identity") else None,
            table_name=r["table_name"],
        )
        out.setdefault((r["table_schema"], r["table_name"]), []).append(f)
    return out


def fields_from_mysql_columns(rows) -> list:
    """information_schema rows -> SourceField list feeding the cast
    engine (mysql-cast-rules path)."""
    from pgloader_spark.casting import SourceField

    out = []
    for r in rows:
        ct = r["column_type"] or r["data_type"]
        m = re.match(r"(\w+)\s*(\([^)]*\))?", ct)
        base, mod = (m.group(1), m.group(2)) if m else (r["data_type"], None)
        out.append(
            SourceField(
                name=r["column_name"],
                type_name=base,
                type_mod=mod,
                default=r["column_default"],
                nullable=(r["is_nullable"] or "YES").upper() == "YES",
                extra=r["extra"],
                unsigned="unsigned" in ct.lower(),
                table_name=r["table_name"],
                comment=_rowget(r, "column_comment") or None,
            )
        )
    return out


def attach_mysql_checks(catalog, rows) -> None:
    """list-all-checks resultset -> Table.check_constraints with
    backtick->double-quote clause translation
    (mysql-schema.lisp:193-206)."""
    for r in rows:
        for schema in catalog.schemas:
            t = schema.find_table(r["table_name"])
            if t is not None:
                t.check_constraints.append(
                    (r["constraint_name"],
                     mysql_check_clause_to_pg(r["check_clause"]))
                )
                break


def attach_mysql_comments(catalog, table_rows=(), column_rows=()) -> None:
    """list-table-comments / list-columns-comments resultsets ->
    Table.comment / Column.comment."""
    for r in table_rows:
        for schema in catalog.schemas:
            t = schema.find_table(r["table_name"])
            if t is not None and r["table_comment"]:
                t.comment = r["table_comment"]
                break
    for r in column_rows:
        for schema in catalog.schemas:
            t = schema.find_table(r["table_name"])
            if t is None:
                continue
            for c in t.columns:
                if c.name == r["column_name"] and r["column_comment"]:
                    c.comment = r["column_comment"]
            break
