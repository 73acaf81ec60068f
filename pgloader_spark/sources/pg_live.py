"""Live PostgreSQL source/sink: introspection + distributed COPY.

The self-contained execution path for a live PostgreSQL server using
the stdlib wire client (``sources/pgwire.py``) inside Arrow-batched
``mapInPandas`` tasks — no psycopg, no JDBC jar.

Reference parity (dimitri/pgloader):
- catalog introspection via information_schema
  (``pg_columns_sql`` re-derives src/pgsql/pgsql-schema SQL);
- ctid block-range parallel reads, the v4 strategy
  (``clojure/.../pgsql.sql:97-112`` and ``sources/jdbc.py:
  plan_ctid_partitions`` — one ``COPY (SELECT ... WHERE ctid
  range) TO STDOUT`` per task);
- the COPY-FROM-STDIN write path in per-partition streams
  (``src/pg-copy/copy-db-write.lisp:24-35``) — each Spark partition
  is its own COPY transaction, so a 1000-partition write is 1000
  concurrent COPY streams (the reference caps at a worker pool;
  same mechanism, cluster-sized).

Scale notes: the driver does exactly two tiny queries (catalog +
relpages); all data movement happens executor-side, one connection
per task, streaming in chunks.  COPY text parsing reuses the same
escape tables as the file-based COPY source, so a PG read and a
``.dat`` read are byte-for-byte the same transform.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.sources.jdbc import pg_columns_sql, range_frame
from pgloader_spark.sources.pgwire import PGConn, PGError, _parse_dsn

PAGES_PER_RANGE = 1000  # matches plan_ctid_partitions

_UNESCAPE = {
    b"\\\\": b"\\",
    b"\\t": b"\t",
    b"\\n": b"\n",
    b"\\r": b"\r",
    b"\\b": b"\b",
    b"\\f": b"\f",
    b"\\v": b"\v",
}


def parse_copy_text(data: bytes) -> Iterator[list[str | None]]:
    """COPY text-format rows -> lists of str|None (``\\N`` = NULL)."""
    for line in data.split(b"\n"):
        if not line:
            continue
        fields: list[str | None] = []
        for raw in line.split(b"\t"):
            if raw == b"\\N":
                fields.append(None)
                continue
            if b"\\" in raw:
                out = bytearray()
                i = 0
                while i < len(raw):
                    pair = raw[i : i + 2]
                    if pair in _UNESCAPE:
                        out += _UNESCAPE[pair]
                        i += 2
                    else:
                        out.append(raw[i])
                        i += 1
                fields.append(out.decode("utf-8"))
            else:
                fields.append(raw.decode("utf-8"))
        yield fields


def introspect_pg(dsn: str, schema: str = "public") -> dict[str, list[SourceField]]:
    """table -> SourceField list from information_schema.columns."""
    with PGConn(dsn) as conn:
        _, rows = conn.query(pg_columns_sql(schema))
    out: dict[str, list[SourceField]] = {}
    for table, col, _pos, default, nullable, dtype, charlen, prec, scale in rows:
        mod = None
        if prec is not None and scale is not None:
            mod = f"({prec},{scale})"
        elif charlen is not None:
            mod = f"({charlen})"
        out.setdefault(table, []).append(
            SourceField(
                name=col,
                type_name=dtype,
                type_mod=mod,
                default=default,
                nullable=(nullable == "YES"),
                table_name=table,
            )
        )
    return out


def introspect_pg_extras(dsn: str, schema: str = "public") -> dict:
    """Catalog extras for a PostgreSQL SOURCE: table/column comments
    (pg_description) and CHECK constraints (pg_constraint contype 'c',
    clause via pg_get_constraintdef) — the pgsql-source counterpart of
    the MySQL list-all-checks / comments scans."""
    tc_sql = f"""
SELECT c.relname, d.description
FROM pg_class c
JOIN pg_namespace n ON n.oid = c.relnamespace AND n.nspname = '{schema}'
JOIN pg_description d ON d.objoid = c.oid AND d.objsubid = 0
WHERE c.relkind = 'r'
"""
    cc_sql = f"""
SELECT c.relname, a.attname, d.description
FROM pg_class c
JOIN pg_namespace n ON n.oid = c.relnamespace AND n.nspname = '{schema}'
JOIN pg_description d ON d.objoid = c.oid AND d.objsubid > 0
JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum = d.objsubid
WHERE c.relkind = 'r'
"""
    chk_sql = f"""
SELECT t.relname, con.conname, pg_get_constraintdef(con.oid)
FROM pg_constraint con
JOIN pg_class t ON t.oid = con.conrelid
JOIN pg_namespace n ON n.oid = t.relnamespace AND n.nspname = '{schema}'
WHERE con.contype = 'c'
"""
    with PGConn(dsn) as conn:
        _, tc = conn.query(tc_sql)
        _, cc = conn.query(cc_sql)
        _, chk = conn.query(chk_sql)
    checks = []
    for tname, cname, condef in chk:
        clause = condef
        if clause.upper().startswith("CHECK"):
            clause = clause[5:].strip()
        if clause.startswith("(") and clause.endswith(")"):
            clause = clause[1:-1]
        checks.append(
            {"table_name": tname, "constraint_name": cname,
             "check_clause": clause}
        )
    return {
        "table_comments": [
            {"table_name": t, "table_comment": d} for t, d in tc
        ],
        "column_comments": [
            {"table_name": t, "column_name": c, "column_comment": d}
            for t, c, d in cc
        ],
        "checks": checks,
    }


def capture_and_drop_indexes(dsn: str, table: str) -> list[str]:
    """WITH drop indexes (docs/ref/pgsql.rst; the reference's
    drop-indexes -> load -> create-indexes-again kernel,
    ``src/pgsql/pgsql-create-schema.lisp:416-537``): drop every index
    on TABLE — PRIMARY KEY / UNIQUE constraints via DROP CONSTRAINT,
    plain indexes via DROP INDEX — and return the statements that
    recreate them, constraint definitions captured with
    ``pg_get_constraintdef`` and index definitions with
    ``pg_indexes.indexdef`` so the rebuild is textually faithful.

    A constraint that cannot drop (e.g. a PK referenced by another
    table's FK) is left in place and excluded from the recreate list.
    Plain CREATE INDEX statements order before ADD CONSTRAINT on
    rebuild, mirroring the complete-phase ordering.
    """
    q = quote_qualified(table)
    parts = table.split(".")
    schema, bare = (parts[0], parts[1]) if len(parts) == 2 else ("public", table)
    recreate_constraints: list[str] = []
    recreate_indexes: list[str] = []
    with PGConn(dsn) as conn:
        _, cons = conn.query(
            "SELECT c.conname, pg_get_constraintdef(c.oid) "
            "FROM pg_constraint c "
            f"WHERE c.conrelid = '{q}'::regclass AND c.contype IN ('p', 'u')"
        )
        for name, condef in cons:
            try:
                conn.query(f'ALTER TABLE {q} DROP CONSTRAINT "{name}"')
                recreate_constraints.append(
                    f'ALTER TABLE {q} ADD CONSTRAINT "{name}" {condef};'
                )
            except PGError:
                pass  # depended-upon (FK target): keep it live
        # exclude indexes still backing a constraint (a PK that could
        # not drop above): dropping them directly is 2BP01
        _, idx = conn.query(
            "SELECT indexname, indexdef FROM pg_indexes "
            f"WHERE schemaname = '{schema}' AND tablename = '{bare}' "
            "AND indexname NOT IN (SELECT conname FROM pg_constraint "
            f"WHERE conrelid = '{q}'::regclass)"
        )
        for name, indexdef in idx:
            conn.query(f'DROP INDEX "{schema}"."{name}"')
            recreate_indexes.append(indexdef + ";")
    return recreate_indexes + recreate_constraints


def introspect_pg_keys(dsn: str, schema: str = "public") -> dict[str, dict]:
    """Per-table PK / secondary indexes / foreign keys from
    pg_catalog (reference pgsql list-all-indexes / list-all-fkeys,
    ``src/pgsql/pgsql-schema.lisp`` — same catalogs, rewritten).

    Same shape as ``introspect_sqlite_keys``.
    """
    idx_sql = f"""
SELECT t.relname, i.relname, ix.indisunique, ix.indisprimary,
       a.attname, k.ord
FROM pg_index ix
JOIN pg_class t ON t.oid = ix.indrelid
JOIN pg_class i ON i.oid = ix.indexrelid
JOIN pg_namespace n ON n.oid = t.relnamespace AND n.nspname = '{schema}'
CROSS JOIN LATERAL unnest(ix.indkey) WITH ORDINALITY AS k(attnum, ord)
JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = k.attnum
WHERE t.relkind = 'r'
ORDER BY t.relname, i.relname, k.ord
"""
    fk_sql = f"""
SELECT c.conname, t.relname, ft.relname, a.attname, fa.attname, k.ord
FROM pg_constraint c
JOIN pg_class t ON t.oid = c.conrelid
JOIN pg_class ft ON ft.oid = c.confrelid
JOIN pg_namespace n ON n.oid = t.relnamespace AND n.nspname = '{schema}'
CROSS JOIN LATERAL unnest(c.conkey, c.confkey)
     WITH ORDINALITY AS k(attnum, fattnum, ord)
JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = k.attnum
JOIN pg_attribute fa ON fa.attrelid = ft.oid AND fa.attnum = k.fattnum
WHERE c.contype = 'f'
ORDER BY c.conname, k.ord
"""
    with PGConn(dsn) as conn:
        _, idx_rows = conn.query(idx_sql)
        _, fk_rows = conn.query(fk_sql)
    out: dict[str, dict] = {}

    def entry(t: str) -> dict:
        return out.setdefault(t, {"pk": [], "indexes": [], "fkeys": []})

    grouped: dict[tuple[str, str], dict] = {}
    for t, iname, uniq, prim, col, _ord in idx_rows:
        g = grouped.setdefault(
            (t, iname),
            {"cols": [], "unique": uniq == "t", "primary": prim == "t"},
        )
        g["cols"].append(col)
    for (t, iname), g in grouped.items():
        if g["primary"]:
            entry(t)["pk"] = g["cols"]
        else:
            entry(t)["indexes"].append((iname, g["cols"], g["unique"]))
    fk_grouped: dict[tuple[str, str], dict] = {}
    for cname, t, ftable, col, fcol, _ord in fk_rows:
        g = fk_grouped.setdefault(
            (t, cname), {"cols": [], "ftable": ftable, "fcols": []}
        )
        g["cols"].append(col)
        g["fcols"].append(fcol)
    for (t, _name), g in fk_grouped.items():
        entry(t)["fkeys"].append(
            (g["cols"], g["ftable"], g["fcols"], None, None)
        )
    return out


def _schema_for(fields: list[SourceField], engine: CastEngine) -> T.StructType:
    # read-side fields always nullable: per-cell recovery may null any
    # cell; NOT NULL is enforced at the target (see sqlite_live.py)
    return T.StructType(
        [
            T.StructField(f.name, engine.read_spark_type(f, res), True)
            for f, res in engine.cast_fields(fields)
        ]
    )


def _ctid_ranges(dsn: str, table: str, pages_per_range: int) -> list[tuple[int, int]]:
    if "." in table:
        # schema-qualified: resolve through regclass (bare relname is
        # ambiguous across schemas)
        rc = ".".join('"' + p + '"' for p in table.split("."))
        where = f"oid = '{rc}'::regclass"
    else:
        where = f"relname = '{table}'"
    # the main fork's current size, not relpages: that planner estimate
    # stays 0 until a VACUUM/ANALYZE, and a just-loaded table must split
    with PGConn(dsn) as conn:
        _, rows = conn.query(
            "SELECT GREATEST(pg_relation_size(oid) / "
            f"current_setting('block_size')::int, 1) FROM pg_class WHERE {where}"
        )
    relpages = int(rows[0][0]) if rows else 1
    n = max(math.ceil(relpages / pages_per_range), 1)
    # last range open-ended (concurrent growth), as in plan_ctid_partitions
    return [
        (i * pages_per_range, -1 if i == n - 1 else (i + 1) * pages_per_range)
        for i in range(n)
    ]


def _convert_cell(v: str | None, typ: T.DataType):
    import datetime as _dt
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(typ, T.BooleanType):
        return v == "t"
    if isinstance(typ, (T.LongType, T.IntegerType, T.ShortType)):
        return int(v)
    if isinstance(typ, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(typ, T.DecimalType):
        return Decimal(v)
    if isinstance(typ, T.TimestampType):
        return _dt.datetime.fromisoformat(v)
    if isinstance(typ, T.DateType):
        return _dt.date.fromisoformat(v)
    if isinstance(typ, T.BinaryType):
        return bytes.fromhex(v[2:]) if v.startswith("\\x") else v.encode()
    return v


def read_pg_table(
    spark: SparkSession,
    dsn: str,
    table: str,
    engine: CastEngine | None = None,
    pages_per_range: int = PAGES_PER_RANGE,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed typed read of one PostgreSQL table via per-range
    ``COPY (SELECT ...) TO STDOUT`` streams.

    ``table`` may be schema-qualified (``myschema.items``); bare names
    read from ``public``.  ``columns`` limits both the COPY SELECT and
    the output schema — the pruning a mapInPandas source cannot get
    from Catalyst, so wide tables aren't streamed whole when the
    caller (e.g. checksum verification) needs two key columns.
    """
    import pandas as pd

    eng = engine or CastEngine(source_kind="pgsql")
    if "." in table:
        pg_schema, bare = table.rsplit(".", 1)
    else:
        pg_schema, bare = "public", table
    fields = introspect_pg(dsn, schema=pg_schema)[bare]
    if columns is not None:
        by_name = {f.name: f for f in fields}
        missing = [c for c in columns if c not in by_name]
        if missing:
            raise KeyError(f"{table}: no such column(s): {', '.join(missing)}")
        fields = [by_name[c] for c in columns]
    schema = _schema_for(fields, eng)
    names = [f.name for f in fields]
    spark_types = [sf.dataType for sf in schema.fields]
    ranges = _ctid_ranges(dsn, table, pages_per_range)
    ranges_df = range_frame(spark, ranges)
    col_list = ", ".join(f'"{n}"' for n in names)
    from_ref = quote_qualified(table)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for lo, hi in zip(b["lo"], b["hi"]):
                where = f"ctid >= '({int(lo)},0)'::tid"
                if int(hi) >= 0:
                    where += f" AND ctid < '({int(hi)},0)'::tid"
                with PGConn(dsn) as conn:
                    data = b"".join(
                        conn.copy_out(
                            f"COPY (SELECT {col_list} FROM {from_ref} "
                            f"WHERE {where}) TO STDOUT"
                        )
                    )
                rows = [
                    [_convert_cell(v, t) for v, t in zip(r, spark_types)]
                    for r in parse_copy_text(data)
                ]
                yield pd.DataFrame(
                    {n: [r[i] for r in rows] for i, n in enumerate(names)},
                    columns=names,
                    dtype=object,
                )

    return ranges_df.mapInPandas(fetch, schema)


def quote_qualified(table: str) -> str:
    """schema.table -> "schema"."table" (each part quoted)."""
    return ".".join('"' + p + '"' for p in table.split("."))


def sibling_table(table: str, suffix: str) -> str:
    """Derive a helper table's name NEXT TO the target, keeping the
    schema: ``a.t`` + ``__cdc_stage`` -> ``a.t__cdc_stage``.  Deriving
    from the basename alone would make ``a.t`` and ``b.t`` share one
    stage/epoch log — concurrent applies would clobber each other."""
    schema, _, name = table.rpartition(".")
    return f"{schema}.{name}{suffix}" if schema else f"{name}{suffix}"


_SPARK_TO_PG = {
    "bigint": "bigint",
    "int": "integer",
    "smallint": "smallint",
    "double": "double precision",
    "float": "real",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "bytea",
    "string": "text",
}


def ensure_pg_table(dsn: str, table: str, schema: T.StructType) -> None:
    """CREATE TABLE IF NOT EXISTS from a Spark schema — what the
    reference does for self-describing sources (DBF/IXF carry their
    own field defs; pgloader creates the target table from them,
    src/sources/db3/db3.lisp create-table path)."""
    cols = ", ".join(
        f'"{f.name}" '
        + _SPARK_TO_PG.get(
            f.dataType.simpleString().split("(")[0],
            f.dataType.simpleString()
            if f.dataType.simpleString().startswith("decimal")
            else "text",
        )
        for f in schema.fields
    )
    with PGConn(dsn) as conn:
        conn.query(
            f"CREATE TABLE IF NOT EXISTS {quote_qualified(table)} ({cols})"
        )


def align_to_target(
    df: DataFrame, dsn: str, table: str, date_format: str | None = None
) -> DataFrame:
    """Project a loaded DataFrame against the LIVE target table's
    catalog — the reference's merge-catalogs step (it always knows the
    target schema; src/pgsql/merge-catalogs.lisp):

    - positional sources (CSV guess mode's ``_c0.._cN``) take the
      target's column names;
    - string columns headed for timestamp/timestamptz targets parse
      client-side with the command's global ``WITH date format``
      (PostgreSQL cannot parse custom formats during COPY);
    - everything else flows through as text for the server's own
      input functions (exactly what COPY semantics want).
    """
    from pyspark.sql import functions as F

    from pgloader_spark.parsers.dateformat import pg_to_spark_datetime_format

    sch, _, tbl = table.rpartition(".")
    sch = sch.strip('"')
    tbl = tbl.strip('"')
    with PGConn(dsn) as conn:
        # schema-qualified: an unqualified table_name match would
        # return the columns of EVERY schema's same-named table (e.g.
        # csv.blocks + geolite.blocks), duplicating names and silently
        # disabling the case-insensitive rename below.  An unqualified
        # target resolves like the server would: the single schema
        # holding that name, or 'public' when several do.
        if not sch:
            _, schemas = conn.query(
                "SELECT DISTINCT table_schema FROM information_schema.columns"
                f" WHERE table_name = '{tbl}'"
                " AND table_schema NOT IN ('pg_catalog', 'information_schema')"
            )
            names_ = [r[0] for r in schemas]
            sch = names_[0] if len(names_) == 1 else "public"
        _, rows = conn.query(
            "SELECT column_name, data_type, column_default"
            " FROM information_schema.columns "
            f"WHERE table_schema = '{sch}' AND table_name = '{tbl}'"
            " ORDER BY ordinal_position"
        )
    if not rows:
        return df
    names = [r[0] for r in rows]
    types = {r[0]: r[1] for r in rows}
    # a serial/identity column the load does NOT provide gets its
    # values from the sequence in COPY arrival order — the reference
    # streams one ordered COPY, so ids follow input order
    # (serial.load's regress expected output pins this); collapse to
    # one ordered stream only in that case
    lower_df = {c.lower() for c in df.columns}
    implicit_serial = any(
        (r[2] or "").startswith("nextval(") and r[0].lower() not in lower_df
        for r in rows
    )
    if implicit_serial and df.rdd.getNumPartitions() > 1:
        df = df.coalesce(1)
    if all(c.startswith("_c") for c in df.columns) and len(names) == len(
        df.columns
    ):
        df = df.toDF(*names)
    else:
        # unquoted DDL identifiers case-fold server-side; match the
        # loaded columns to the catalog case-insensitively
        # (fixed-guess.load: uppercase header vs lowercase DDL)
        lower_map = {n.lower(): n for n in names}
        if len(lower_map) == len(names) and all(
            c.lower() in lower_map for c in df.columns
        ):
            df = df.toDF(*[lower_map[c.lower()] for c in df.columns])
    if date_format:
        import re as _re

        fmt = pg_to_spark_datetime_format(date_format)
        # fractional seconds are optional in the data even when the
        # format declares them (the reference's per-directive parser
        # is lenient); try with, then without
        fmt_nofrac = _re.sub(r"\.S+$", "", fmt)
        for c in df.columns:
            if types.get(c, "").startswith("timestamp") and dict(df.dtypes).get(
                c
            ) == "string":
                parsed = F.coalesce(
                    F.try_to_timestamp(df[c], F.lit(fmt)),
                    F.try_to_timestamp(df[c], F.lit(fmt_nofrac)),
                )
                df = df.withColumn(c, parsed)
    return df


def _copy_batch_isolating(
    conn: PGConn, stmt: str, lines: list[str]
) -> tuple[int, list[tuple[str, str]]]:
    """COPY a batch; on failure isolate the bad rows and load the rest.

    The reference's retry-batch logic (src/pg-copy/retry-batch.lisp):
    when the server annotates the error with ``line N`` (COPY parse
    errors do), drop exactly that row and retry; when it does not
    (FK violations — GitHub issue #1333, test/fk-reject.load), bisect
    the batch until single rows isolate.  Each COPY here is one
    statement = one transaction, so a failed attempt loads nothing and
    a retry re-sends the survivors.
    """
    import re as _re

    loaded = 0
    rejects: list[tuple[str, str]] = []
    todo = lines
    while todo:
        try:
            conn.copy_in(stmt, [("\n".join(todo) + "\n").encode("utf-8")])
            loaded += len(todo)
            break
        except PGError as e:
            m = _re.search(r"line (\d+)", getattr(e, "context", "") or "")
            if m and 1 <= int(m.group(1)) <= len(todo):
                k = int(m.group(1)) - 1
                rejects.append((todo[k], str(e)))
                todo = todo[:k] + todo[k + 1 :]
            elif len(todo) == 1:
                rejects.append((todo[0], str(e)))
                break
            else:
                mid = len(todo) // 2
                n1, r1 = _copy_batch_isolating(conn, stmt, todo[:mid])
                n2, r2 = _copy_batch_isolating(conn, stmt, todo[mid:])
                loaded += n1 + n2
                rejects.extend(r1 + r2)
                break
    return loaded, rejects


# Default ceiling on concurrent COPY connections when the caller did
# not pick a stream count: under PostgreSQL's stock max_connections
# (100), a wide cluster input must not map one connection per task.
_MAX_DEFAULT_STREAMS = 64


def _cap_copy_streams(lines: "DataFrame", n_writers: int | None) -> "DataFrame":
    """Resolve the COPY stream layout: explicit ``n_writers`` wins;
    otherwise keep the input's own partitioning unless it exceeds
    ``_MAX_DEFAULT_STREAMS`` (repartition + log in that case — a
    failed load beats a saved shuffle)."""
    if n_writers:
        return lines.repartition(n_writers)
    n_parts = lines.rdd.getNumPartitions()
    if n_parts > _MAX_DEFAULT_STREAMS:
        import logging

        logging.getLogger("pgloader_spark.pg_live").warning(
            "COPY sink: input has %d partitions; capping to %d "
            "concurrent COPY streams (set n_writers / WITH workers to "
            "override)", n_parts, _MAX_DEFAULT_STREAMS,
        )
        return lines.repartition(_MAX_DEFAULT_STREAMS)
    return lines


def write_pg_copy(
    df: DataFrame,
    dsn: str,
    table: str,
    n_writers: int | None = None,
    settings: dict | None = None,
    reject_dir: str | None = None,
) -> int:
    """COPY FROM STDIN, one stream per partition; returns rows loaded.

    Without ``reject_dir`` each partition is one streaming COPY and the
    first row the server rejects fails the write.  With it, COPY runs
    per Arrow batch and a failed batch retries around its bad rows
    (``_copy_batch_isolating``), which are appended to
    ``<reject_dir>/<table>.dat`` with their errors in ``.log``.

    Three design rules make this the fast path:
    - The COPY text encode happens JVM-SIDE (``to_copy_lines`` — the
      same Column-expression escape chain the reject-file sink uses,
      so what its tests prove about encoding holds on the live wire).
    - Rows cross into Python as ARROW BATCHES (``mapInPandas``), and
      each batch becomes one CopyData chunk via a C-speed join.  The
      obvious ``foreachPartition`` alternative deserializes rows
      one-by-one and caps a stream at ~18k rows/s; Arrow batching
      runs the same wire at the server's own COPY speed (measured
      ~780k rows/s/stream at sf0.1).
    - ``n_writers`` decouples connection count from encode
      parallelism: the encode runs at the session's full width, then
      one shuffle of the finished lines feeds exactly ``n_writers``
      COPY streams (the reference's `workers` knob).  That shuffle is
      NOT free — r9 measured it costing more than stream-count
      contention saves on a local server (tools/profiles/
      pg_copy_sweep_r9.txt), so leave ``n_writers`` unset unless the
      target genuinely needs fewer connections than the input has
      partitions (e.g. a 1000-partition cluster job against one
      modest PostgreSQL).

    Without ``n_writers`` the input's own partitioning is used —
    capped at ``_MAX_DEFAULT_STREAMS`` (64): one COPY stream per task
    is fine at local/modest widths, but a 1000-partition cluster job
    would otherwise open 1000 connections into a server whose default
    ``max_connections`` is 100 and fail with "too many clients".  The
    cap repartitions (accepting the shuffle the local bench avoids)
    and logs; set ``n_writers`` explicitly to override in either
    direction.
    """
    import pandas as pd  # noqa: F401 — executor-side

    from pgloader_spark.sources.copytext import to_copy_lines

    columns = list(df.columns)
    # quote identifiers: unquoted names case-fold server-side, and a
    # projected "camelCase" column must hit the DDL's exact name
    stmt = (
        f"COPY {quote_qualified(table)} "
        f'({", ".join(chr(34) + c + chr(34) for c in columns)}) FROM STDIN'
    )
    lines = _cap_copy_streams(to_copy_lines(df), n_writers)

    isolate = reject_dir is not None

    def sink(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        it = iter(batches)
        first = next(it, None)
        if first is None or len(first) == 0:
            yield pd.DataFrame({"n": [0], "rejects": [[]], "errs": [[]]})
            return
        total = 0

        # the command's SET clause applies per COPY session like the
        # reference's per-connection GUCs — EXCEPT client_encoding:
        # that GUC describes the bytes on the wire, and ours are
        # always UTF-8 (the reference re-encodes its stream to the
        # declared encoding; we normalize to UTF-8 at read time)
        gucs = {
            k: v
            for k, v in (settings or {}).items()
            if k.lower() != "client_encoding"
        }
        gucs["client_encoding"] = "UTF8"

        if isolate:
            # per-batch COPY (the reference's own batching: one COPY
            # per ~25k-row batch, src/pg-copy/copy-rows-in-batch.lisp)
            # so a failed batch can retry with row isolation
            rej: list[str] = []
            errs: list[str] = []
            with PGConn(dsn) as conn:
                for k, v in gucs.items():
                    conn.query(f"SET {k} TO '{v}'")
                b = first
                while b is not None:
                    if len(b):
                        n, r = _copy_batch_isolating(
                            conn, stmt, list(b["line"])
                        )
                        total += n
                        for line, e in r:
                            rej.append(line)
                            errs.append(e)
                    b = next(it, None)
            yield pd.DataFrame({"n": [total], "rejects": [rej], "errs": [errs]})
            return

        def chunks():
            nonlocal total
            b = first
            while b is not None:
                if len(b):
                    total += len(b)
                    yield ("\n".join(b["line"]) + "\n").encode("utf-8")
                b = next(it, None)

        with PGConn(dsn) as conn:
            for k, v in gucs.items():
                conn.query(f"SET {k} TO '{v}'")
            conn.copy_in(stmt, chunks())
        yield pd.DataFrame({"n": [total], "rejects": [[]], "errs": [[]]})

    out = lines.mapInPandas(
        sink, "n long, rejects array<string>, errs array<string>"
    )
    # one result row per COPY stream, summed on the driver: an agg()
    # here would add an exchange stage to every COPY
    rows = out.collect()
    loaded = sum(r["n"] for r in rows)
    if not isolate:
        return loaded
    all_rej = [x for r in rows for x in (r["rejects"] or [])]
    all_errs = [x for r in rows for x in (r["errs"] or [])]
    if all_rej:
        os.makedirs(reject_dir, exist_ok=True)
        base = table.replace(".", "_")
        with open(os.path.join(reject_dir, f"{base}.dat"), "a") as fh:
            fh.write("\n".join(all_rej) + "\n")
        with open(os.path.join(reject_dir, f"{base}.log"), "a") as fh:
            fh.write("\n".join(all_errs) + "\n")
    return loaded


def file_load_sink(dsn: str, root_dir: str, on_error_stop: bool = False):
    """The COPY sink of a file ``LOAD`` into PostgreSQL: returns
    ``sink(df, table, cmd) -> rows loaded`` for
    ``ExecutionContext.sink``.  Per command it
    - creates the target from the frame's schema for sources that carry
      their own (DBF, IXF; ``ensure_pg_table``),
    - runs ``TRUNCATE`` under ``WITH truncate``,
    - aligns the frame to the live target (``align_to_target``, with
      the command's ``WITH date format``),
    - COPYs it with the command's ``SET`` clause on every session.

    Error policy, the reference's two (copy-from-queue.lisp:41-69):
    ``on_error_stop`` or ``WITH on error stop`` streams fail-fast; the
    default retries per batch around rejected rows and writes them to
    ``<root_dir>/<target db>/<table>.dat`` and ``.log``."""
    reject_dir = os.path.join(root_dir, _parse_dsn(dsn)["database"])

    def sink(df: DataFrame, table: str, cmd) -> int:
        if cmd.source_kind in ("dbf", "ixf"):
            ensure_pg_table(dsn, table, df.schema)
        if cmd.options.get("truncate"):
            with PGConn(dsn) as conn:
                conn.query(f"TRUNCATE {quote_qualified(table)}")
        df = align_to_target(
            df, dsn, table, date_format=cmd.options.get("date_format")
        )
        stop = on_error_stop or bool(cmd.options.get("on_error_stop"))
        return write_pg_copy(
            df, dsn, table, settings=cmd.gucs,
            reject_dir=None if stop else reject_dir,
        )

    return sink


def migrate_pg_to_parquet(
    spark: SparkSession, dsn: str, out_dir: str, engine: CastEngine | None = None
) -> dict[str, int]:
    """Whole-database migration: introspect, cast, read, write parquet."""
    counts: dict[str, int] = {}
    eng = engine or CastEngine(source_kind="pgsql")
    for table in introspect_pg(dsn):
        df = read_pg_table(spark, dsn, table, engine=eng)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
        counts[table] = spark.read.parquet(
            os.path.join(out_dir, f"{table}.parquet")
        ).count()
    return counts


def write_pg_upsert(
    df: DataFrame,
    dsn: str,
    table: str,
    key_cols: list[str],
    n_writers: int | None = None,
    update_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Idempotent merge load: COPY into a staging table at full COPY
    speed, then one server-side ``INSERT ... ON CONFLICT DO UPDATE``.

    The reference can only truncate-and-reload or append; re-running a
    load against a live target either duplicates rows or requires a
    full reload.  Upsert gives the third mode every recurring
    migration needs: re-runs converge (same input -> same target
    state).  The target must carry a unique constraint/index on
    ``key_cols`` (ON CONFLICT's arbiter).

    Scale shape: the distributed phase is exactly ``write_pg_copy``
    (Arrow-batched COPY streams into staging — no per-row Python, no
    extra shuffle); the merge is ONE set-based SQL statement executed
    by the server, where it belongs.  Returns (rows_staged,
    rows_merged).
    """
    staging = sibling_table(table, "__upsert_stage")
    q_target = quote_qualified(table)
    q_stage = quote_qualified(staging)
    with PGConn(dsn) as conn:
        conn.query(f"DROP TABLE IF EXISTS {q_stage}")
        conn.query(
            f"CREATE UNLOGGED TABLE {q_stage} "
            f"(LIKE {q_target} INCLUDING DEFAULTS)"
        )
    try:
        staged = write_pg_copy(df, dsn, staging, n_writers=n_writers)
        cols = list(df.columns)
        upd = update_cols if update_cols is not None else [
            c for c in cols if c not in key_cols
        ]
        collist = ", ".join(f'"{c}"' for c in cols)
        keylist = ", ".join(f'"{c}"' for c in key_cols)
        if upd:
            action = "DO UPDATE SET " + ", ".join(
                f'"{c}" = EXCLUDED."{c}"' for c in upd
            )
        else:
            action = "DO NOTHING"
        # Dedupe the staged batch on key_cols first: ON CONFLICT DO
        # UPDATE errors with "cannot affect row a second time" if the
        # same key appears twice in one INSERT.  Last physical row wins
        # (ctid order — matches the reference's replay-last semantics
        # closely enough for idempotent re-runs, and any batch that
        # cares about a specific winner should pre-aggregate anyway).
        dedup_src = (
            f"(SELECT {collist} FROM "
            f"(SELECT {collist}, ROW_NUMBER() OVER "
            f"(PARTITION BY {keylist} ORDER BY ctid DESC) AS __rn "
            f"FROM {q_stage}) d WHERE __rn = 1) s"
        )
        with PGConn(dsn) as conn:
            _, rows = conn.query(
                f"WITH m AS (INSERT INTO {q_target} ({collist}) "
                f"SELECT {collist} FROM {dedup_src} "
                f"ON CONFLICT ({keylist}) {action} RETURNING 1) "
                "SELECT COUNT(*) FROM m"
            )
            merged = int(rows[0][0])
        return staged, merged
    finally:
        with PGConn(dsn) as conn:
            conn.query(f"DROP TABLE IF EXISTS {q_stage}")


def apply_pg_cdc(
    df: DataFrame,
    dsn: str,
    table: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    n_writers: int | None = None,
    epoch_id: int | None = None,
    truncate_first: bool = False,
    truncate_restart_identity: bool = False,
) -> tuple[int, int, int]:
    """Apply a CDC batch (op column: I/U/D) in ONE server-side
    transaction: collapsed last-op-per-key semantics — deletes remove,
    inserts/updates upsert, and a key's earlier ops in the same batch
    are superseded by its last (ordered by ``seq_col`` — the LSN/event
    sequence — or stage order when absent).

    Completes the sink family: append (write_pg_copy) -> merge
    (write_pg_upsert) -> full change-stream application.  The
    distributed phase is exactly the Arrow COPY into staging; the
    apply is one DELETE + one INSERT..ON CONFLICT inside a single
    transaction, so a re-run of the same batch converges and a crash
    mid-apply leaves the target untouched.  Returns
    (rows_staged, rows_upserted, rows_deleted).

    ``epoch_id`` turns idempotent-by-convergence into EXACTLY-ONCE:
    the epoch id is inserted into ``<schema.>table__epochs`` inside
    the same transaction as the apply (streaming/pg_sink.py's
    guarantee, for change streams); an already-logged epoch returns
    (0, 0, 0) without touching the target.

    The stage and epoch log live in the TARGET's schema
    (``a.t`` -> ``a.t__cdc_stage``), and the whole stage lifecycle
    runs under a session advisory lock keyed on the stage name —
    concurrent applies to the same target queue instead of
    DROP/recreating each other's stage mid-flight.

    ``truncate_first`` empties the target INSIDE the apply
    transaction before the ops land — how pg_cdc's window splitting
    replays a source TRUNCATE (``truncate_restart_identity`` maps the
    stream's restart_seqs flag); transactional, so crash-safety and
    the epoch guarantee are unchanged.
    """
    staging = sibling_table(table, "__cdc_stage")
    log = quote_qualified(sibling_table(table, "__epochs"))
    q_target = quote_qualified(table)
    q_stage = quote_qualified(staging)
    data_cols = [c for c in df.columns if c not in (op_col, seq_col)]
    order_expr = f'"__seq" DESC' if seq_col else "ctid DESC"
    lock = PGConn(dsn)
    lock.query(
        "SELECT pg_advisory_lock(hashtext("
        f"'{staging.replace(chr(39), chr(39) * 2)}'))"
    )
    try:
        if epoch_id is not None:
            with PGConn(dsn) as conn:
                conn.query(
                    f"CREATE TABLE IF NOT EXISTS {log} "
                    "(epoch bigint PRIMARY KEY)"
                )
                _, seen = conn.query(
                    f"SELECT 1 FROM {log} WHERE epoch = {int(epoch_id)}"
                )
                if seen:
                    return 0, 0, 0
        with PGConn(dsn) as conn:
            conn.query(f"DROP TABLE IF EXISTS {q_stage}")
            conn.query(
                f"CREATE UNLOGGED TABLE {q_stage} "
                f"(LIKE {q_target} INCLUDING DEFAULTS)"
            )
            conn.query(f'ALTER TABLE {q_stage} ADD COLUMN "__op" text')
            if seq_col:
                conn.query(f'ALTER TABLE {q_stage} ADD COLUMN "__seq" bigint')
            # LIKE copies NOT NULL constraints, but DELETE events carry
            # only the key columns (REPLICA IDENTITY) — the stage must
            # accept nulls everywhere
            for c in data_cols:
                if c not in key_cols:
                    try:
                        conn.query(
                            f'ALTER TABLE {q_stage} ALTER COLUMN "{c}" '
                            "DROP NOT NULL"
                        )
                    except PGError:
                        pass
        from pyspark.sql import functions as F

        staged_df = df.select(
            *data_cols,
            F.upper(F.col(op_col).cast("string")).alias("__op"),
            *([F.col(seq_col).cast("long").alias("__seq")] if seq_col else []),
        )
        staged = write_pg_copy(staged_df, dsn, staging, n_writers=n_writers)
        collist = ", ".join(f'"{c}"' for c in data_cols)
        keylist = ", ".join(f'"{c}"' for c in key_cols)
        upd_cols = [c for c in data_cols if c not in key_cols]
        action = (
            "DO UPDATE SET "
            + ", ".join(f'"{c}" = EXCLUDED."{c}"' for c in upd_cols)
            if upd_cols
            else "DO NOTHING"
        )
        last = (
            f'(SELECT {collist}, "__op", ROW_NUMBER() OVER '
            f"(PARTITION BY {keylist} ORDER BY {order_expr}) AS __rn "
            f"FROM {q_stage})"
        )
        key_eq = " AND ".join(f't."{k}" = d."{k}"' for k in key_cols)
        with PGConn(dsn) as conn:
            conn.query("BEGIN")
            if truncate_first:
                # replayed source TRUNCATE (pg_cdc window splitting):
                # transactional in PostgreSQL, so a crash before COMMIT
                # leaves the target untouched and the epoch log keeps
                # the replay exactly-once like any other segment
                conn.query(
                    f"TRUNCATE {q_target}"
                    + (
                        " RESTART IDENTITY"
                        if truncate_restart_identity
                        else ""
                    )
                )
            _, drows = conn.query(
                f"WITH last AS {last}, del AS ("
                f"DELETE FROM {q_target} t USING "
                f"(SELECT {keylist} FROM last WHERE __rn = 1 "
                f"AND \"__op\" = 'D') d WHERE {key_eq} RETURNING 1) "
                "SELECT COUNT(*) FROM del"
            )
            _, urows = conn.query(
                f"WITH last AS {last}, ins AS ("
                f"INSERT INTO {q_target} ({collist}) "
                f"SELECT {collist} FROM last WHERE __rn = 1 "
                f"AND \"__op\" IN ('I', 'U') "
                f"ON CONFLICT ({keylist}) {action} RETURNING 1) "
                "SELECT COUNT(*) FROM ins"
            )
            if epoch_id is not None:
                conn.query(
                    f"INSERT INTO {log} (epoch) VALUES ({int(epoch_id)})"
                )
            conn.query("COMMIT")
        return staged, int(urows[0][0]), int(drows[0][0])
    finally:
        try:
            with PGConn(dsn) as conn:
                conn.query(f"DROP TABLE IF EXISTS {q_stage}")
        finally:
            try:
                lock.query("SELECT pg_advisory_unlock_all()")
            finally:
                lock.close()
