"""LoadCommand execution engine.

The Spark re-expression of pgloader's lifecycle (SURVEY §3.4): parsed
``LoadCommand`` -> source read (one distributed scan) -> projection
(one ``select`` of Column expressions) -> sink. The reference's
reader/writer thread kernels (``src/load/copy-data.lisp:61-156``) map
onto Spark's own task scheduling; its per-batch retry with reject
files lives in the COPY sink (``sources.pg_live.load_sink``).

Every ``LOAD`` — a file, each nested file of an archive, each table of
a database — lands through one sink (``ExecutionContext.sink``) in one
Spark pass that counts rows as it writes (``_land``).  ``sink_for``
picks it from the target: the COPY sink for ``postgresql://``, a
parquet lake for a directory.  Without a sink, ``execute`` returns the
cached DataFrame and ``execute_database`` picks one from its target.
"""

from __future__ import annotations

import contextlib
import logging
import os
import time
from dataclasses import dataclass

log = logging.getLogger(__name__)

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pgloader_spark.parsers.loadcmd import LoadCommand
from pgloader_spark.parsers.sexp import compile_using
# unused here; kept importable because perfbench/trace.py wraps it by name
from pgloader_spark.sinks.validate import load_with_isolation  # noqa: F401
from pgloader_spark.sources.copytext import CopyOptions, read_copy_text
from pgloader_spark.sources.csv import CsvOptions, read_csv, read_inline
from pgloader_spark.sources.db3 import read_dbf
from pgloader_spark.sources.files import PathSpec, expand_spec
from pgloader_spark.sources.fixed import FixedOptions, read_fixed, slice_fixed
from pgloader_spark.sources.ixf import read_ixf
from pgloader_spark.sources.jdbc import is_pg_uri, open_live_source


@dataclass
class LoadReport:
    """Per-table accounting, mirroring the reference's summary rows
    (src/utils/state.lisp:11-40): read / loaded / rejected counts."""

    table: str
    read: int = 0
    loaded: int = 0
    errors: int = 0
    result: DataFrame | None = None
    # where the load actually landed (qualified PG table or parquet
    # path) — recorded by the writer so verify load never re-derives it
    target_path: str | None = None
    # verify-load outcome: None = not verified (no WITH verify load,
    # schema-only, keyless table), True/False = checksum match result.
    # Programmatic callers need this — without on error stop a
    # mismatch is only logged, and logs aren't an API
    verified: bool | None = None
    # wall time of the load: the whole command for a single-table
    # LOAD, the table's read + COPY for a LOAD DATABASE table
    seconds: float = 0.0


@dataclass
class ExecutionContext:
    spark: SparkSession
    root_dir: str = "/tmp/pgloader_spark"
    sql_runner: object | None = None  # callable(sql) for BEFORE/AFTER LOAD DO
    # callable(df, table, cmd) that lands one table (sink_for: the COPY
    # sink, a parquet lake write); cmd is the command being landed, so
    # a LOAD ARCHIVE's nested WITH/SET options apply.  _land counts
    # rows DURING that action via an Observation — one distributed
    # pass, the way the reference counts while it COPYs
    # (src/pg-copy/copy-rows-in-batch.lisp) — instead of cache + count.
    sink: object | None = None


def _lake_path(dest: str, table: str, kind: str) -> str:
    """Where a parquet lake keeps TABLE: ``<dest>/<table>.parquet`` for
    a LOAD of many tables (DATABASE, ARCHIVE), ``<dest>`` itself for a
    one-table LOAD."""
    if kind in ("database", "archive"):
        return os.path.join(dest, f"{table}.parquet")
    return dest


def sink_for(target: str, kind: str, root_dir: str, on_error_stop: bool = False):
    """The sink a LOAD of KIND lands through, picked by its TARGET: the
    COPY sink (``pg_live.load_sink``) for a ``postgresql://`` URI, else
    a parquet lake in the TARGET directory."""
    if is_pg_uri(target):
        from pgloader_spark.sources.pg_live import load_sink

        return load_sink(target, root_dir, on_error_stop)

    def lake_sink(df: DataFrame, table: str, _cmd) -> None:
        df.write.mode("overwrite").parquet(_lake_path(target, table, kind))

    return lake_sink


def _land(sink, df: DataFrame, table: str, cmd, report: LoadReport) -> None:
    """Run SINK over DF, counting rows in the same Spark pass, and set
    REPORT's read/loaded/errors.  A counting sink (the COPY sink)
    returns what the server accepted; the rest of the rows seen are
    server-side rejects (fk-reject.load, overflow.load)."""
    from pyspark.sql import Observation

    obs = Observation()
    rows = df.observe(obs, F.count(F.lit(1)).alias("n"))
    ret = sink(rows, table, cmd)
    n_seen = int(obs.get["n"])
    report.loaded = ret if isinstance(ret, int) else n_seen
    report.errors = n_seen - report.loaded
    report.read = n_seen
    report.result = rows


def _csv_options(cmd: LoadCommand) -> CsvOptions:
    o = cmd.options
    fields = [f.name for f in cmd.fields]
    if not fields and cmd.columns:
        # FROM INLINE with no source field list: fields default to the
        # plain target columns, positionally (csv-newline.load,
        # csv-trim-extra-blanks.load name only the target list)
        fields = [
            c.source or c.name
            for c in cmd.columns
            if c.constant is None and not c.transform
        ]
    return CsvOptions(
        separator=o.get("separator", ","),
        quote=None if o.get("fields_not_enclosed") else o.get("quote", '"'),
        escape=o.get("escape"),
        header=bool(o.get("header", False)),
        skip_lines=int(o.get("skip_lines", 0)),
        null_as=o.get("null_as", ""),
        trim_both=bool(o.get("trim_both", False)),
        encoding=o.get("encoding", "UTF-8"),
        fields=fields,
        line_sep=o.get("line_sep"),
        keep_unquoted_blanks=bool(o.get("keep_unquoted_blanks", False)),
        escape_mode=(
            "following" if o.get("csv_escape_mode_following") else "quote"
        ),
    )


def _source_paths(cmd: LoadCommand) -> list[str]:
    if cmd.source_regex:
        kind = "first" if cmd.first_match_only else "matching"
        return expand_spec(PathSpec(kind, cmd.source_dir or ".", cmd.source_regex))
    src = cmd.source
    if src.startswith(("http://", "https://")):
        return expand_spec(PathSpec("http", src))
    # a relative filename resolves against the command file's own
    # directory first (the reference resolves INI/load-file paths
    # relative to the file that names them)
    if cmd.source_dir and not os.path.isabs(src):
        cand = os.path.join(cmd.source_dir, src)
        if os.path.exists(cand):
            return [cand]
    return [src]


def read_source(spark: SparkSession, cmd: LoadCommand) -> DataFrame:
    kind = cmd.source_kind
    if kind == "csv":
        opts = _csv_options(cmd)
        if cmd.source == "inline":
            if cmd.inline_data is None:
                raise ValueError("inline source with no inline data")
            return read_inline(spark, cmd.inline_data, opts)
        if cmd.source == "stdin":
            # FROM STDIN (csv-districts-stdin.load): drain the pipe to
            # a temp file, then the normal distributed file read —
            # stdin is one stream either way, but the parse stays
            # distributed and option-complete
            import sys
            import tempfile

            tmp = tempfile.NamedTemporaryFile(
                "w", suffix=".csv", delete=False
            )
            tmp.write(sys.stdin.read())
            tmp.close()
            return read_csv(spark, tmp.name, opts)
        paths = _source_paths(cmd)
        return read_csv(spark, ",".join(paths) if len(paths) == 1 else paths, opts)  # type: ignore[arg-type]
    if kind == "jsonl":
        # LOAD JSONL (beyond the reference): newline-delimited JSON,
        # the training-corpus interchange format.  With a declared
        # field list every named field reads as StringType (Spark's
        # JSON reader renders scalars as their literal text), matching
        # pgloader's rows-are-text model so null-if/trim/USING
        # transforms apply unchanged; without one, the schema is
        # inferred and columns pass through typed.
        paths = _source_paths(cmd)
        if cmd.fields:
            schema = ", ".join(f"`{f.name}` string" for f in cmd.fields)
            return spark.read.schema(schema).json(paths)
        return spark.read.json(paths)
    if kind == "json":
        # LOAD JSON: whole-document JSON (pretty-printed object or a
        # top-level array) — multiLine mode parses each FILE as one
        # value; a top-level array explodes to one row per element.
        # Line-delimited corpora keep the parallel "jsonl" kind: in
        # multiLine mode a file is one task, so use jsonl for anything
        # big enough to want intra-file split points.
        paths = _source_paths(cmd)
        reader = spark.read.option("multiLine", True)
        if cmd.fields:
            schema = ", ".join(f"`{f.name}` string" for f in cmd.fields)
            return reader.schema(schema).json(paths)
        return reader.json(paths)
    if kind == "parquet":
        # LOAD PARQUET (beyond the reference): columnar lake input —
        # pushdown/pruning come free; declared fields just select.
        paths = _source_paths(cmd)
        df = spark.read.parquet(*paths)
        if cmd.fields:
            return df.select(*[f.name for f in cmd.fields])
        return df
    if kind == "orc":
        # LOAD ORC (beyond the reference): the other columnar lake
        # format Spark reads natively — same pushdown/pruning story.
        paths = _source_paths(cmd)
        df = spark.read.orc(*paths)
        if cmd.fields:
            return df.select(*[f.name for f in cmd.fields])
        return df
    if kind == "fixed":
        if (
            not cmd.fixed_fields
            and cmd.options.get("fixed_header")
            and cmd.source != "inline"
        ):
            # WITH fixed header: guess the specs + names from the
            # header line (fixed-guess.load, fixed-guess.lisp:30-78)
            from pgloader_spark.sources.fixed import guess_fixed_specs

            fopts = guess_fixed_specs(spark, _source_paths(cmd)[0], header=True)
        else:
            fopts = FixedOptions(
                fields=cmd.fixed_fields,
                skip_lines=int(cmd.options.get("skip_lines", 0)),
            )
        if cmd.source == "inline":
            if cmd.inline_data is None:
                raise ValueError("inline source with no inline data")
            lines = [
                (ln,) for ln in cmd.inline_data.split("\n") if ln.strip("\r")
            ]
            return slice_fixed(
                spark.createDataFrame(lines, "value string"), fopts
            )
        return read_fixed(spark, _source_paths(cmd)[0], fopts)
    if kind == "copy":
        copts = CopyOptions(
            delimiter=cmd.options.get("separator", "\t"),
            null_as=cmd.options.get("null_as", "\\N"),
            fields=[f.name for f in cmd.fields],
            skip_lines=int(cmd.options.get("skip_lines", 0)),
        )
        if cmd.source == "inline":
            if cmd.inline_data is None:
                raise ValueError("inline source with no inline data")
            import tempfile

            tmp = tempfile.NamedTemporaryFile(
                "w", suffix=".copy", delete=False
            )
            tmp.write(cmd.inline_data)
            tmp.close()
            return read_copy_text(spark, tmp.name, copts)
        # `copy://relative/path` URIs (command-parser cli sugar)
        src = _source_paths(cmd)[0]
        if src.startswith("copy://"):
            src = src[len("copy://"):]
            if src.startswith("./"):
                src = src[2:]
            if src.startswith("//"):
                # a leading double slash reads as a Hadoop authority
                src = "/" + src.lstrip("/")
        return read_copy_text(spark, src, copts)
    if kind == "dbf":
        src = _source_paths(cmd)[0]
        if src.lower().endswith(".zip"):
            # LOAD DBF FROM http://...zip (dbf-zip.load): fetch is
            # already done by _source_paths; expand and take the
            # .dbf member
            from pgloader_spark.sources.files import expand_archive

            files = expand_archive(src)
            src = next(
                f for f in files if f.lower().endswith(".dbf")
            )
        return read_dbf(spark, src, encoding=cmd.options.get("encoding", "latin-1"))
    if kind == "ixf":
        return read_ixf(
            spark,
            _source_paths(cmd)[0],
            timezone=str(cmd.options.get("timezone", "UTC")),
        )
    raise ValueError(f"database sources need a JDBC url + live server: {kind}")


# PG type name -> (spark cast type or None to keep string)
_PG_TO_SPARK_CAST = {
    "smallint": "smallint", "int": "int", "integer": "int",
    "bigint": "bigint", "serial": "bigint", "bigserial": "bigint",
    "real": "float", "float": "double", "double": "double",
    "double precision": "double", "boolean": "boolean",
    "date": "date", "timestamptz": "timestamp", "timestamp": "timestamp",
    "numeric": "decimal(38,9)", "decimal": "decimal(38,9)",
}


def project(df: DataFrame, cmd: LoadCommand) -> DataFrame:
    """Field options + column list -> one select (project-fields), built
    as Spark SQL text; only ``USING`` transforms are Columns."""
    from pgloader_spark.operators.projection import (
        Projection,
        select_sql,
        sql_ident,
        sql_string,
    )

    if not cmd.columns:
        if cmd.fields and (cmd.source_kind == "csv" or cmd.source == "inline"):
            return Projection(fields=cmd.fields).apply(df)
        return df
    field_sql = {f.name: f.sql() for f in cmd.fields}
    field_cols: dict[str, Column] | None = None
    items: list[str | Column] = []
    for col in cmd.columns:
        cast = _PG_TO_SPARK_CAST.get((col.cast_to or "").split("(")[0].strip().lower())
        if col.transform:
            if field_cols is None:
                field_cols = {n: F.expr(t) for n, t in field_sql.items()}
            e = compile_using(col.transform, field_cols)
            if cast:
                e = e.try_cast(cast)
            items.append(e.alias(col.name))
            continue
        if col.constant is not None:
            # `USING "Some-Field"`: a double-quoted USING value that
            # names a declared FIELD is a field reference
            # (csv-non-printable.load); anything else is the constant
            # (udc.load's `using "constant value"`)
            t = field_sql.get(col.constant, sql_string(col.constant))
        else:
            name = col.source or col.name
            t = field_sql.get(name, sql_ident(name))
        if cast:
            t = f"TRY_CAST({t} AS {cast})"
        items.append(f"{t} AS {sql_ident(col.name)}")
    return select_sql(df, items)


def apply_column_casts(df: DataFrame, cmd: LoadCommand) -> DataFrame:
    """``CAST column t.c to <type> [using fn]`` on FILE loads —
    dbf-memo.load casts dnordoc.doctype through
    db3-numeric-to-pgsql-integer and normdocid through a lambda
    (command-cast-rules.lisp column rules).  Database sources apply
    these through the cast engine instead."""
    from pgloader_spark.parsers.sexp import compile_using

    lower = {c.lower(): c for c in df.columns}
    out = df
    for rule in cmd.cast_rules:
        if not rule.column or not rule.using:
            continue
        col = lower.get(rule.column[1].lower())
        if col is None:
            continue
        fields = {c: out[c] for c in out.columns}
        # lambda params and bare symbols resolve case-insensitively
        # (DBF headers are uppercase, the DSL writes lowercase)
        for c in out.columns:
            fields.setdefault(c.lower(), out[c])
        using = rule.using.strip()
        if not using.startswith("("):
            # bare transform name: apply to the column being cast
            fields["__cast_col__"] = out[col]
            using = f"({using} __cast_col__)"
        out = out.withColumn(col, compile_using(using, fields))
    return out


def execute_archive(ctx: ExecutionContext, cmd: LoadCommand) -> list[LoadReport]:
    """LOAD ARCHIVE: fetch/expand the archive, then run each nested
    command with its FILENAME MATCHING resolved against the extracted
    files; FINALLY DO statements run last
    (src/parsers/command-archive.lisp:20-64)."""
    from pgloader_spark.sources.files import expand_archive

    src = cmd.source
    if src.startswith(("http://", "https://")):
        from pgloader_spark.sources.files import fetch_http

        src = fetch_http(src)
    files = expand_archive(src)
    extract_dir = os.path.dirname(files[0]) if files else "."
    cmd.source_dir = cmd.source_dir or extract_dir

    _run_sql(ctx.sql_runner, cmd, "before")
    reports = []
    for nested in cmd.nested:
        nested.source_dir = nested.source_dir or extract_dir
        reports.append(execute(ctx, nested))
    _run_sql(ctx.sql_runner, cmd, "after")
    return reports


def _user_rules(cmd: LoadCommand):
    from pgloader_spark.parsers.loadcmd import compile_cast_rules

    return compile_cast_rules(cmd.cast_rules) if cmd.cast_rules else []


def _match_filters(name: str, including: list[str], excluding: list[str]) -> bool:
    import re as _re

    if including and not any(_re.search(p, name) for p in including):
        return False
    return not any(_re.search(p, name) for p in excluding)


def read_sql_statements(path: str) -> list[str]:
    """Split a SQL script into statements on top-level semicolons,
    honoring $$-quoted bodies, single quotes, and line comments —
    enough for the reference's BEFORE/AFTER LOAD EXECUTE scripts
    (test/geolite.sql carries a $$-quoted CREATE FUNCTION)."""
    text = open(path, encoding="utf-8").read()
    stmts, buf = [], []
    i, n = 0, len(text)
    in_sq = in_dollar = False
    while i < n:
        ch = text[i]
        if in_dollar:
            buf.append(ch)
            if text.startswith("$$", i):
                buf.append("$")
                i += 2
                in_dollar = False
                continue
            i += 1
            continue
        if in_sq:
            buf.append(ch)
            if ch == "'":
                in_sq = False
            i += 1
            continue
        if text.startswith("--", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("$$", i):
            buf.append("$$")
            i += 2
            in_dollar = True
            continue
        if ch == "'":
            in_sq = True
            buf.append(ch)
            i += 1
            continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                stmts.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        stmts.append(tail)
    return stmts


def _resolve_script(path: str, cmd: LoadCommand) -> str:
    if os.path.isabs(path):
        return path
    base = cmd.source_dir or "."
    cand = os.path.join(base, path)
    return cand if os.path.exists(cand) else path


def _run_sql(run, cmd: LoadCommand, phase: str) -> None:
    """The command's BEFORE (PHASE "before") or AFTER LOAD statements
    through RUN, a callable(sql); nothing without one.  Before the
    load: EXECUTE files, then DO; after it: DO (an archive's FINALLY
    DO), then EXECUTE files."""
    if run is None:
        return

    def scripts(paths: list[str]) -> list[str]:
        return [
            stmt
            for path in paths
            for stmt in read_sql_statements(_resolve_script(path, cmd))
        ]

    if phase == "before":
        stmts = [*scripts(cmd.execute_files), *cmd.before_load]
    else:
        stmts = [
            *cmd.after_load, *cmd.finally_do, *scripts(cmd.after_execute_files)
        ]
    for stmt in stmts:
        run(stmt)


@contextlib.contextmanager
def _indexes_dropped(dsn: str, tables: list[str], root_dir: str):
    """WITH drop indexes / reindex, the reference's kernel for fast
    loads into existing tables: drop every index of TABLES, run the
    block's load, then rebuild them whether the load succeeded or not.
    Each table's rebuild DDL is written to ``<root_dir>/pgloader/
    <table>.rebuild.sql`` before the load runs, so a crash before the
    rebuild leaves it on disk instead of a target silently stripped of
    its keys; a finished rebuild removes the file."""
    from pgloader_spark.plans.orchestrate import run_post_load
    from pgloader_spark.sources.pg_live import capture_and_drop_indexes
    from pgloader_spark.sources.pgwire import PGError

    rebuilds: list[tuple[list[str], str]] = []
    try:
        for table in tables:
            try:
                stmts = capture_and_drop_indexes(dsn, table)
            except PGError as exc:  # the table may not exist yet
                log.warning("drop indexes: %s: %s", table, exc)
                continue
            if not stmts:
                continue
            rdir = os.path.join(root_dir, "pgloader")
            os.makedirs(rdir, exist_ok=True)
            path = os.path.join(rdir, f"{table.replace('.', '_')}.rebuild.sql")
            with open(path, "w") as fh:
                fh.write("\n".join(stmts) + "\n")
            rebuilds.append((stmts, path))
        yield
    finally:
        for stmts, path in rebuilds:
            # duplicate-tolerant (run_post_load skips existing objects),
            # so a partial load never leaves the target without keys
            errors: list[str] = []
            run_post_load(dsn, stmts, errors=errors)
            for err in errors:
                log.warning("index rebuild: %s", err)
            with contextlib.suppress(OSError):
                os.unlink(path)


def _apply_cast_transforms(df, fields, engine) -> "DataFrame":
    """USING transforms attached by cast rules, applied to the data of
    a LOAD DATABASE migration (the reference runs each cast's
    transform function over the source values in the COPY pipeline —
    src/sources/common/methods.lisp map-rows + casting transforms).

    The scan delivered source-native values for transform-carrying
    columns (``CastEngine.read_spark_type``); here each transform runs
    as a Column expression and the result is cast to the target Spark
    type — e.g. my.load's ``column base64.data to jsonb using
    base64-decode`` or ``... using byte-vector-to-hexstring``."""
    from pgloader_spark.parsers.sexp import compile_using

    for f, res in engine.cast_fields(fields):
        if not (res.transform and res.from_user) or f.name not in df.columns:
            continue
        env = {c: df[c] for c in df.columns}
        for c in df.columns:
            env.setdefault(c.lower(), df[c])
        using = res.transform.strip()
        if not using.startswith("("):
            env["__cast_col__"] = df[f.name]
            using = f"({using} __cast_col__)"
        df = df.withColumn(
            f.name, compile_using(using, env).cast(res.spark_type)
        )
    return df


def execute_database(ctx: ExecutionContext, cmd: LoadCommand) -> list[LoadReport]:
    """Live ``LOAD DATABASE`` — the reference's flagship lifecycle
    (migrate-database.lisp:116-150 / mysql.lisp:100-131): introspect
    the source catalog, apply cast rules, CREATE the target tables,
    then stream every table, largest first, through a partitioned read
    into the same sink a file LOAD lands through (``ctx.sink``, else
    ``sink_for`` the target: COPY, or a parquet lake for a directory).

    The source is a ``sources.jdbc.LiveSource`` record picked by the
    URI scheme (``LIVE_SCHEMES``): ``sqlite://`` (stdlib sqlite3),
    ``postgresql://`` (stdlib wire client, sources/pgwire.py),
    ``mysql://`` (sources/mywire.py) and ``mssql://`` (TDS 7.1,
    sources/tdswire.py).  Everything dialect-specific — reads, source
    DDL, view listing, quoting, the target schema, catalog extras —
    lives in the record; this function only orders the lifecycle.
    """
    from pgloader_spark.casting import CastEngine
    from pgloader_spark.catalog import Catalog, Schema, copy_ordering
    from pgloader_spark.plans.ddl import prepare_statements, table_from_fields

    src = cmd.source
    live = open_live_source(src, cmd.options)
    engine = CastEngine(live.kind, user_rules=_user_rules(cmd))

    catalog_fields = {
        t: f
        for t, f in live.introspect().items()
        if _match_filters(t, cmd.including, cmd.excluding)
    }

    # MATERIALIZE [ALL] VIEWS — the reference stages views on the
    # SOURCE, migrates them like tables, drops them after
    # (src/sources/common/matviews.lisp:14-85).  The distributed
    # reader wants ctid/rowid/pk ranges, so we materialize each view
    # to a source TABLE under a ``_mat_`` staging name (a view and a
    # table cannot share a name) and rename back on the target; same
    # lifecycle, same result.  Matviews bypass including/excluding
    # (the user named them).
    mv_opt = cmd.options.get("materialize_views")
    mv_pairs: list[tuple[str, str | None]] = []
    if mv_opt is True:  # MATERIALIZE ALL VIEWS (matviews.lisp:62-85)
        mv_pairs = [(r[0], None) for r in live.run([live.views_sql])]
    elif isinstance(mv_opt, list):
        mv_pairs = mv_opt
    mv_staging: dict[str, str] = {}  # staging name on source -> target name
    if mv_pairs:
        stmts = []
        for vname, vsql in mv_pairs:
            staging = f"_mat_{vname}"
            body = (
                vsql.rstrip().rstrip(";")
                if vsql
                else f"SELECT * FROM {live.quote(vname)}"
            )
            stmts.append(f"DROP TABLE IF EXISTS {live.quote(staging)}")
            stmts.append(f"CREATE TABLE {live.quote(staging)} AS {body}")
            mv_staging[staging] = vname
        live.run(stmts)
        fresh = live.introspect()
        for staging in mv_staging:
            catalog_fields[staging] = fresh[staging]

    # The catalog lands in the source's target schema: a MySQL
    # database maps to a schema of the same name (sakila.load then
    # renames it with ALTER SCHEMA), other sources to public.
    cat = Catalog(src.split(":", 1)[0])
    sch = Schema(live.schema)
    cat.schemas.append(sch)
    # the catalog applies identifier folding (downcase by default; WITH
    # quote identifiers / snake_case identifiers switch the mode); the
    # DATA path must address the folded names the DDL actually created
    case_mode = "downcase"
    if cmd.options.get("quote_identifiers"):
        case_mode = "quote"
    elif cmd.options.get("snake_case_identifiers"):
        case_mode = "snake_case"
    tables = {}
    for t, fields in catalog_fields.items():
        tbl = table_from_fields(
            mv_staging.get(t, t), fields, engine, sch, case_mode=case_mode
        )
        tbl.source_name = t
        tables[t] = tbl

    # ALTER TABLE / ALTER SCHEMA rules applied to the catalog before
    # any DDL or data movement (plans/alter_rules.py;
    # alter-table.lisp:10-158): renames, SET SCHEMA moves, storage
    # parameters, then schema renames.
    from pgloader_spark.plans.alter_rules import (
        AlterRule,
        apply_schema_rules,
        apply_table_rules,
    )

    t_rules, s_rules = [], []
    for d in cmd.alter_rules:
        rule = AlterRule(
            kind=d["kind"],
            match=d["match"],
            is_regex=d.get("is_regex", False),
            value=d.get("value"),
        )
        (t_rules if d.get("scope") == "table" else s_rules).append(rule)
    apply_table_rules(cat, t_rules)
    apply_schema_rules(cat, s_rules)
    # fail fast BEFORE any DDL or data movement when folded/truncated
    # identifiers collide (issue #353 regress, sqlite-collision.load:
    # no table may be created, no row copied)
    cat.check_identifier_collisions()

    # PKs / secondary indexes / foreign keys from the source catalog
    # (reference list-all-indexes / list-all-fkeys per source) attach
    # to the target tables so the complete phase can emit them.
    from pgloader_spark.catalog import FKey, Index, apply_identifier_case
    from pgloader_spark.parsers.index_filters import (
        IndexFilterError,
        translate_index_filter,
    )

    def _fold(name: str) -> str:
        return apply_identifier_case(name, case_mode)

    try:
        src_keys = live.keys()
    except Exception:  # noqa: BLE001 — keys are best-effort extras
        src_keys = {}
    for t, tbl in tables.items():
        k = src_keys.get(t) or {}
        if k.get("pk"):
            tbl.indexes.append(
                Index(
                    name=_fold(f"{tbl.name}_pkey"),
                    table_name=tbl.name,
                    columns=[_fold(c) for c in k["pk"]],
                    unique=True,
                    primary=True,
                )
            )
        for iname, icols, uniq in k.get("indexes", []):
            # a filtered index keeps its WHERE, in PG syntax
            # (mssql-index-filters.lisp:9-185)
            where = k.get("filters", {}).get(iname)
            try:
                condition = (
                    translate_index_filter(where, _fold) if where else None
                )
            except IndexFilterError as exc:
                log.warning("index %s.%s skipped: %s", t, iname, exc)
                continue
            # uniquify index names, the reference's default (WITH
            # preserve index names keeps the source spelling)
            target_name = (
                _fold(iname)
                if cmd.options.get("preserve_index_names")
                else _fold(f"idx_{tbl.name}_{iname}")
            )
            tbl.indexes.append(
                Index(
                    name=target_name,
                    table_name=tbl.name,
                    columns=[_fold(c) for c in icols],
                    unique=uniq,
                    condition=condition,
                )
            )
        for fcols, ftable, ffcols, on_update, on_delete in k.get("fkeys", []):
            ft = tables.get(ftable)
            if ft is None:
                continue  # referenced table excluded from the migration
            # sqlite's foreign_key_list leaves the referenced column
            # NULL when the FK targets the PK implicitly
            resolved = [
                c if c is not None else pk_c
                for c, pk_c in zip(
                    ffcols,
                    (src_keys.get(ftable) or {}).get("pk", [None] * len(ffcols)),
                )
            ]
            if any(c is None for c in resolved):
                continue
            tbl.fkeys.append(
                FKey(
                    name=_fold(f"fk_{tbl.name}_{'_'.join(fcols)}"),
                    table_name=tbl.name,
                    columns=[_fold(c) for c in fcols],
                    foreign_table=ft.name,
                    foreign_columns=[_fold(c) for c in resolved],
                    on_delete=on_delete,
                    on_update=on_update,
                )
            )

    def _schema_of(tbl) -> str | None:
        for s in cat.schemas:
            if tbl in s.tables:
                return s.name if s.name != "public" else None
        return None

    def _qualified(tbl) -> str:
        """schema.table (unquoted — write_pg_copy/quote_qualified
        quote each part)."""
        s = _schema_of(tbl)
        return f"{s}.{tbl.name}" if s else tbl.name

    # a LOAD DATABASE without a target lands in a lake under root_dir
    target = cmd.target or ctx.root_dir
    pg_target = is_pg_uri(target)
    sink = ctx.sink or sink_for(target, cmd.source_kind, ctx.root_dir)
    if pg_target:
        from pgloader_spark.sources.pg_live import pg_session

        # the SET clause on the DDL and hook session as on the COPY
        # sessions, so both resolve unqualified names alike
        with pg_session(target, cmd.gucs) as conn:
            # BEFORE LOAD runs before schema creation (command-*.lisp:
            # the sql-code-block precedes copy-database) — db789.load
            # creates its target tables there under `create no tables`
            _run_sql(conn.query, cmd, "before")
            # WITH data only / create no tables skip DDL
            # (prepare-pgsql-database, migrate-database.lisp:30-120)
            if not (
                cmd.options.get("data_only")
                or cmd.options.get("create_no_tables")
            ):
                # WITH drop schema: drop the whole target schema(s)
                # CASCADE before recreating (docs/ref/mysql.rst; the
                # default only drops the tables via include_drop)
                if cmd.options.get("drop_schema"):
                    for s in cat.schemas:
                        if s.name != "public":
                            conn.query(
                                f'DROP SCHEMA IF EXISTS "{s.name}" CASCADE'
                            )
                # WITH include no drop (docs/ref/mysql.rst: "will not
                # include any DROP statement"); the migration default
                # is include drop
                for stmt in prepare_statements(
                    cat,
                    include_drop=not cmd.options.get("include_no_drop"),
                ):
                    conn.query(stmt)

    # catalog extras (MySQL: CHECKs, comments, row-count estimates;
    # PostgreSQL: comments, CHECKs) ride the complete phase
    if live.extras is not None:
        try:
            live.extras(cat)
        except Exception as exc:  # noqa: BLE001 — extras are best-effort
            log.warning("%s extras introspection failed: %s", live.kind, exc)

    # WITH drop indexes (or its spelling WITH reindex): for loads into
    # pre-existing tables (data only / create no tables), drop every
    # target index first and rebuild after the COPYs, failed or not —
    # bulk-load-then-index beats maintaining btrees row by row
    drop_indexes = pg_target and (
        cmd.options.get("drop_indexes") or cmd.options.get("reindex")
    )
    reports: list[LoadReport] = []
    schema_only = bool(cmd.options.get("schema_only"))
    with _indexes_dropped(
        target,
        [_qualified(tbl) for tbl in tables.values()] if drop_indexes else [],
        ctx.root_dir,
    ):
        # largest first when the source estimates row counts
        # (optimize-table-copy-ordering, migrate-database.lisp:304-320);
        # the sort is stable, so other sources keep catalog order
        for tbl in copy_ordering(list(tables.values())):
            rep = LoadReport(table=tbl.name)
            reports.append(rep)
            if schema_only:
                continue
            t0 = time.perf_counter()
            t = tbl.source_name
            df = live.read(ctx.spark, t, engine, catalog_fields[t])
            df = _apply_cast_transforms(df, catalog_fields[t], engine)
            df = df.toDF(*[c.name for c in tbl.columns])
            # the sink's table: schema-qualified in PostgreSQL, the
            # bare name in a lake
            name = _qualified(tbl) if pg_target else tbl.name
            _land(sink, df, name, cmd, rep)
            rep.target_path = (
                name if pg_target else _lake_path(target, name, cmd.source_kind)
            )
            rep.seconds = time.perf_counter() - t0

    # complete phase (complete-pgsql-database): PK promotion ->
    # indexes -> FKs -> sequence resets -> CHECKs -> triggers ->
    # comments, with reconnect-and-resume on connection loss.  Skipped
    # under WITH data only (no DDL at all) — schema_only still builds
    # the keys, like the reference.
    if (
        pg_target
        and not cmd.options.get("data_only")
        and not cmd.options.get("create_no_tables")
    ):
        from pgloader_spark.plans.orchestrate import (
            plain_index_statements,
            post_load_statements,
            run_parallel_indexes,
            run_post_load,
        )

        create_indexes = not cmd.options.get("create_no_indexes")
        post_errors: list[str] = []
        if create_indexes:
            # secondary indexes build on N concurrent connections
            # (idx-kernel; WITH max parallel create index = N, default
            # = the max index count of any one table)
            idx_stmts = plain_index_statements(cat)
            n_par = int(cmd.options.get("max_parallel_create_index", 0)) or (
                max(
                    (sum(1 for i in t.indexes if not i.primary)
                     for t in tables.values()),
                    default=0,
                )
            )
            run_parallel_indexes(
                target, idx_stmts, workers=n_par, errors=post_errors
            )
        post = post_load_statements(
            cat,
            create_indexes=create_indexes,
            foreign_keys=not cmd.options.get("no_foreign_keys"),
            reset_sequences=not (
                cmd.options.get("reset_no_sequences")
                or cmd.options.get("schema_only")
            ),
        )
        if post:
            run_post_load(target, post, errors=post_errors)
        for err in post_errors:
            log.warning("post-load: %s", err)

    if pg_target and (cmd.after_load or cmd.after_execute_files):
        with pg_session(target, cmd.gucs) as conn:
            _run_sql(conn.query, cmd, "after")

    # WITH verify load (extension beyond the reference): re-read every
    # loaded table from the target through the distributed ctid-range
    # reader and compare (count, distinct keys, portable checksum)
    # against the source frame — content-addressed completeness proof,
    # not just same-side row counting.  Mismatches log per table and
    # raise under WITH on error stop.
    verify_failed: list[str] = []
    if cmd.options.get("verify_load") and not schema_only:
        from pgloader_spark.plans.verify_load import (
            pk_columns,
            verify_migration,
            verify_parquet_lake,
        )

        items = []
        verify_reps: dict[str, "LoadReport"] = {}
        for rep in reports:
            tbl = tables.get(rep.table) or next(
                (t for t in tables.values() if t.name == rep.table), None
            )
            if tbl is None or rep.result is None or rep.target_path is None:
                continue
            keys = pk_columns(tbl)
            if not keys:
                log.warning("verify load: %s has no PK/unique key, skipped", rep.table)
                continue
            # label/key by target_path (the qualified schema.table for
            # PG targets, the lake path for parquet) — keying by the
            # bare tbl.name silently collapsed same-named tables from
            # different schemas into one verify slot (r8 advice)
            items.append((rep.result, rep.target_path, keys, rep.target_path))
            verify_reps[rep.target_path] = rep
        if items:
            if pg_target:
                vrows = verify_migration(ctx.spark, target, items).collect()
            else:
                vrows = verify_parquet_lake(ctx.spark, items).collect()
            for v in vrows:
                rep = verify_reps.get(v.table_name)
                if rep is not None:
                    rep.verified = bool(v.match)
                if v.match:
                    log.info(
                        "verify load: %s OK (%d rows, checksum %d)",
                        v.table_name, v.src_rows, v.src_checksum,
                    )
                else:
                    log.error(
                        "verify load: %s MISMATCH src(rows=%d keys=%d sum=%d) "
                        "tgt(rows=%d keys=%d sum=%d)",
                        v.table_name, v.src_rows, v.src_keys, v.src_checksum,
                        v.tgt_rows, v.tgt_keys, v.tgt_checksum,
                    )
            verify_failed = [v.table_name for v in vrows if not v.match]

    # drop the materialized-view staging tables on the source, like
    # the reference drops its views once migrated — BEFORE any
    # verification raise, or a failed verify would leak staging
    # objects onto the source
    if mv_staging:
        live.run(
            [
                f"DROP TABLE IF EXISTS {live.quote(staging)}"
                for staging in mv_staging
            ]
        )
    if verify_failed and cmd.options.get("on_error_stop"):
        raise RuntimeError(
            f"verify load failed for tables: {', '.join(verify_failed)}"
        )
    return reports


def _target_table_name(cmd: LoadCommand) -> str:
    """Target table from the command or the URI query part.

    The reference accepts ``?tname``, ``?tablename=tname``,
    ``?"Quoted"`` and ``?schema."Quoted"`` (command-db-uri.lisp
    pgsql-connection-string) — quotes select exact case and are not
    part of the name.
    """
    import re

    t = cmd.target_table
    if not t:
        t = (cmd.target or "result").rsplit("?", 1)[-1]
        if t.startswith("tablename="):
            t = t.split("=", 1)[1]
    parts = [
        p[1:-1] if p.startswith('"') and p.endswith('"') and len(p) > 1 else p
        for p in re.findall(r'"[^"]*"|[^.]+', t)
    ]
    return ".".join(parts)


def execute(ctx: ExecutionContext, cmd: LoadCommand) -> LoadReport:
    """parse result -> report. BEFORE/AFTER LOAD DO statements run
    through ctx.sql_runner when provided (JDBC in production; DuckDB
    or a recorder in tests)."""
    t0 = time.perf_counter()
    spark = ctx.spark
    table = _target_table_name(cmd)
    report = LoadReport(table=table)

    if cmd.options.get("verify_load"):
        # key-checksum verification needs introspected PKs, which only
        # LOAD DATABASE migrations have — be loud, not silent
        log.warning(
            "verify load applies to LOAD DATABASE migrations; ignored "
            "for single-table loads (no introspected primary key)"
        )

    _run_sql(ctx.sql_runner, cmd, "before")
    df = read_source(spark, cmd)
    projected = project(df, cmd)
    if cmd.cast_rules:
        projected = apply_column_casts(projected, cmd)

    # WITH drop indexes: drop before the sink's load, rebuild after.
    # Without a sink nothing lands here, so nothing drops.
    tgt_dsn = cmd.target or ""
    drop_indexes = (
        ctx.sink is not None
        and (cmd.options.get("drop_indexes") or cmd.options.get("reindex"))
        and is_pg_uri(tgt_dsn)
    )
    with _indexes_dropped(tgt_dsn, [table] if drop_indexes else [], ctx.root_dir):
        if ctx.sink is not None:
            _land(ctx.sink, projected, table, cmd, report)
        else:
            report.result = projected.cache()
            report.read = report.loaded = report.result.count()

    _run_sql(ctx.sql_runner, cmd, "after")
    report.seconds = time.perf_counter() - t0
    return report
