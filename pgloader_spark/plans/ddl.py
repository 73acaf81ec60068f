"""Target-side DDL completion: enum types, triggers, CHECK constraints
and comments.

Re-expresses the reference's remaining schema-emission paths:

- ENUM/SET -> ``CREATE TYPE ... AS ENUM``
  (``src/pgsql/pgsql-ddl.lisp:23-40``, registration at CAST time
  ``src/sources/mysql/mysql-cast-rules.lisp:260-305``, name conflict
  resolution ``src/pgsql/pgsql-create-schema.lisp:35-66``).  SET
  columns render as ``type[]`` arrays
  (``pgsql-ddl.lisp:110-123``) and load through the
  ``set-to-enum-array`` transform.
- on-update-current-timestamp -> BEFORE UPDATE trigger + plpgsql
  procedure pair (``src/pgsql/pgsql-trigger.lisp:8-76``,
  SQL shapes ``src/pgsql/pgsql-ddl.lisp:345-392``).
- CHECK constraints (``src/pgsql/pgsql-create-schema.lisp:396-414``).
- COMMENT ON table/column with dollar-quoting
  (``src/pgsql/pgsql-create-schema.lisp:596-636``).

Everything emits SQL text lists (the JDBC-runner contract used by
``plans/orchestrate.py``) so it is unit-testable without a live
PostgreSQL.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pgloader_spark.catalog import (
    Catalog,
    Column,
    Schema,
    Table,
    apply_identifier_case,
    quote_ident,
)

# --------------------------------------------------------------------------
# ENUM / SET types
# --------------------------------------------------------------------------


@dataclass
class SqlType:
    """A generated PostgreSQL type (catalog.lisp sqltype struct):
    ENUM and SET sources both become ``CREATE TYPE ... AS ENUM``;
    a SET column's type renders as ``name[]``."""

    name: str
    kind: str  # "enum" | "set"
    values: list[str] = field(default_factory=list)
    schema_name: str | None = None
    source_def: str | None = None  # e.g. "enum('a','b')" — dedup key

    def qualified_name(self) -> str:
        if self.schema_name:
            return f"{quote_ident(self.schema_name)}.{quote_ident(self.name)}"
        return quote_ident(self.name)

    def column_type_name(self) -> str:
        """ENUM columns use the type; SET columns an array of it
        (pgsql-ddl.lisp:110-123)."""
        base = self.qualified_name()
        return f"{base}[]" if self.kind == "set" else base

    def to_create_ddl(self) -> str:
        vals = ", ".join("'" + v.replace("'", "''") + "'" for v in self.values)
        return f"CREATE TYPE {self.qualified_name()} AS ENUM ({vals});"

    def to_drop_ddl(self) -> str:
        return f"DROP TYPE IF EXISTS {self.qualified_name()} CASCADE;"


def explode_mysql_enum(ctype: str) -> list[str]:
    """Parse ``enum('a','b','c')`` / ``set('x','y')`` source definitions
    into their value list, honoring '' escapes (the reference's
    ``explode-mysql-enum``, src/sources/mysql/mysql-cast-rules.lisp)."""
    m = re.search(r"\((.*)\)\s*$", ctype.strip(), re.S)
    if not m:
        return []
    body = m.group(1)
    values: list[str] = []
    cur: list[str] = []
    in_str = False
    i = 0
    while i < len(body):
        ch = body[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(body) and body[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
                    values.append("".join(cur))
                    cur = []
            elif ch == "\\" and i + 1 < len(body):
                cur.append(body[i + 1])
                i += 1
            else:
                cur.append(ch)
        elif ch == "'":
            in_str = True
        i += 1
    return values


def resolve_enum_type_name(base_name: str, taken: set[str]) -> str:
    """First non-conflicting candidate among ``base``, ``{stem}_enum``,
    ``enum_{stem}`` (pgsql-create-schema.lisp:48-66).  ``taken`` models
    what the reference reads from pg_type (every table also registers a
    composite type, so table names count)."""
    stem = base_name[:-2] if base_name.endswith("_t") else base_name
    for cand in (base_name, f"{stem}_enum", f"enum_{stem}"):
        if cand not in taken:
            return cand
    raise ValueError(
        f"could not find a non-conflicting type name for enum {base_name!r};"
        f" tried {base_name}, {stem}_enum, enum_{stem}"
    )


def register_sqltype(
    schema: Schema,
    base_name: str,
    kind: str,
    source_def: str,
    values: list[str],
) -> SqlType:
    """Register (or reuse) an enum/set type on ``schema``.

    Two columns with an identical source definition (e.g. a table and
    its materialized-view copy) map to ONE PostgreSQL type — the
    reference dedups on source-def (mysql-cast-rules.lisp:272-280).
    Name conflicts with tables or other types resolve via
    ``resolve_enum_type_name`` at registration time (the reference
    resolves against live pg_type at CREATE time; the catalog is our
    pg_type here).
    """
    for st in schema.sqltypes:
        if st.source_def == source_def:
            return st
    taken = {t.name for t in schema.tables} | {st.name for st in schema.sqltypes}
    name = resolve_enum_type_name(base_name, taken)
    st = SqlType(
        name=name,
        kind=kind,
        values=values,
        schema_name=schema.name if schema.name != "public" else None,
        source_def=source_def,
    )
    schema.sqltypes.append(st)
    return st


def create_sqltype_statements(
    catalog: Catalog, include_drop: bool = False
) -> list[str]:
    """DROP?+CREATE TYPE statements, emitted BEFORE any CREATE TABLE
    that references them (pgsql-create-schema.lisp:67-85)."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        for st in schema.sqltypes:
            if include_drop:
                stmts.append(st.to_drop_ddl())
            stmts.append(st.to_create_ddl())
    return stmts


def prepare_statements(catalog: Catalog, include_drop: bool = False) -> list[str]:
    """Prepare-phase DDL in dependency order: CREATE SCHEMA, then
    CREATE TYPE (enums precede the tables whose columns use them —
    ``prepare-pgsql-database``, migrate-database.lisp:116-150), then
    CREATE TABLE."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        if schema.name != "public":
            stmts.append(f"CREATE SCHEMA IF NOT EXISTS {quote_ident(schema.name)};")
        if include_drop:
            for t in schema.tables:
                stmts.append(t.to_drop_ddl(schema.name if schema.name != "public" else None))
    stmts += create_sqltype_statements(catalog, include_drop=include_drop)
    for schema in catalog.schemas:
        for t in schema.tables:
            stmts.append(
                t.to_create_ddl(schema.name if schema.name != "public" else None)
            )
    return stmts


# --------------------------------------------------------------------------
# Triggers (on-update-current-timestamp)
# --------------------------------------------------------------------------


@dataclass
class Procedure:
    """pgsql-trigger.lisp make-procedure."""

    name: str
    body: str
    schema_name: str = "public"
    returns: str = "trigger"
    language: str = "plpgsql"

    def to_create_ddl(self) -> str:
        # CREATE OR REPLACE FUNCTION shape, pgsql-ddl.lisp:369-383
        return (
            f"CREATE OR REPLACE FUNCTION {quote_ident(self.schema_name)}."
            f"{quote_ident(self.name)}()\n"
            f"  RETURNS {self.returns}\n"
            f"  LANGUAGE {self.language}\n"
            f"  AS\n$$\n{self.body}\n$$;"
        )

    def to_drop_ddl(self) -> str:
        return (
            f"DROP FUNCTION IF EXISTS {quote_ident(self.schema_name)}."
            f"{quote_ident(self.name)}() CASCADE;"
        )


@dataclass
class Trigger:
    """pgsql-trigger.lisp make-trigger."""

    name: str
    table_name: str
    action: str  # e.g. "BEFORE UPDATE"
    procedure: Procedure

    def to_create_ddl(self) -> str:
        # pgsql-ddl.lisp:347-355
        return (
            f"CREATE TRIGGER {quote_ident(self.name)} {self.action} "
            f"ON {quote_ident(self.table_name)} FOR EACH ROW EXECUTE PROCEDURE "
            f"{quote_ident(self.procedure.schema_name)}."
            f"{quote_ident(self.procedure.name)}();"
        )

    def to_drop_ddl(self) -> str:
        return (
            f"DROP TRIGGER IF EXISTS {quote_ident(self.name)} "
            f"ON {quote_ident(self.table_name)} CASCADE;"
        )


TRIGGER_ON_UPDATE_TS = "on_update_current_timestamp"


def _on_update_timestamp_procedure(
    schema_name: str, proc_name: str, columns: list[str]
) -> Procedure:
    """``NEW.col = now();`` per column — the reference's procedure
    body generator (pgsql-trigger.lisp:10-24)."""
    sets = "\n   ".join(f"NEW.{quote_ident(c)} = now();" for c in columns)
    body = f"BEGIN\n   {sets}\n   RETURN NEW;\nEND;"
    return Procedure(name=proc_name, body=body, schema_name=schema_name)


def process_triggers(table: Table, schema_name: str = "public") -> list[Trigger]:
    """Collect columns flagged ``extra['trigger']`` into one trigger per
    trigger kind (several on-update columns share a single trigger —
    pgsql-trigger.lisp:49-76)."""
    by_name: dict[str, list[str]] = {}
    for col in table.columns:
        tg = col.extra.get("trigger")
        if tg:
            by_name.setdefault(tg, []).append(col.name)
    out: list[Trigger] = []
    for tg_name, cols in by_name.items():
        if tg_name != TRIGGER_ON_UPDATE_TS:
            raise ValueError(f"unknown trigger kind: {tg_name!r}")
        proc_name = f"{tg_name}_{table.name}"
        proc = _on_update_timestamp_procedure(schema_name, proc_name, cols)
        out.append(
            Trigger(
                name=tg_name,
                table_name=table.name,
                action="BEFORE UPDATE",
                procedure=proc,
            )
        )
    return out


def create_trigger_statements(catalog: Catalog) -> list[str]:
    """Procedure-then-trigger pairs for every table (the procedure must
    exist before the trigger referencing it)."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        for t in schema.tables:
            for tg in process_triggers(t, schema.name):
                stmts.append(tg.procedure.to_create_ddl())
                stmts.append(tg.to_create_ddl())
    return stmts


# --------------------------------------------------------------------------
# DISABLE / ENABLE TRIGGER load wrapper
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# CHECK constraints
# --------------------------------------------------------------------------


def check_constraint_statements(catalog: Catalog) -> list[str]:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (...) per recorded
    constraint (pgsql-create-schema.lisp:399-414)."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        prefix = f"{quote_ident(schema.name)}." if schema.name != "public" else ""
        for t in schema.tables:
            for name, clause in t.check_constraints:
                stmts.append(
                    f"ALTER TABLE {prefix}{quote_ident(t.name)} "
                    f"ADD CONSTRAINT {quote_ident(name)} CHECK ({clause});"
                )
    return stmts


# --------------------------------------------------------------------------
# Comments
# --------------------------------------------------------------------------


def _dollar_tag(text: str) -> str:
    """A dollar-quote tag improbable in the comment text.  The reference
    draws one at random (pgsql-create-schema.lisp:600-615); we derive
    it from the text's md5 so output is deterministic for tests, and
    extend it in the (astronomically unlikely) containment case."""
    tag = "pgsl_" + hashlib.md5(text.encode("utf-8")).hexdigest()[:8]
    while f"${tag}$" in text:
        tag += "x"
    return tag


def comment_statements(catalog: Catalog) -> list[str]:
    """COMMENT ON TABLE / COMMENT ON COLUMN with dollar quoting
    (pgsql-create-schema.lisp:596-636)."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        prefix = f"{quote_ident(schema.name)}." if schema.name != "public" else ""
        for t in schema.tables:
            if t.comment:
                tag = _dollar_tag(t.comment)
                stmts.append(
                    f"COMMENT ON TABLE {prefix}{quote_ident(t.name)} "
                    f"IS ${tag}${t.comment}${tag}$;"
                )
            for c in t.columns:
                if c.comment:
                    tag = _dollar_tag(c.comment)
                    stmts.append(
                        f"COMMENT ON COLUMN {prefix}{quote_ident(t.name)}."
                        f"{quote_ident(c.name)} IS ${tag}${c.comment}${tag}$;"
                    )
    return stmts


# --------------------------------------------------------------------------
# Catalog building from cast results (the piece that wires ENUM
# registration and trigger flags into Table/Column structs)
# --------------------------------------------------------------------------


def table_from_fields(
    table_name: str,
    fields: list,
    engine,
    schema: Schema,
    case_mode: str = "downcase",
) -> Table:
    """Apply the cast engine to source fields and produce a target
    Table, registering enum/set SqlTypes on ``schema`` and flagging
    on-update-current-timestamp triggers (the reference does this
    during CAST — mysql-cast-rules.lisp:260-310).  ``case_mode``:
    downcase (default) | quote | snake_case — quoting.lisp:10-60 /
    the WITH snake_case identifiers option."""
    cols: list[Column] = []
    for f, res in engine.cast_fields(fields):
        extra: dict = {}
        if (
            f.extra
            and "on update current_timestamp" in str(f.extra).lower()
            and not res.drop_extra
        ):
            extra["trigger"] = TRIGGER_ON_UPDATE_TS
        if f.extra and "auto_increment" in str(f.extra).lower():
            extra["serial"] = True
        type_name = res.pg_type
        type_mod = res.type_mod
        if res.sqltype:
            source_def = f"{f.type_name}{f.type_mod or ''}"
            st = register_sqltype(
                schema,
                base_name=res.sqltype,
                kind=res.sqltype_kind or "enum",
                source_def=source_def,
                values=explode_mysql_enum(source_def),
            )
            type_name = st.column_type_name()
            type_mod = None
        cols.append(
            Column(
                name=apply_identifier_case(f.name, case_mode),
                type_name=type_name,
                type_mod=type_mod,
                nullable=f.nullable or res.drop_not_null,
                default=res.default,
                comment=getattr(f, "comment", None),
                transform=res.transform,
                spark_type=res.spark_type,
                extra=extra,
            )
        )
    table = Table(name=apply_identifier_case(table_name, case_mode), columns=cols)
    schema.tables.append(table)
    return table
