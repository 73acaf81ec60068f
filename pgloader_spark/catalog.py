"""Catalog model: Catalog / Schema / Table / Column / Index / FKey.

Re-expresses the reference's catalog structs
(pgloader ``src/utils/catalog.lisp:45-114``) as Python dataclasses
that render both ways:

- ``Table.spark_schema()`` -> a ``StructType`` for ``spark.read`` /
  ``createDataFrame`` (the executor-side contract), and
- ``format_create_sql`` / ``format_drop_sql`` -> PostgreSQL DDL text
  (the JDBC-side contract, pgloader ``src/pgsql/pgsql-ddl.lisp``).

Identifier handling (case folding, quoting, reserved words, 63-byte
truncation with collision detection) follows
``src/utils/quoting.lisp:10-102`` and ``src/utils/catalog.lisp:402-430``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

# The PG reserved words pgloader quotes (src/utils/quoting.lisp) —
# abbreviated to the common collisions; any non-identifier character
# also forces quoting.
RESERVED = {
    "all", "analyse", "analyze", "and", "any", "array", "as", "asc",
    "both", "case", "cast", "check", "collate", "column", "constraint",
    "create", "current_date", "current_time", "current_timestamp",
    "default", "desc", "distinct", "do", "else", "end", "except",
    "false", "for", "foreign", "from", "grant", "group", "having",
    "in", "initially", "intersect", "into", "leading", "limit",
    "localtime", "localtimestamp", "new", "not", "null", "off",
    "offset", "old", "on", "only", "or", "order", "primary",
    "references", "select", "session_user", "some", "table", "then",
    "to", "trailing", "true", "union", "unique", "user", "using",
    "when", "where", "window", "with",
}

PG_NAMEDATALEN = 63  # bytes, PostgreSQL identifier limit


def apply_identifier_case(name: str, mode: str = "downcase") -> str:
    """downcase | quote (preserve) | snake_case — quoting.lisp:10-60."""
    if mode == "downcase":
        return name.lower()
    if mode == "quote":
        return name
    if mode == "snake_case":
        s = re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", name)
        s = re.sub(r"[^\w]", "_", s)
        return s.lower()
    raise ValueError(f"unknown identifier case mode: {mode!r}")


def quote_ident(name: str) -> str:
    """Double-quote when reserved or not a clean lowercase identifier."""
    if name.lower() in RESERVED or not re.fullmatch(r"[a-z_][a-z0-9_$]*", name):
        return '"' + name.replace('"', '""') + '"'
    return name


def truncate_identifier(name: str) -> str:
    """PG silently truncates identifiers to 63 bytes; do it eagerly so
    collisions are detectable up front (catalog.lisp:402-430)."""
    b = name.encode("utf-8")
    if len(b) <= PG_NAMEDATALEN:
        return name
    return b[:PG_NAMEDATALEN].decode("utf-8", errors="ignore")


class IdentifierCollision(ValueError):
    """Two source identifiers truncate/fold to the same target name."""


def check_collisions(names: list[str]) -> dict[str, str]:
    """Map source -> target identifier; raise with a full report when
    two sources land on the same target (migrate-database.lisp:266-284)."""
    out: dict[str, str] = {}
    rev: dict[str, list[str]] = {}
    for n in names:
        t = truncate_identifier(n)
        out[n] = t
        rev.setdefault(t, []).append(n)
    dups = {t: srcs for t, srcs in rev.items() if len(srcs) > 1}
    if dups:
        report = "; ".join(f"{t!r} <- {srcs}" for t, srcs in dups.items())
        raise IdentifierCollision(f"identifier collisions after truncation: {report}")
    return out


# --------------------------------------------------------------------------
# Structs
# --------------------------------------------------------------------------


@dataclass
class Column:
    """Target column (catalog.lisp:85-86): name, PG type, typemod,
    nullability, default, comment, attached transform, Spark type."""

    name: str
    type_name: str = "text"
    type_mod: str | None = None  # e.g. "(10,2)" or "(255)"
    nullable: bool = True
    default: str | None = None
    comment: str | None = None
    transform: object | None = None  # Callable[[SparkColumn], SparkColumn]
    spark_type: T.DataType = field(default_factory=T.StringType)
    extra: dict = field(default_factory=dict)

    def ddl_type(self) -> str:
        return self.type_name + (self.type_mod or "")

    def to_ddl(self) -> str:
        parts = [quote_ident(self.name), self.ddl_type()]
        if not self.nullable:
            parts.append("NOT NULL")
        default = self.default
        if default is not None and self.type_name.startswith("timestamp"):
            # a bare numeric default on a timestamp column (sqlite
            # DATETIME DEFAULT 0) is the zero-date family — dropped,
            # like the reference's zero-date default handling
            if default.strip("'").replace(".", "").lstrip("-").isdigit():
                default = None
        if default is not None:
            parts.append(f"DEFAULT {default}")
        return " ".join(parts)

    def to_struct_field(self) -> T.StructField:
        meta = dict(self.extra)
        if self.type_mod:
            meta["pg_typemod"] = self.type_mod
        meta["pg_type"] = self.type_name
        return T.StructField(self.name, self.spark_type, self.nullable, meta)


@dataclass
class Index:
    """catalog.lisp:91-93."""

    name: str
    table_name: str
    columns: list[str]
    unique: bool = False
    primary: bool = False
    condition: str | None = None  # filtered-index WHERE clause (PG syntax)

    def to_ddl(self, schema: str | None = None) -> str:
        tbl = f"{quote_ident(schema)}." if schema else ""
        cols = ", ".join(quote_ident(c) for c in self.columns)
        uq = "UNIQUE " if self.unique else ""
        where = f" WHERE {self.condition}" if self.condition else ""
        return (
            f"CREATE {uq}INDEX {quote_ident(self.name)} "
            f"ON {tbl}{quote_ident(self.table_name)} ({cols}){where};"
        )


@dataclass
class FKey:
    """catalog.lisp:105-107."""

    name: str
    table_name: str
    columns: list[str]
    foreign_table: str
    foreign_columns: list[str]
    on_delete: str | None = None
    on_update: str | None = None

    def to_ddl(self, schema: str | None = None) -> str:
        tbl = f"{quote_ident(schema)}." if schema else ""
        cols = ", ".join(quote_ident(c) for c in self.columns)
        fcols = ", ".join(quote_ident(c) for c in self.foreign_columns)
        extra = ""
        if self.on_delete:
            extra += f" ON DELETE {self.on_delete}"
        if self.on_update:
            extra += f" ON UPDATE {self.on_update}"
        return (
            f"ALTER TABLE {tbl}{quote_ident(self.table_name)} "
            f"ADD CONSTRAINT {quote_ident(self.name)} FOREIGN KEY ({cols}) "
            f"REFERENCES {tbl}{quote_ident(self.foreign_table)} ({fcols}){extra};"
        )


@dataclass
class Table:
    """catalog.lisp:50-63: source-name vs target name, fields (source
    side) vs columns (target side), indexes, fkeys, check constraints
    (name, pg-clause) pairs (catalog.lisp:60-61), row estimate."""

    name: str
    source_name: str | None = None
    columns: list[Column] = field(default_factory=list)
    indexes: list[Index] = field(default_factory=list)
    fkeys: list[FKey] = field(default_factory=list)
    check_constraints: list[tuple[str, str]] = field(default_factory=list)
    row_count_estimate: int | None = None
    comment: str | None = None

    def spark_schema(self) -> T.StructType:
        return T.StructType([c.to_struct_field() for c in self.columns])

    def to_create_ddl(self, schema: str | None = None, if_not_exists: bool = False) -> str:
        tbl = f"{quote_ident(schema)}." if schema else ""
        ine = "IF NOT EXISTS " if if_not_exists else ""
        cols = ",\n  ".join(c.to_ddl() for c in self.columns)
        return f"CREATE TABLE {ine}{tbl}{quote_ident(self.name)} (\n  {cols}\n);"

    def to_drop_ddl(self, schema: str | None = None, cascade: bool = True) -> str:
        tbl = f"{quote_ident(schema)}." if schema else ""
        c = " CASCADE" if cascade else ""
        return f"DROP TABLE IF EXISTS {tbl}{quote_ident(self.name)}{c};"


@dataclass
class Schema:
    """catalog.lisp:47-48; ``sqltypes`` holds generated enum/set types
    (``plans/ddl.py``) that must be created before the tables."""

    name: str
    tables: list[Table] = field(default_factory=list)
    sqltypes: list = field(default_factory=list)

    def find_table(self, name: str) -> Table | None:
        for t in self.tables:
            if t.name == name or t.source_name == name:
                return t
        return None


@dataclass
class Catalog:
    """catalog.lisp:45."""

    name: str
    schemas: list[Schema] = field(default_factory=list)

    def find_schema(self, name: str) -> Schema | None:
        for s in self.schemas:
            if s.name == name:
                return s
        return None

    def all_tables(self) -> list[Table]:
        return [t for s in self.schemas for t in s.tables]

    def check_identifier_collisions(self) -> None:
        for s in self.schemas:
            check_collisions([t.name for t in s.tables])
            for t in s.tables:
                check_collisions([c.name for c in t.columns])


def copy_ordering(tables: list[Table]) -> list[Table]:
    """Largest-first scheduling so big tables start early and the
    worker pool drains evenly (migrate-database.lisp:304-320)."""
    return sorted(tables, key=lambda t: -(t.row_count_estimate or 0))
