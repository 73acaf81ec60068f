"""Field→column projection engine.

Re-expresses the reference's ``project-fields`` compiler
(pgloader ``src/sources/common/project-fields.lisp:35-183``) as a
builder of one Spark ``select`` — identity fast path, reordering,
dropping, constant columns, per-field null-if / trim / date-format
options and named transform functions, all as Column expressions so
the whole projection stays in one codegen'd map stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgloader_spark.functions.transforms import get_transform
from pgloader_spark.parsers.dateformat import pg_to_spark_datetime_format


def col_ref(name: str) -> Column:
    """Column reference that survives dots in the NAME itself:
    plain ``F.col("CHARS.LETTERS")`` parses as struct access, so names
    containing dots are backtick-quoted (fields-with-periods.load)."""
    if "." in name and "`" not in name:
        return F.col(f"`{name}`")
    return F.col(name)


@dataclass
class FieldSpec:
    """Source-field read options (pgloader field clause).

    null_if: literal string sentinel(s) mapped to NULL; ":blanks" means
    all-whitespace -> NULL (project-fields.lisp:47-66).
    trim: one of None/'left'/'right'/'both' (project-fields.lisp:106-114).
    date_format: PG to_char-style format (src/parsers/date-format.lisp).
    """

    name: str
    null_if: tuple[str, ...] = ()
    null_if_blanks: bool = False
    trim: str | None = None
    date_format: str | None = None

    def expr(self) -> Column:
        c: Column = col_ref(self.name)
        if self.trim in ("left", "both"):
            c = F.ltrim(c)
        if self.trim in ("right", "both"):
            c = F.rtrim(c)
        if self.null_if_blanks:
            c = F.when(F.trim(c) == "", F.lit(None)).otherwise(c)
        for sentinel in self.null_if:
            c = F.when(c == F.lit(sentinel), F.lit(None)).otherwise(c)
        if self.date_format:
            c = F.to_timestamp(c, pg_to_spark_datetime_format(self.date_format))
        return c


@dataclass
class ColumnSpec:
    """Target column: from a field, a constant, or a transform call.

    transform: name in the transform registry (USING clause); args are
    source field names fed to it (supports multi-arg transforms like
    ip-range, transforms.lisp:239-246).
    """

    name: str
    source: str | None = None  # defaults to same-named field
    constant: str | None = None
    transform: str | None = None
    transform_args: tuple[str, ...] = ()
    cast_to: str | None = None  # spark type name, e.g. "long"


@dataclass
class Projection:
    """Field->column projection."""

    fields: list[FieldSpec] = field(default_factory=list)
    columns: list[ColumnSpec] = field(default_factory=list)

    def field_expr(self, name: str) -> Column:
        for f_ in self.fields:
            if f_.name == name:
                return f_.expr()
        return F.col(name)

    def apply(self, df: DataFrame) -> DataFrame:
        if not self.columns:
            # identity fast path (project-fields.lisp:39-44)
            if not self.fields:
                return df
            return df.select(*[f_.expr().alias(f_.name) for f_ in self.fields])
        exprs: list[Column] = []
        for col in self.columns:
            if col.constant is not None:
                e = F.lit(col.constant)
            elif col.transform is not None:
                fn = get_transform(col.transform)
                args = col.transform_args or ((col.source or col.name),)
                e = fn(*[self.field_expr(a) for a in args])
            else:
                e = self.field_expr(col.source or col.name)
            if col.cast_to:
                e = e.cast(col.cast_to)
            exprs.append(e.alias(col.name))
        return df.select(*exprs)
