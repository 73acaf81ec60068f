"""Field→column projection engine.

Re-expresses the reference's ``project-fields`` compiler
(pgloader ``src/sources/common/project-fields.lisp:35-183``) as a
builder of one Spark ``select`` — identity fast path, reordering,
dropping, constant columns, per-field null-if / trim / date-format
options and named transform functions — so the whole projection stays
in one codegen'd map stage.

Field options are built as Spark SQL text and handed to the JVM in one
``selectExpr``: each PySpark ``Column`` node is a Py4J round trip
(plus the origin bookkeeping PySpark wraps around every function
call), so a wide projection built node by node costs tens of ms on the
driver, and the same projection as one SQL text costs one call.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgloader_spark.functions.transforms import get_transform
from pgloader_spark.parsers.dateformat import pg_to_spark_datetime_format


def sql_ident(name: str) -> str:
    """Spark SQL identifier for a column NAME: always backtick-quoted,
    a backtick inside doubled, so dots (fields-with-periods.load),
    backticks and keywords in a name stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """Spark SQL string literal whose value is exactly VALUE: the
    parser unescapes ``\\`` and ``\'`` in a quoted literal, and
    passes every other character through."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


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

    def sql(self) -> str:
        """The field's value with its options applied, as Spark SQL."""
        c = sql_ident(self.name)
        if self.trim in ("left", "both"):
            c = f"ltrim({c})"
        if self.trim in ("right", "both"):
            c = f"rtrim({c})"
        if self.null_if_blanks:
            c = f"CASE WHEN trim({c}) = '' THEN NULL ELSE {c} END"
        for sentinel in self.null_if:
            c = f"nullif({c}, {sql_string(sentinel)})"
        if self.date_format:
            fmt = pg_to_spark_datetime_format(self.date_format)
            c = f"to_timestamp({c}, {sql_string(fmt)})"
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

    def field_sql(self, name: str) -> str:
        for f_ in self.fields:
            if f_.name == name:
                return f_.sql()
        return sql_ident(name)

    def apply(self, df: DataFrame) -> DataFrame:
        if not self.columns:
            # identity fast path (project-fields.lisp:39-44)
            if not self.fields:
                return df
            return select_sql(
                df, [f"{f_.sql()} AS {sql_ident(f_.name)}" for f_ in self.fields]
            )
        items: list[str | Column] = []
        for col in self.columns:
            if col.transform is not None:
                fn = get_transform(col.transform)
                args = col.transform_args or ((col.source or col.name),)
                e = fn(*[F.expr(self.field_sql(a)) for a in args])
                if col.cast_to:
                    e = e.cast(col.cast_to)
                items.append(e.alias(col.name))
                continue
            if col.constant is not None:
                t = sql_string(col.constant)
            else:
                t = self.field_sql(col.source or col.name)
            if col.cast_to:
                t = f"CAST({t} AS {col.cast_to})"
            items.append(f"{t} AS {sql_ident(col.name)}")
        return select_sql(df, items)


# joins select_sql's texts for the trip to the JVM; a text holding it
# takes PySpark's own list conversion
_SEP = "\x00"


def select_sql(df: DataFrame, items: list[str | Column]) -> DataFrame:
    """``df.select`` of ITEMS, each a Spark SQL text (``expr AS name``)
    or a Column: one ``selectExpr`` when every item is text."""
    if not all(isinstance(i, str) for i in items):
        return df.select(*[F.expr(i) if isinstance(i, str) else i for i in items])
    if any(_SEP in i for i in items):
        return df.selectExpr(*items)
    # PySpark hands a Python list to the JVM one element per Py4J round
    # trip; the texts travel as one string split JVM-side instead
    jvm = df.sparkSession.sparkContext._jvm
    texts = jvm.java.util.regex.Pattern.compile(_SEP).splitAsStream(_SEP.join(items))
    jseq = jvm.PythonUtils.toSeq(texts.toList())
    return type(df)(df._jdf.selectExpr(jseq), df.sparkSession)
