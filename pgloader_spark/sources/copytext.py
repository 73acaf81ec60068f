"""PostgreSQL COPY text-format source and encoder.

Read side re-expresses pgloader's COPY source
(``src/sources/copy.lisp:35-70``): tab-separated, ``\\N`` is NULL, and
data carries COPY backslash escapes which must be decoded
(``\\t \\n \\r \\b \\f \\v \\\\``). The scan is ``spark.read.csv``
with quoting disabled, so splitting stays JVM-side; escape decoding is
a chain of ``regexp_replace`` / ``translate`` Column expressions in
the same codegen stage.

Encode side mirrors ``src/pg-copy/copy-format.lisp:43-98`` (single
pass escape, NULL -> ``\\N``) for the COPY sink and for writing reject
files in COPY format.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pgloader_spark.operators.projection import sql_ident, sql_string
from pgloader_spark.session import skip_unchanged_zip_rereads

COPY_NULL = r"\N"


@dataclass
class CopyOptions:
    delimiter: str = "\t"
    null_as: str = COPY_NULL
    fields: list[str] = field(default_factory=list)
    skip_lines: int = 0


def _decode_copy_escapes(c: Column) -> Column:
    """COPY text escapes -> raw chars, backslash last (one pass each,
    all JVM-side)."""
    # \\ must be protected first: swap to a sentinel, decode the rest,
    # then restore. \x01 cannot appear in COPY text data.
    c = F.regexp_replace(c, r"\\\\", "\x01")
    c = F.regexp_replace(c, r"\\t", "\t")
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\b", "\b")
    c = F.regexp_replace(c, r"\\f", "\f")
    c = F.regexp_replace(c, r"\\v", "\x0b")
    c = F.regexp_replace(c, "\x01", r"\\")
    return c


_HEX_OCT_RE = r"\\(x[0-9A-Fa-f]{1,2}|[0-7]{1,3})"


def _decode_full_udf():
    """Pandas UDF running PG's COMPLETE one-pass escape decode —
    named, hex ``\\xHH`` and octal ``\\NNN`` escapes, unknown escapes
    kept verbatim (copy-format semantics; copy-hex.load regress).
    Single-pass matters: ``\\\\x61`` is a literal backslash then plain
    text, which no sequence of independent replaces can express.
    Only invoked on values containing a hex/octal escape (rlike gate),
    so the common case never leaves codegen."""
    import re as _re

    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    named = {"t": "\t", "n": "\n", "r": "\r", "b": "\b",
             "f": "\f", "v": "\x0b", "\\": "\\"}
    pat = _re.compile(r"\\(x[0-9A-Fa-f]{1,2}|[0-7]{1,3}|.)")

    def one(s: str) -> str:
        def sub(m):
            body = m.group(1)
            if body[0] in "xX" and len(body) > 1:
                return chr(int(body[1:], 16))
            if body[0] in "01234567":
                return chr(int(body, 8))
            return named.get(body, "\\" + body)  # unknown stays verbatim

        return pat.sub(sub, s)

    def decode(col):
        skip_unchanged_zip_rereads()
        return col.map(lambda v: one(v) if isinstance(v, str) else v)

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint introspection can't resolve the names
    return pandas_udf(decode, "string")


def read_copy_text(spark: SparkSession, path: str, opts: CopyOptions) -> DataFrame:
    """Split on the delimiter with quoting off, map ``\\N`` -> NULL,
    decode escapes."""
    reader = (
        spark.read.option("sep", opts.delimiter)
        .option("quote", "\u0000")  # COPY text has no quoting
        .option("escape", "\u0000")
        .option("nullValue", opts.null_as)
        .option("header", False)
    )
    df = reader.csv(path)
    if opts.skip_lines:
        df = (
            df.rdd.zipWithIndex()
            .filter(lambda t: t[1] >= opts.skip_lines)
            .map(lambda t: t[0])
            .toDF(df.schema)
        )
    if opts.fields:
        df = df.toDF(*opts.fields)
    fulldec = _decode_full_udf()

    def decode(c: Column) -> Column:
        # values with hex/octal escapes take the one-pass Arrow slow
        # path; everything else stays in the codegen replace chain
        return F.when(c.rlike(_HEX_OCT_RE), fulldec(c)).otherwise(
            _decode_copy_escapes(c)
        )

    return df.select(*[decode(F.col(c)).alias(c) for c in df.columns])


# COPY text escapes, as (regex, Java replacement) pairs, backslash first
_COPY_ESCAPES = (
    (r"\\", r"\\\\"),
    ("\t", r"\\t"),
    ("\n", r"\\n"),
    ("\r", r"\\r"),
    ("\x08", r"\\b"),
    ("\x0c", r"\\f"),
    ("\x0b", r"\\v"),
)
_NEEDS_ESCAPE = "[\\\\\t\n\r\x08\x0c\x0b]"
_BYTEA_PREFIX = r"\\x"


def encode_copy_escapes(c: str) -> str:
    """Spark SQL text of the string C, COPY-escaped
    (copy-format.lisp:123-193): backslash first, then control
    characters.

    The 7-regex chain is gated behind one needs-escape probe: almost
    every cell of a real corpus (numbers, timestamps, plain text) has
    no special characters, and running the full chain unconditionally
    caps encode at ~7k rows/s/core — the probe makes the common case
    one regex instead of seven (measured 5x at sf0.1, the difference
    between a COPY sink bound by encode and one bound by the server).
    """
    full = c
    for pattern, replacement in _COPY_ESCAPES:
        full = (
            f"regexp_replace({full}, {sql_string(pattern)}, "
            f"{sql_string(replacement)})"
        )
    return f"CASE WHEN {c} RLIKE {sql_string(_NEEDS_ESCAPE)} THEN {full} ELSE {c} END"


# Types whose cast("string") rendering can NEVER contain a COPY
# special ([\\ \t \n \r \b \f \v]): digits, sign, dot, 'E', '-', ':',
# space, true/false.  Their cells skip even the needs-escape probe —
# measured r9 at sf0.1, dropping the probe on lineitem's 9
# numeric/timestamp columns cuts the whole-line encode ~30%
# (tools/profiles/pg_copy_sweep_r9.txt).
_ESCAPE_FREE_TYPES = frozenset({
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "boolean", "date", "timestamp", "timestamp_ntz",
})


def to_copy_lines(df: DataFrame, delimiter: str = "\t") -> DataFrame:
    """Encode every column to COPY text and concat into one ``line``
    column — the exact bytes a PostgreSQL COPY sink (or a reject
    ``.dat`` file, src/utils/reject.lisp:12-34) wants.  One Spark SQL
    text, handed to the JVM in one ``selectExpr`` and distributed end
    to end.  Escape handling is TYPE-AWARE: only string-ish columns
    run the escape chain (numerics/timestamps render escape-free by
    construction)."""
    def enc(c: str, t: str) -> str:
        col = sql_ident(c)
        if t == "binary":
            # bytea rides COPY text as \x<hex> (one literal backslash,
            # escaped to two on the wire) — raw bytes would smuggle
            # NULs PostgreSQL text parsing rejects
            payload = f"concat({sql_string(_BYTEA_PREFIX)}, lower(hex({col})))"
        elif t in _ESCAPE_FREE_TYPES or t.startswith("decimal"):
            payload = f"CAST({col} AS STRING)"
        else:
            payload = encode_copy_escapes(f"CAST({col} AS STRING)")
        return f"CASE WHEN {col} IS NULL THEN {sql_string(COPY_NULL)} ELSE {payload} END"

    args = [sql_string(delimiter)] + [enc(c, t) for c, t in df.dtypes]
    return df.selectExpr(f"concat_ws({', '.join(args)}) AS line")
