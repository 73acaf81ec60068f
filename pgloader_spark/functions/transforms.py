"""Scalar transform-function library.

Re-expresses the reference's per-column transform functions
(pgloader ``src/utils/transforms.lisp``, 618 LoC; surveyed in
SURVEY.md §2.7) as PySpark ``Column`` expression builders.  Each
function takes one or more Columns (or column names) and returns a
Column, so they compose into ``df.select`` projections and stay inside
Catalyst/whole-stage-codegen — no Python in the row path except the
few byte-twiddling functions that genuinely need a UDF.

Functions are registered in ``TRANSFORMS`` under their reference names
(both lisp-style ``zero-dates-to-null`` and python-style
``zero_dates_to_null`` keys) so the ``USING`` clause of the LOAD DSL
and cast rules can reference them by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgloader_spark.session import skip_unchanged_zip_rereads

TRANSFORMS: dict[str, Callable[..., Column]] = {}


def _register(*names: str) -> Callable:
    def deco(fn: Callable[..., Column]) -> Callable[..., Column]:
        for n in names:
            TRANSFORMS[n] = fn
            TRANSFORMS[n.replace("-", "_")] = fn
        return fn

    return deco


def get_transform(name: str) -> Callable[..., Column]:
    key = name.strip().lower()
    if key not in TRANSFORMS:
        raise KeyError(f"unknown transform function: {name!r}")
    return TRANSFORMS[key]


def register_transform(name: str, fn: Callable[..., Column]) -> None:
    """Public extension hook: add a USING-callable transform.

    The reference loads user Lisp defining new transforms at startup
    (``--load`` / *load-lisp-file*, src/main.lisp:174-183); user
    Python files loaded via ``--load-py-file`` (cli.py) call this to
    make their Column builders visible to the LOAD DSL's USING
    clause and to CAST rules.  Both lisp-style and underscore keys
    are registered, like the built-ins.
    """
    for n in (name, name.replace("-", "_")):
        TRANSFORMS[n.strip().lower()] = fn


def load_plugin_file(path: str) -> None:
    """Import a user Python file for its registration side effects."""
    import importlib.util
    import os

    mod_name = f"pgloader_spark_plugin_{os.path.basename(path).removesuffix('.py')}"
    spec = importlib.util.spec_from_file_location(mod_name, path)
    if spec is None or spec.loader is None:
        raise ValueError(f"cannot load plugin file: {path}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- date / time ----------------------------------------------------------


@_register("zero-dates-to-null")
def zero_dates_to_null(col: Column | str) -> Column:
    """MySQL zero dates ('0000-00-00', '0000-00-00 00:00:00') -> NULL.

    Ref: src/utils/transforms.lisp:118 (zero-dates-to-null).
    """
    c = _c(col)
    return F.when(c.rlike(r"^0{4}-0{2}-0{2}"), F.lit(None).cast("string")).otherwise(c)


@_register("date-with-no-separator")
def date_with_no_separator(col: Column | str) -> Column:
    """'20041002152952' -> timestamp 2004-10-02 15:29:52; zero date -> NULL.

    Ref: src/utils/transforms.lisp:131.
    """
    c = _c(col)
    return F.when(
        c.rlike(r"^0+$") | (F.length(c) < 8), F.lit(None).cast("timestamp")
    ).otherwise(
        F.to_timestamp(F.rpad(F.regexp_replace(c, r"[^0-9]", ""), 14, "0"), "yyyyMMddHHmmss")
    )


@_register("time-with-no-separator")
def time_with_no_separator(col: Column | str) -> Column:
    """'08231560' -> '08:23:15.60'.  Ref: src/utils/transforms.lisp:160."""
    c = _c(col)
    base = F.concat_ws(
        ":", F.substring(c, 1, 2), F.substring(c, 3, 2), F.substring(c, 5, 2)
    )
    frac = F.substring(c, 7, 10)
    return F.when(F.length(c) > 6, F.concat(base, F.lit("."), frac)).otherwise(base)


@_register("sqlite-timestamp-to-timestamp")
def sqlite_timestamp_to_timestamp(col: Column | str) -> Column:
    """SQLite ints: 0 -> NULL, bare year -> 'Y-01-01'; strings pass through.

    Ref: src/utils/transforms.lisp:375.
    """
    c = _c(col).cast("string")
    is_int = c.rlike(r"^[0-9]+$")
    return (
        F.when(is_int & (c.cast("long") == 0), F.lit(None).cast("string"))
        .when(is_int, F.concat(c, F.lit("-01-01")))
        .otherwise(c)
    )


@_register("unix-timestamp-to-timestamptz")
def unix_timestamp_to_timestamptz(col: Column | str) -> Column:
    """Epoch seconds -> UTC timestamp.  Ref: src/utils/transforms.lisp:433."""
    return F.timestamp_seconds(_c(col).cast("long"))


# --- booleans -------------------------------------------------------------


@_register("tinyint-to-boolean")
def tinyint_to_boolean(col: Column | str) -> Column:
    """'0' -> false, anything else non-null -> true.

    Ref: src/utils/transforms.lisp:176.
    """
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        c.cast("string") != F.lit("0")
    )


@_register("bits-to-boolean")
def bits_to_boolean(col: Column | str) -> Column:
    """bit(1) byte -> boolean: 0 -> false else true.

    Ref: src/utils/transforms.lisp:183.
    """
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.conv(F.hex(c), 16, 10).cast("long") != 0
    )


@_register("sql-server-bit-to-boolean")
def sql_server_bit_to_boolean(col: Column | str) -> Column:
    """'((0))' / '0' -> false, '((1))' / '1' -> true.

    Ref: src/utils/transforms.lisp:450.
    """
    c = F.regexp_replace(_c(col).cast("string"), r"[()]", "")
    return F.when(c == "0", F.lit(False)).when(c == "1", F.lit(True)).otherwise(
        F.lit(None).cast("boolean")
    )


@_register("logical-to-boolean")
def logical_to_boolean(col: Column | str) -> Column:
    """DBF logical: T/t/Y/y -> true, F/f/N/n -> false, '?'/' ' -> NULL.

    Ref: src/utils/transforms.lisp:588.
    """
    c = _c(col).cast("string")
    return (
        F.when(F.upper(c).isin("T", "Y", "1"), F.lit(True))
        .when(F.upper(c).isin("F", "N", "0"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# --- bits / bytes / hex ---------------------------------------------------


@_register("bits-to-hex-bitstring")
def bits_to_hex_bitstring(col: Column | str) -> Column:
    """bit(n) bytes -> PostgreSQL hex bitstring literal 'x0ff'.

    Ref: src/utils/transforms.lisp:195.
    """
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("x"), F.lower(F.hex(c)))
    )


@_register("byte-vector-to-bytea", "binary-to-bytea")
def byte_vector_to_bytea(col: Column | str) -> Column:
    r"""bytes -> PG bytea hex literal '\xdeadbeef'.

    Ref: src/utils/transforms.lisp:334 and :536.
    """
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("\\x"), F.lower(F.hex(c)))
    )


@_register("byte-vector-to-hexstring")
def byte_vector_to_hexstring(col: Column | str) -> Column:
    """bytes -> bare lowercase hex.  Ref: src/utils/transforms.lisp:461."""
    return F.lower(F.hex(_c(col)))


@_register("varbinary-to-string")
def varbinary_to_string(col: Column | str, encoding: str = "UTF-8") -> Column:
    """bytes -> text in the given encoding.  Ref: src/utils/transforms.lisp:487."""
    return F.decode(_c(col), encoding)


@_register("base64-decode")
def base64_decode(col: Column | str) -> Column:
    """base64 text -> decoded text.  Ref: src/utils/transforms.lisp:559."""
    return F.decode(F.unbase64(_c(col)), "UTF-8")


@_register("hex-to-dec")
def hex_to_dec(col: Column | str) -> Column:
    """hex string (optionally 0x/\\x prefixed) -> decimal string.

    Ref: src/utils/transforms.lisp:564.
    """
    c = F.regexp_replace(_c(col), r"^(0x|\\x)", "")
    return F.conv(c, 16, 10)


@_register("hex-to-bytea")
def hex_to_bytea(col: Column | str) -> Column:
    r"""'0x..'/'\x..'/bare hex -> PG '\x..' literal.

    Ref: src/utils/transforms.lisp:570.
    """
    c = F.regexp_replace(_c(col), r"^(0x|\\x)", "")
    return F.concat(F.lit("\\x"), F.lower(c))


# --- UUIDs (byte twiddling — Pandas UDF is the honest implementation) -----


@F.pandas_udf(T.StringType())
def _uuid_mixed_endian(s):  # type: ignore[no-untyped-def]
    """MSSQL uniqueidentifier: first 3 groups little-endian."""
    skip_unchanged_zip_rereads()
    import pandas as pd

    def conv(b):  # bytes | None -> str | None
        if b is None or len(b) != 16:
            return None
        h = (
            b[3::-1] + b[5:3:-1] + b[7:5:-1] + b[8:16]
        ).hex()
        return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    return pd.Series([conv(b) for b in s])


@_register("sql-server-uniqueidentifier-to-uuid")
def sql_server_uniqueidentifier_to_uuid(col: Column | str) -> Column:
    """Mixed-endian 16 bytes -> canonical UUID string.

    Ref: src/utils/transforms.lisp:420 (byte order per MS GUID layout).
    """
    return _uuid_mixed_endian(_c(col))


@_register("binary-to-uuid")
def binary_to_uuid(col: Column | str) -> Column:
    """BINARY(16) big-endian -> canonical UUID (MySQL style).

    Ref: src/utils/transforms.lisp:516.  Pure hex slicing, no UDF.
    """
    h = F.lower(F.hex(_c(col)))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


# --- network --------------------------------------------------------------


@_register("int-to-ip")
def int_to_ip(col: Column | str) -> Column:
    """uint32 -> dotted quad.  Ref: src/utils/transforms.lisp:218."""
    c = _c(col).cast("long")
    return F.concat_ws(
        ".",
        F.shiftright(c, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 8).bitwiseAND(F.lit(255)).cast("string"),
        c.bitwiseAND(F.lit(255)).cast("string"),
    )


@_register("ip-range")
def ip_range(start: Column | str, end: Column | str) -> Column:
    """two uint32 -> canonical ip4r text.  Ref: transforms.lisp:239.

    The reference emits 'a.b.c.d-e.f.g.h' and lets PostgreSQL's ip4r
    type canonicalize on input (single IP for s=e, 'ip/len' for an
    aligned power-of-two block, 'lo-hi' otherwise — what the regress
    golden test/regress/expected/csv-before-after.out stores).  We
    canonicalize engine-side so the value is already in ip4r's output
    form: real ip4r accepts every canonical form unchanged, and the
    domain-based emulation the tests install (tests/fixtures/ip4r_shim.py)
    stores text verbatim.
    """
    s = _c(start).cast("long")
    e = _c(end).cast("long")
    n = e - s + F.lit(1)
    aligned_pow2 = (
        (n > 0)
        & (n.bitwiseAND(n - 1) == 0)
        & (s.bitwiseAND(n - 1) == 0)
    )
    masklen = (F.lit(32) - F.round(F.log2(n.cast("double")))).cast("int")
    return (
        F.when(s == e, int_to_ip(s))
        .when(
            aligned_pow2,
            F.concat(int_to_ip(s), F.lit("/"), masklen.cast("string")),
        )
        .otherwise(F.concat(int_to_ip(s), F.lit("-"), int_to_ip(e)))
    )


@_register("varbinary-to-inet")
def varbinary_to_inet(col: Column | str) -> Column:
    """4 bytes -> IPv4 dotted quad; 16 bytes -> IPv6 colon-hex.

    Ref: src/utils/transforms.lisp:496.
    """
    c = _c(col)
    as_int = F.conv(F.hex(c), 16, 10).cast("long")
    v6hex = F.lower(F.hex(c))
    v6 = F.concat_ws(
        ":", *[F.substring(v6hex, 1 + 4 * i, 4) for i in range(8)]
    )
    return (
        F.when(F.length(c) == 4, int_to_ip(as_int))
        .when(F.length(c) == 16, v6)
        .otherwise(F.lit(None).cast("string"))
    )


# --- geometry -------------------------------------------------------------


@_register("convert-mysql-point")
def convert_mysql_point(col: Column | str) -> Column:
    """'POINT(x y)' -> '(x,y)'.  Ref: src/utils/transforms.lisp:248."""
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(c, r"^POINT\(", "("), r"\)$", ")"),
            r"(\S) (\S)",
            r"$1,$2",
        )
    )


@_register("convert-mysql-linestring")
def convert_mysql_linestring(col: Column | str) -> Column:
    """'LINESTRING(x1 y1, x2 y2)' -> '[(x1,y1),(x2,y2)]'.

    Ref: src/utils/transforms.lisp:259.
    """
    c = _c(col)
    inner = F.regexp_replace(c, r"^LINESTRING\((.*)\)$", r"$1")
    pts = F.transform(
        F.split(inner, r",\s*"),
        lambda p: F.concat(F.lit("("), F.regexp_replace(p, r"\s+", ","), F.lit(")")),
    )
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("["), F.array_join(pts, ","), F.lit("]"))
    )


# --- strings / numbers ----------------------------------------------------


@_register("integer-to-string")
def integer_to_string(col: Column | str) -> Column:
    """Strip SQLite layered quotes, parse int (junk -> NULL).

    Ref: src/utils/transforms.lisp:277.
    """
    c = F.regexp_replace(_c(col).cast("string"), r"['\"]", "")
    return F.when(F.trim(c) == "", F.lit(None).cast("long")).otherwise(
        F.trim(c).cast("long")
    ).cast("string")


@_register("float-to-string")
def float_to_string(col: Column | str) -> Column:
    """float -> PG literal (±Infinity kept).  Ref: transforms.lisp:299."""
    c = _c(col).cast("double")
    return (
        F.when(c == float("inf"), F.lit("Infinity"))
        .when(c == float("-inf"), F.lit("-Infinity"))
        .when(F.isnan(c), F.lit("NaN"))
        .otherwise(c.cast("string"))
    )


@_register("set-to-enum-array")
def set_to_enum_array(col: Column | str) -> Column:
    """MySQL SET 'a,b' -> PG array literal '{a,b}'.

    Ref: src/utils/transforms.lisp:313.
    """
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("{"), c.cast("string"), F.lit("}"))
    )


@_register("empty-string-to-null")
def empty_string_to_null(col: Column | str) -> Column:
    """'' -> NULL.  Ref: src/utils/transforms.lisp:318."""
    return F.nullif(_c(col), F.lit(""))


@_register("right-trim", "db3-trim-string")
def right_trim(col: Column | str) -> Column:
    """Trailing whitespace trim.  Ref: transforms.lisp:323 / :592."""
    return F.rtrim(_c(col))


@_register("remove-null-characters")
def remove_null_characters(col: Column | str) -> Column:
    """Strip 0x00 bytes (PG text cannot hold NUL).  Ref: transforms.lisp:329."""
    return F.regexp_replace(_c(col), "\x00", "")


@_register("db3-numeric-to-pgsql-numeric")
def db3_numeric_to_pgsql_numeric(col: Column | str) -> Column:
    """Trim; empty -> NULL; keep numeric text.  Ref: transforms.lisp:596."""
    c = F.trim(_c(col).cast("string"))
    return F.when(c == "", F.lit(None).cast("string")).otherwise(c)


@_register("db3-numeric-to-pgsql-integer")
def db3_numeric_to_pgsql_integer(col: Column | str) -> Column:
    """Junk-tolerant int parse; empty -> NULL.  Ref: transforms.lisp:602."""
    c = F.regexp_extract(F.trim(_c(col).cast("string")), r"^(-?[0-9]+)", 1)
    return F.when(c == "", F.lit(None).cast("long")).otherwise(c.cast("long"))


@_register("db3-date-to-pgsql-date")
def db3_date_to_pgsql_date(col: Column | str) -> Column:
    """'YYYYMMDD' -> date; junk/zero -> NULL.  Ref: transforms.lisp:611."""
    c = _c(col).cast("string")
    return F.when(
        ~c.rlike(r"^[0-9]{8}$") | c.rlike(r"^0{8}$"), F.lit(None).cast("date")
    ).otherwise(F.to_date(c, "yyyyMMdd"))
