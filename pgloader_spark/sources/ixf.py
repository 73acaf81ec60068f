"""IBM PC/IXF source.

Re-expresses pgloader's IXF source (``src/sources/ixf/ixf.lisp:8-24``)
as a pure-Python parser of the public PC/IXF interchange format
(DB2's export format): a sequence of records, each a 6-byte ASCII
decimal length followed by a 1-byte type — ``H`` header, ``T`` table,
``C`` column descriptor, ``D`` data, ``A`` application.

C-record layout (per the public PC/IXF spec, offsets within the
payload after the 1-byte record type — verified against the
reference's own DB2-exported fixtures ``test/data/nsitra.test*.ixf``):
IXFCNAML(3) IXFCNAME(256) IXFCNULL(1) IXFCDEF(1) IXFCSLCT(1)
IXFCKPOS(2) IXFCCLAS(1) IXFCTYPE(3) IXFCSBCP(5) IXFCDBCP(5)
IXFCLENG(5) IXFCDRID(3) IXFCPOSN(6) IXFCNDIM(2).

D-record payload: IXFDRID(3) + 4 filler bytes, then column data at
each column's IXFCPOSN (1-based).  Nullable columns carry a 2-byte
null indicator AT the position (``FFFF`` = null), with the value
following at position+2.

Supported column types (the set the reference's ixf lib handles,
``ixf-cast-rules.lisp:7-31``): CHAR(452), VARCHAR(448), SMALLINT(500),
INTEGER(496), BIGINT(492), DECIMAL(484), FLOAT(480), DATE(384),
TIME(388), TIMESTAMP(392).

Parsing happens on the driver (IXF files are single-stream,
length-prefixed — not byte-splittable without a scan), then rows go
distributed via ``createDataFrame``; the same strategy the reference
uses (single-threaded record loop feeding the queue).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# IXF numeric type codes (public PC/IXF spec)
IXF_CHAR = 452
IXF_VARCHAR = 448
IXF_SMALLINT = 500
IXF_INTEGER = 496
IXF_BIGINT = 492
IXF_DECIMAL = 484
IXF_FLOAT = 480
IXF_DATE = 384
IXF_TIME = 388
IXF_TIMESTAMP = 392

TYPE_NAMES = {
    IXF_CHAR: "character",
    IXF_VARCHAR: "varchar",
    IXF_SMALLINT: "smallint",
    IXF_INTEGER: "integer",
    IXF_BIGINT: "bigint",
    IXF_DECIMAL: "decimal",
    IXF_FLOAT: "float",
    IXF_DATE: "date",
    IXF_TIME: "time",
    IXF_TIMESTAMP: "timestamp",
}

# fixed on-disk widths for types whose IXFCLENG is blank
_FIXED_LEN = {
    IXF_SMALLINT: 2,
    IXF_INTEGER: 4,
    IXF_BIGINT: 8,
    IXF_FLOAT: 8,
    IXF_DATE: 10,
    IXF_TIME: 8,
    IXF_TIMESTAMP: 26,
}


@dataclass
class IxfColumn:
    name: str
    type_code: int
    length: int = 0  # CHAR/VARCHAR length; 0 for fixed-width types
    position: int = 0  # 1-based IXFCPOSN (0 = writer computes)
    nullable: bool = True
    precision: int = 0  # DECIMAL
    scale: int = 0  # DECIMAL
    drid: str = "001"  # D-record id this column's data lives in


def iter_records(data: bytes):
    """Yield (type_char, payload) for each length-prefixed record."""
    off = 0
    n = len(data)
    while off + 6 <= n:
        try:
            length = int(data[off : off + 6])
        except ValueError:
            break
        rec = data[off + 6 : off + 6 + length]
        if not rec:
            break
        yield chr(rec[0]), rec[1:]
        off += 6 + length


def _ascii_int(raw: bytes, default: int = 0) -> int:
    s = raw.decode("ascii", "replace").strip("\x00 ")
    return int(s) if s.isdigit() else default


def parse_columns(data: bytes) -> list[IxfColumn]:
    cols: list[IxfColumn] = []
    for rtype, payload in iter_records(data):
        if rtype != "C":
            continue
        naml = _ascii_int(payload[0:3], 0)
        name = payload[3 : 3 + (naml or 256)].decode("latin-1").strip("\x00 ")
        nullable = payload[259:260] == b"Y"
        type_code = _ascii_int(payload[265:268])
        leng_raw = payload[278:283].decode("ascii", "replace")
        drid = payload[283:286].decode("ascii", "replace").strip() or "001"
        position = _ascii_int(payload[286:292])
        precision = scale = 0
        length = 0
        if type_code == IXF_DECIMAL:
            # IXFCLENG for DECIMAL is PPPSS
            precision = _ascii_int(leng_raw[:3].encode())
            scale = _ascii_int(leng_raw[3:5].encode())
        else:
            length = _FIXED_LEN.get(type_code) or _ascii_int(leng_raw.encode())
        cols.append(
            IxfColumn(
                name, type_code, length, position, nullable, precision, scale, drid
            )
        )
    return cols


def _decode_value(col: IxfColumn, data: bytes, pos: int) -> object:
    """Decode one value at 0-based offset ``pos`` inside a D record."""
    t = col.type_code
    if t in (IXF_CHAR, IXF_DATE, IXF_TIME, IXF_TIMESTAMP):
        # CHAR keeps its blank padding (the reference loads the fixed
        # 15-char value; a char(n) target re-pads anyway and the
        # regress expected output carries the blanks — ixf.out)
        raw = data[pos : pos + col.length]
        s = raw.decode("latin-1").rstrip("\x00")
        return s if s.strip() else None
    if t == IXF_VARCHAR:
        (ln,) = struct.unpack_from("<H", data, pos)
        return data[pos + 2 : pos + 2 + ln].decode("latin-1")
    if t == IXF_SMALLINT:
        return struct.unpack_from("<h", data, pos)[0]
    if t == IXF_INTEGER:
        return struct.unpack_from("<i", data, pos)[0]
    if t == IXF_BIGINT:
        return struct.unpack_from("<q", data, pos)[0]
    if t == IXF_FLOAT:
        return struct.unpack_from("<d", data, pos)[0]
    if t == IXF_DECIMAL:
        # packed BCD: precision digits, last nibble is the sign
        precision, scale = col.precision, col.scale
        nbytes = (precision + 2) // 2
        raw = data[pos : pos + nbytes]
        digits = []
        for b in raw:
            digits.append(b >> 4)
            digits.append(b & 0x0F)
        sign_nibble = digits[precision] if len(digits) > precision else 0xC
        num = digits[:precision]
        val = int("".join(map(str, num)) or "0")
        if scale:
            s = str(val).rjust(scale + 1, "0")
            text = f"{s[:-scale]}.{s[-scale:]}"
        else:
            text = str(val)
        if sign_nibble == 0x0D:
            text = "-" + text
        return text
    return None


def _decode_row(cols: list[IxfColumn], bodies: dict[str, bytes]) -> tuple:
    row = []
    for c in cols:
        body = bodies.get(c.drid)
        if body is None:
            row.append(None)
            continue
        pos = c.position - 1
        if c.nullable:
            if body[pos : pos + 2] == b"\xff\xff":
                row.append(None)
                continue
            pos += 2
        row.append(_decode_value(c, body, pos))
    return tuple(row)


def _rezone_timestamp(s: str, tz: str) -> str:
    """Interpret a naive IXF timestamp string in ``tz`` and render the
    UTC instant (docs/ref/ixf.rst *timezone*: the zone used when
    PARSING timestamps, default UTC).  DB2's dotted time separators
    (yyyy-mm-dd-hh.mm.ss.uuuuuu) are normalized first; unparseable
    values pass through untouched."""
    import datetime as _dt
    import re as _re
    from zoneinfo import ZoneInfo

    norm = s.strip()
    m = _re.fullmatch(
        r"(\d{4}-\d{2}-\d{2})[-T ](\d{2})[.:](\d{2})[.:](\d{2})(?:\.(\d+))?",
        norm,
    )
    if not m:
        return s
    frac = (m.group(5) or "").ljust(6, "0")[:6]
    iso = f"{m.group(1)}T{m.group(2)}:{m.group(3)}:{m.group(4)}.{frac}"
    try:
        zone = ZoneInfo({"gmt": "UTC"}.get(tz.lower(), tz))
        local = _dt.datetime.fromisoformat(iso).replace(tzinfo=zone)
    except Exception:  # noqa: BLE001 — bad zone/value: keep the original
        return s
    return local.astimezone(_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")


def read_ixf(
    spark: SparkSession, path: str, timezone: str = "UTC"
) -> DataFrame:
    with open(path, "rb") as fh:
        data = fh.read()
    cols = parse_columns(data)
    rows: list[tuple] = []
    # rows may span several D records (distinct IXFDRIDs); a repeated
    # drid starts the next row
    bodies: dict[str, bytes] = {}
    for rtype, payload in iter_records(data):
        if rtype != "D":
            continue
        drid = payload[0:3].decode("ascii", "replace").strip() or "001"
        if drid in bodies:
            rows.append(_decode_row(cols, bodies))
            bodies = {}
        bodies[drid] = payload[7:]  # 3-byte drid + 4 filler bytes
    if bodies:
        rows.append(_decode_row(cols, bodies))

    if timezone and timezone.upper() not in ("UTC", "GMT"):
        ts_ix = [i for i, c in enumerate(cols) if c.type_code == IXF_TIMESTAMP]
        if ts_ix:
            rows = [
                tuple(
                    _rezone_timestamp(v, timezone)
                    if i in ts_ix and isinstance(v, str)
                    else v
                    for i, v in enumerate(r)
                )
                for r in rows
            ]

    spark_types = {
        IXF_SMALLINT: "smallint",
        IXF_INTEGER: "int",
        IXF_BIGINT: "bigint",
        IXF_FLOAT: "double",
    }
    schema = ", ".join(
        f"`{c.name}` {spark_types.get(c.type_code, 'string')}" for c in cols
    )
    return spark.createDataFrame(rows, schema)
