"""PC/IXF file writer — TEST FIXTURE.

Emits the same spec layout as the DB2-exported files the reference
reads (``test/data/nsitra.test*.ixf``), so tests can build IXF inputs
for ``pgloader_spark.sources.ixf.read_ixf`` and reader and real files
share one code path.
"""

from __future__ import annotations

import struct

from pgloader_spark.sources.ixf import (
    _FIXED_LEN,
    IXF_BIGINT,
    IXF_CHAR,
    IXF_DATE,
    IXF_DECIMAL,
    IXF_FLOAT,
    IXF_INTEGER,
    IXF_SMALLINT,
    IXF_TIME,
    IXF_TIMESTAMP,
    IXF_VARCHAR,
    IxfColumn,
)


def _record(rtype: bytes, payload: bytes) -> bytes:
    body = rtype + payload
    return str(len(body)).zfill(6).encode() + body


def _value_width(c: IxfColumn) -> int:
    t = c.type_code
    if t == IXF_VARCHAR:
        return c.length + 2
    if t == IXF_DECIMAL:
        return (c.precision + 2) // 2
    return _FIXED_LEN.get(t, c.length)


def write_ixf(path: str, columns: list[IxfColumn], rows: list[tuple]) -> None:
    # lay out data positions sequentially (null indicator precedes
    # the value for nullable columns)
    cur = 0
    for c in columns:
        c.position = cur + 1
        cur += (2 if c.nullable else 0) + _value_width(c)
    width = cur

    out = [
        _record(b"H", b"IXF0002DB2    02.00" + b"0" * 20 + b" " * 5),
        _record(
            b"T",
            b"008" + b"table.ixf".ljust(256) + b" " * 100,
        ),
    ]
    for c in columns:
        if c.type_code == IXF_DECIMAL:
            leng = f"{c.precision:03d}{c.scale:02d}"
        elif c.type_code in _FIXED_LEN:
            leng = "     "
        else:
            leng = str(c.length).zfill(5)
        payload = (
            str(len(c.name)).zfill(3).encode()
            + c.name.encode("ascii").ljust(256)
            + (b"Y" if c.nullable else b"N")
            + b"N"  # IXFCDEF
            + b"Y"  # IXFCSLCT
            + b"N\x00"  # IXFCKPOS
            + b"R"  # IXFCCLAS
            + str(c.type_code).zfill(3).encode()
            + b"00000"  # IXFCSBCP
            + b"00000"  # IXFCDBCP
            + leng.encode()
            + c.drid.encode()
            + str(c.position).zfill(6).encode()
            + b"00"  # IXFCNDIM
            + b" " * 8
        )
        out.append(_record(b"C", payload))
    for row in rows:
        body = bytearray(b"\x00" * width)
        data = memoryview(body)
        for c, v in zip(columns, row):
            pos = c.position - 1
            if c.nullable:
                data[pos : pos + 2] = b"\xff\xff" if v is None else b"\x00\x00"
                pos += 2
            if v is None:
                continue
            t = c.type_code
            if t in (IXF_CHAR, IXF_DATE, IXF_TIME, IXF_TIMESTAMP):
                ln = _value_width(c)
                data[pos : pos + ln] = str(v).encode("latin-1").ljust(ln)
            elif t == IXF_VARCHAR:
                b = str(v).encode("latin-1")
                struct.pack_into("<H", data, pos, len(b))
                data[pos + 2 : pos + 2 + len(b)] = b
            elif t == IXF_SMALLINT:
                struct.pack_into("<h", data, pos, int(v))
            elif t == IXF_INTEGER:
                struct.pack_into("<i", data, pos, int(v))
            elif t == IXF_BIGINT:
                struct.pack_into("<q", data, pos, int(v))
            elif t == IXF_FLOAT:
                struct.pack_into("<d", data, pos, float(v))
            elif t == IXF_DECIMAL:
                precision, scale = c.precision, c.scale
                text = str(v)
                neg = text.startswith("-")
                text = text.lstrip("-")
                if "." in text:
                    ip, fp = text.split(".")
                else:
                    ip, fp = text, ""
                fp = fp.ljust(scale, "0")[:scale]
                digits = (ip + fp).rjust(precision, "0")
                nibbles = [int(d) for d in digits] + [0x0D if neg else 0x0C]
                if len(nibbles) % 2:
                    nibbles.append(0)
                packed = bytes(
                    (nibbles[i] << 4) | nibbles[i + 1]
                    for i in range(0, len(nibbles), 2)
                )
                data[pos : pos + len(packed)] = packed
        out.append(_record(b"D", b"001    " + bytes(body)))
    with open(path, "wb") as fh:
        fh.write(b"".join(out))
