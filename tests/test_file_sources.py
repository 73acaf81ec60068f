"""Fixed-width / COPY-text / DBF / IXF / multi-file source tests
(reference: src/sources/fixed/, src/sources/copy.lisp,
src/sources/db3/, src/sources/ixf/, src/utils/archive.lisp)."""

from __future__ import annotations

import os
import struct
import tarfile
import zipfile

import pytest

from pgloader_spark.sources.copytext import (
    CopyOptions,
    read_copy_text,
    to_copy_lines,
)
from pgloader_spark.sources.db3 import parse_header, read_dbf
from pgloader_spark.sources.files import PathSpec, expand_archive, expand_spec
from pgloader_spark.sources.fixed import (
    FixedField,
    FixedOptions,
    guess_fixed_specs,
    read_fixed,
)
from pgloader_spark.sources.ixf import (
    IXF_CHAR,
    IXF_DECIMAL,
    IXF_INTEGER,
    IXF_VARCHAR,
    IxfColumn,
    read_ixf,
)
from tests.fixtures.ixf_writer import write_ixf

# --------------------------------------------------------------------------
# fixed-width
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fixed_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixed")
    p = d / "data.txt"
    p.write_text(
        "id    name      amount\n"
        "1     alice     10.50 \n"
        "22    bob       3.25  \n"
        "333   carol            \n"  # blank amount -> NULL
    )
    return str(p)


def test_read_fixed(spark, fixed_file):
    opts = FixedOptions(
        fields=[
            FixedField("id", 0, 6),
            FixedField("name", 6, 10),
            FixedField("amount", 16, 6),
        ],
        skip_lines=1,
    )
    df = read_fixed(spark, fixed_file, opts)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["1"]["name"] == "alice"
    assert rows["22"]["amount"] == "3.25"
    assert rows["333"]["amount"] is None


def test_guess_fixed_specs(spark, fixed_file):
    opts = guess_fixed_specs(spark, fixed_file, header=True)
    names = [f.name for f in opts.fields]
    assert names == ["id", "name", "amount"]
    df = read_fixed(spark, fixed_file, opts)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["22"]["name"] == "bob"


def test_ragged_right(spark, tmp_path):
    p = tmp_path / "ragged.txt"
    p.write_text("aa11\nbb\n")  # second line shorter than field 2's extent
    opts = FixedOptions(fields=[FixedField("a", 0, 2), FixedField("b", 2, 2)])
    rows = {r["a"]: r for r in read_fixed(spark, str(p), opts).collect()}
    assert rows["aa"]["b"] == "11"
    assert rows["bb"]["b"] is None


# --------------------------------------------------------------------------
# COPY text
# --------------------------------------------------------------------------


def test_read_copy_text_roundtrip(spark, tmp_path):
    p = tmp_path / "data.copy"
    p.write_text("1\talice\t\\N\n2\tline\\nbreak\tx\\ty\n3\tback\\\\slash\t\\N\n")
    df = read_copy_text(
        spark, str(p), CopyOptions(fields=["id", "name", "extra"])
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows["1"]["extra"] is None
    assert rows["2"]["name"] == "line\nbreak"
    assert rows["2"]["extra"] == "x\ty"
    assert rows["3"]["name"] == "back\\slash"


def test_to_copy_lines_encode(spark):
    df = spark.createDataFrame(
        [(1, "a\tb", None), (2, "n\nl", "z")], "id int, s string, t string"
    )
    lines = sorted(r["line"] for r in to_copy_lines(df).collect())
    assert lines == ["1\ta\\tb\t\\N", "2\tn\\nl\tz"]


def test_to_copy_lines_type_aware_mixed(spark):
    """r9: escape-free types (numerics/timestamp/date/bool) skip the
    escape chain entirely — their rendering must still be the exact
    COPY text, and string columns beside them must still escape."""
    import datetime

    df = spark.createDataFrame(
        [
            (
                9223372036854775807,
                -1.5,
                True,
                datetime.datetime(2024, 2, 29, 23, 59, 59),
                datetime.date(1999, 1, 2),
                "tab\there\\and\nnl",
                None,
            )
        ],
        "b long, d double, f boolean, ts timestamp, dt date, s string, "
        "nul string",
    )
    [line] = [r["line"] for r in to_copy_lines(df).collect()]
    assert line == (
        "9223372036854775807\t-1.5\ttrue\t2024-02-29 23:59:59\t1999-01-02"
        "\ttab\\there\\\\and\\nnl\t\\N"
    )


# --------------------------------------------------------------------------
# DBF (dBase III)
# --------------------------------------------------------------------------


def make_dbf(path, fields, records, deleted=()):
    """fields: [(name, type, length)]; records: list of tuples of str."""
    n_fields = len(fields)
    header_size = 32 + 32 * n_fields + 1
    record_size = 1 + sum(ln for _, _, ln in fields)
    head = bytearray(32)
    head[0] = 0x03
    struct.pack_into("<IHH", head, 4, len(records), header_size, record_size)
    out = bytearray(head)
    for name, tc, ln in fields:
        desc = bytearray(32)
        desc[:11] = name.encode("ascii").ljust(11, b"\x00")[:11]
        desc[11] = ord(tc)
        desc[16] = ln
        out += desc
    out += b"\x0d"
    for i, rec in enumerate(records):
        out += b"*" if i in deleted else b" "
        for (name, tc, ln), val in zip(fields, rec):
            out += str(val if val is not None else "").encode("latin-1").ljust(ln)[:ln]
    out += b"\x1a"
    with open(path, "wb") as fh:
        fh.write(bytes(out))


@pytest.fixture(scope="module")
def dbf_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("dbf")
    p = str(d / "people.dbf")
    make_dbf(
        p,
        [("ID", "N", 4), ("NAME", "C", 10), ("FLAG", "L", 1), ("BORN", "D", 8)],
        [
            ("1", "alice", "T", "19900102"),
            ("2", "bob", "F", "19851224"),
            ("3", "deleted", "T", "20000101"),
            ("4", "", "?", ""),
        ],
        deleted={2},
    )
    return p


def test_dbf_header_parse(dbf_file):
    with open(dbf_file, "rb") as fh:
        data = fh.read()
    hdr = parse_header(data)
    assert [f.name for f in hdr.fields] == ["ID", "NAME", "FLAG", "BORN"]
    assert [f.type_code for f in hdr.fields] == ["N", "C", "L", "D"]
    assert hdr.record_count == 4


def test_dbf_read_skips_deleted(spark, dbf_file):
    df = read_dbf(spark, dbf_file)
    rows = {r["ID"]: r for r in df.collect()}
    assert set(rows) == {"1", "2", "4"}  # record 3 deleted
    assert rows["1"]["NAME"] == "alice"
    # an all-blank C cell right-trims to '' — NOT NULL
    # (db3-trim-string; pinned by the DNORDOC regress expected file)
    assert rows["4"]["NAME"] == ""


# --------------------------------------------------------------------------
# IXF
# --------------------------------------------------------------------------


def test_ixf_roundtrip(spark, tmp_path):
    cols = [
        IxfColumn("id", IXF_INTEGER, nullable=True),
        IxfColumn("name", IXF_VARCHAR, 20, nullable=True),
        IxfColumn("grade", IXF_CHAR, 2, nullable=True),
        IxfColumn("amount", IXF_DECIMAL, nullable=True, precision=10, scale=2),
    ]
    rows = [
        (1, "alice", "A", "10.50"),
        (2, "bob", None, "-3.25"),
        (None, "carol", "C+", "0.00"),
    ]
    p = str(tmp_path / "data.ixf")
    write_ixf(p, cols, rows)
    df = read_ixf(spark, p)
    got = sorted(df.collect(), key=lambda r: (r["id"] is None, r["id"]))
    assert (got[0]["id"], got[0]["name"], got[0]["amount"]) == (1, "alice", "10.50")
    assert got[1]["grade"] is None
    assert got[1]["amount"] == "-3.25"
    assert got[2]["id"] is None


# --------------------------------------------------------------------------
# multi-file + archive expansion
# --------------------------------------------------------------------------


def test_expand_matching(tmp_path):
    for name in ("a1.csv", "a2.csv", "b.txt"):
        (tmp_path / name).write_text("x\n")
    spec = PathSpec("matching", str(tmp_path), regex=r"\.csv$")
    got = [os.path.basename(p) for p in expand_spec(spec)]
    assert got == ["a1.csv", "a2.csv"]
    first = expand_spec(PathSpec("first", str(tmp_path), regex=r"\.csv$"))
    assert [os.path.basename(p) for p in first] == ["a1.csv"]


def test_expand_zip(tmp_path):
    z = tmp_path / "arch.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("one.csv", "a,b\n1,2\n")
        zf.writestr("two.csv", "a,b\n3,4\n")
    files = expand_archive(str(z))
    assert sorted(os.path.basename(p) for p in files) == ["one.csv", "two.csv"]
    assert open(files[0]).read().startswith("a,b")


def test_expand_tar_gz(tmp_path):
    src = tmp_path / "data.csv"
    src.write_text("x,y\n1,2\n")
    t = tmp_path / "arch.tar.gz"
    with tarfile.open(t, "w:gz") as tf:
        tf.add(src, arcname="data.csv")
    files = expand_archive(str(t))
    assert [os.path.basename(p) for p in files] == ["data.csv"]


def test_ixf_timezone_option(spark, tmp_path):
    """WITH timezone 'Europe/Paris': naive IXF timestamps are parsed
    in that zone and land as the UTC instant (docs/ref/ixf.rst);
    DB2 dotted separators are accepted; UTC default is a no-op."""
    from pgloader_spark.sources.ixf import IXF_TIMESTAMP

    cols = [
        IxfColumn("id", IXF_INTEGER, nullable=True),
        IxfColumn("ts", IXF_TIMESTAMP, 26, nullable=True),
    ]
    rows = [
        (1, "2024-01-15-12.30.00.000000"),  # DB2 dotted, winter (CET=+1)
        (2, "2024-07-15 12:30:00.500000"),  # ISO-ish, summer (CEST=+2)
        (3, None),
    ]
    p = str(tmp_path / "tz.ixf")
    write_ixf(p, cols, rows)

    got = {
        r["id"]: r["ts"]
        for r in read_ixf(spark, p, timezone="Europe/Paris").collect()
    }
    assert got[1] == "2024-01-15 11:30:00.000000"
    assert got[2] == "2024-07-15 10:30:00.500000"
    assert got[3] is None

    default = {r["id"]: r["ts"] for r in read_ixf(spark, p).collect()}
    assert default[1] == "2024-01-15-12.30.00.000000"  # untouched
