"""CSV source: the options-complete reader.

Re-expresses pgloader's CSV source (``src/sources/csv/csv.lisp:84-128``
— separator / quote / escape / escape-mode / trim / skip-lines /
header / empty-string->nil) as ``spark.read.csv`` options.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class CsvOptions:
    """The WITH-option surface of LOAD CSV (command-csv.lisp:56-179)."""

    separator: str = ","
    quote: str | None = '"'
    escape: str | None = None  # None => doubled quotes (escape-mode quote)
    header: bool = False
    skip_lines: int = 0
    null_as: str = ""
    trim_both: bool = False
    encoding: str = "UTF-8"
    multi_line: bool = False
    fields: list[str] = field(default_factory=list)  # declared field names
    line_sep: str | None = None  # `lines terminated by` (csv-newline.load)
    # `trim unquoted blanks` is the reference default; `keep unquoted
    # blanks` preserves them (docs/ref/csv.rst:204-214)
    keep_unquoted_blanks: bool = False
    # `csv escape mode quote` (default: the escape char only escapes
    # quote/escape) vs `following` (it escapes whatever follows) —
    # command-csv.lisp escape-mode, csv-escape-mode.load
    escape_mode: str = "quote"


# the charsets Spark's CSV reader accepts (CSVOptions); anything else
# (iso-8859-2 for bossa.load's stooq files, cp866, ...) transcodes to
# UTF-8 first
_SPARK_CSV_CHARSETS = {
    "iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le",
    "utf-32", "utf-8",
}


def _normalize_encoding(enc: str) -> str:
    e = enc.strip().lower().replace("_", "-")
    return {"latin1": "iso-8859-1", "latin-1": "iso-8859-1",
            "ascii": "us-ascii", "utf8": "utf-8"}.get(e, e)


def _transcode_to_utf8(path: str, encoding: str) -> str:
    """Driver-side streaming transcode to a UTF-8 temp file — the
    fallback for charsets Spark's reader rejects.  Unsupported-charset
    CSVs are legacy one-host files; the distributed parse still runs
    on the transcoded copy."""
    import tempfile

    out = tempfile.NamedTemporaryFile(
        "w", encoding="utf-8", suffix=".csv", delete=False
    )
    with open(path, encoding=encoding, errors="replace") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), ""):
            out.write(chunk)
    out.close()
    return out.name


def read_csv(spark: SparkSession, path: str, opts: CsvOptions) -> DataFrame:
    """One declarative read; Catalyst prunes/pushes into the scan."""
    enc = _normalize_encoding(opts.encoding or "utf-8")
    # Spark's csv `encoding` option only takes effect in multiLine
    # mode (per-line reads split+decode as UTF-8); any other declared
    # charset goes through the streaming transcode.  Legacy non-UTF-8
    # CSVs are single-host-sized by nature — the distributed parse
    # still runs on the transcoded copy.
    if enc not in _SPARK_CSV_CHARSETS or (
        enc != "utf-8" and not opts.multi_line
    ):
        if isinstance(path, list):
            path = [_transcode_to_utf8(p, enc) for p in path]
        else:
            path = _transcode_to_utf8(path, enc)
        enc = "utf-8"
    opts = CsvOptions(**{**opts.__dict__, "encoding": enc})
    reader = (
        spark.read.option("sep", opts.separator)
        .option("quote", opts.quote or "\u0000")
        .option("escape", opts.escape or opts.quote or "\u0000")
        .option("header", opts.header)
        .option("nullValue", opts.null_as)
        .option("encoding", opts.encoding)
        .option("multiLine", opts.multi_line)
        .option("mode", "PERMISSIVE")
        .option("ignoreLeadingWhiteSpace", opts.trim_both)
        .option("ignoreTrailingWhiteSpace", opts.trim_both)
    )
    if opts.skip_lines:
        # Spark has no skipLines; drop the first N physical lines by
        # reading text, slicing, and re-parsing. Only the sliced head
        # is driver-side (N lines); the body stays distributed.
        text = spark.read.text(path)
        body = text.rdd.zipWithIndex().filter(
            lambda t: t[1] >= opts.skip_lines
        ).map(lambda t: t[0][0])
        df = reader.csv(spark.createDataFrame(body, "string").rdd.map(lambda r: r[0]))
    else:
        df = reader.csv(path)
    if opts.fields:
        df = df.toDF(*opts.fields)
    return df


def _parse_csv_records(data: str, opts: CsvOptions) -> list[list[tuple[str, bool]]]:
    """State-machine CSV parse tracking per-field quoted-ness.

    Mirrors cl-csv as the reference drives it
    (src/sources/csv/csv.lisp:79,122): quotes are only recognized at
    field start (after outer blanks when `trim unquoted blanks`, the
    default); a quote character appearing inside an unquoted field, or
    data after a closing quote, or EOF inside a quoted field all
    signal an error — the reference drops (rejects) that row.
    Returns records as lists of (raw_text, was_quoted).
    """
    sep = opts.separator
    quote = opts.quote if opts.quote else None
    esc = opts.escape
    eol = opts.line_sep or "\n"
    trim_outer = not opts.keep_unquoted_blanks

    records: list[list[tuple[str, bool]]] = []
    fields: list[tuple[str, bool]] = []
    buf: list[str] = []
    i, n = 0, len(data)
    state = "start"  # start | unquoted | quoted | post_quote | error
    quoted_flag = False

    def end_field():
        nonlocal buf, quoted_flag, state
        fields.append(("".join(buf), quoted_flag))
        buf = []
        quoted_flag = False
        state = "start"

    def end_record(drop_if_error: bool):
        nonlocal fields, buf, quoted_flag, state
        # quoted_flag alone means the record was exactly one quoted
        # empty field — still a field, and the state machine must
        # reset either way or the NEXT record parses in post_quote
        # state (found by the round-trip property test)
        if not drop_if_error and (fields or buf or quoted_flag):
            end_field()
            if any(v for v, _ in fields) or len(fields) > 1:
                records.append(fields)
        fields = []
        buf = []
        quoted_flag = False
        state = "start"

    while i < n:
        c = data[i]
        if state == "start":
            if c == eol or (eol == "\n" and c == "\r" and data[i : i + 2] == "\r\n"):
                end_record(False)
                i += 2 if c == "\r" else 1
                continue
            if c == sep:
                end_field()
                i += 1
                continue
            if quote and c == quote:
                state = "quoted"
                quoted_flag = True
                i += 1
                continue
            if trim_outer and c in " \t":
                # outer blank: look ahead — blanks before a quote are
                # skipped in trim mode; otherwise they are data that a
                # later trim pass removes
                j = i
                while j < n and data[j] in " \t":
                    j += 1
                if quote and j < n and data[j] == quote:
                    i = j
                    continue
            state = "unquoted"
            buf.append(c)
            i += 1
        elif state == "unquoted":
            if c == eol or (eol == "\n" and data[i : i + 2] == "\r\n"):
                end_record(False)
                i += 2 if c == "\r" else 1
                continue
            if c == sep:
                end_field()
                i += 1
                continue
            if quote and c == quote:
                # quote inside unquoted data: reference signals a CSV
                # parse error and rejects the row
                # (csv-keep-extra-blanks.load's last line)
                state = "error"
                continue
            buf.append(c)
            i += 1
        elif state == "quoted":
            if esc and esc != quote and c == esc and i + 1 < n:
                nxt = data[i + 1]
                if (
                    nxt == quote
                    or nxt == esc
                    or opts.escape_mode == "following"
                ):
                    buf.append(nxt)
                    i += 2
                    continue
            if c == quote:
                if esc == quote and data[i + 1 : i + 2] == quote:
                    buf.append(quote)
                    i += 2
                    continue
                state = "post_quote"
                i += 1
                continue
            buf.append(c)
            i += 1
        elif state == "post_quote":
            if c == eol or (eol == "\n" and data[i : i + 2] == "\r\n"):
                end_record(False)
                i += 2 if c == "\r" else 1
                continue
            if c == sep:
                end_field()
                i += 1
                continue
            if trim_outer and c in " \t":
                i += 1
                continue
            state = "error"
        elif state == "error":
            # skip to end of record, dropping it
            if c == eol or (eol == "\n" and data[i : i + 2] == "\r\n"):
                end_record(True)
                buf = []
                quoted_flag = False
                state = "start"
                i += 2 if c == "\r" else 1
                continue
            i += 1
    # EOF: inside quotes = unterminated quote error (errors.load's
    # last line) — drop; otherwise flush the final record
    if state == "quoted" or state == "error":
        pass
    elif fields or buf:
        end_record(False)
    return records


def read_inline(spark: SparkSession, data: str, opts: CsvOptions) -> DataFrame:
    """Inline data after the LOAD command (command-csv.lisp:306-346):
    parse driver-side (inline payloads are small by construction)."""
    records = _parse_csv_records(data, opts)
    records = records[opts.skip_lines :]
    # a declared source encoding narrower than the data rejects the
    # rows it cannot represent (csv-error.load: WITH ENCODING ascii +
    # a latin row — the reference drops that row)
    codec = (opts.encoding or "UTF-8").replace("-", "").lower()
    if codec in ("ascii", "usascii"):
        records = [
            rec
            for rec in records
            if all(v.isascii() for v, _ in rec)
        ]
    names = opts.fields
    if opts.header and records:
        names = names or [v for v, _ in records[0]]
        records = records[1:]
    if not names and records:
        names = [f"_c{i}" for i in range(len(records[0]))]
    trim_outer = not opts.keep_unquoted_blanks
    norm = []
    for rec in records:
        vals: list[str | None] = []
        for v, was_quoted in rec:
            if not was_quoted:
                if trim_outer:
                    v = v.strip(" \t")
                if opts.null_as != "":
                    if v == opts.null_as:
                        v = None
                elif v == "":
                    # unquoted empty = NULL; quoted empty = '' — the
                    # distinction csv-keep-extra-blanks.out pins
                    v = None
            elif opts.null_as != "" and v == opts.null_as:
                v = None
            vals.append(v)
        # pgloader pads short rows with NULLs and drops extra cells
        # (csv-missing-col.load is the regress test for exactly this)
        vals = (vals + [None] * len(names))[: len(names)]
        norm.append(tuple(vals))
    df = spark.createDataFrame(norm, ", ".join(f"`{n}` string" for n in names))
    if opts.trim_both:
        df = df.select(*[F.trim(F.col(c)).alias(c) for c in df.columns])
    return df
