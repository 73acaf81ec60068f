"""Fixed-width source: substring projections + spec guessing.

Re-expresses pgloader's fixed-width source
(``src/sources/fixed/fixed.lisp:53-78`` — per-column ``(name :start s
:length l)`` slicing, ragged-right tolerance) as one distributed
``spark.read.text`` scan followed by a single ``select`` of
``substring`` Column expressions — the whole projection stays inside
one WholeStageCodegen stage, no Python in the row path.

Spec guessing (``src/sources/fixed/fixed-guess.lisp:30-78``) samples
the file driver-side and derives column boundaries from runs of
whitespace shared by the header and data lines.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GUESS_SAMPLE_LINES = 1000


@dataclass
class FixedField:
    """(name :start s :length l) — start is 0-based here."""

    name: str
    start: int
    length: int
    trim: str | None = "right"  # fixed-width data is usually space-padded
    null_if_blanks: bool = True


@dataclass
class FixedOptions:
    fields: list[FixedField] = field(default_factory=list)
    skip_lines: int = 0
    encoding: str = "UTF-8"


def read_fixed(spark: SparkSession, path: str, opts: FixedOptions) -> DataFrame:
    """One text scan -> one select of substring projections.

    Ragged-right lines (shorter than start+length) yield the available
    suffix, matching the reference's tolerance (fixed.lisp:66-72).
    Spark's ``substring`` already returns the in-bounds part, so no
    special casing is needed.
    """
    return slice_fixed(spark.read.text(path), opts)


def slice_fixed(text: DataFrame, opts: FixedOptions) -> DataFrame:
    """Lines (one ``value`` string column) -> the fixed-width columns:
    drop the first ``skip_lines`` lines, then one substring per field.
    Shared by the file scan and inline ``FROM inline`` data."""
    value = F.col("value")
    if opts.skip_lines:
        text = (
            text.rdd.zipWithIndex()
            .filter(lambda t: t[1] >= opts.skip_lines)
            .map(lambda t: (t[0][0],))
            .toDF(["value"])
        )
    exprs = []
    for f_ in opts.fields:
        # substring is 1-based in Spark SQL
        c = F.substring(value, f_.start + 1, f_.length)
        if f_.trim in ("left", "both"):
            c = F.ltrim(c)
        if f_.trim in ("right", "both"):
            c = F.rtrim(c)
        if f_.null_if_blanks:
            c = F.when(c == "", F.lit(None)).otherwise(c)
        exprs.append(c.alias(f_.name))
    return text.select(*exprs)


def guess_fixed_specs(spark: SparkSession, path: str, header: bool = True) -> FixedOptions:
    """Derive (start, length) specs from columns of whitespace present
    in every sampled line (fixed-guess.lisp:30-78): a boundary is a
    character position that is blank in all sampled lines; fields are
    the runs between boundaries. Field names come from the header line
    when present, else ``field_0..n``."""
    rows = spark.read.text(path).limit(GUESS_SAMPLE_LINES).collect()
    lines = [r[0] for r in rows if r[0] is not None and r[0].strip()]
    if not lines:
        return FixedOptions()
    width = max(len(ln) for ln in lines)
    blank_everywhere = []
    for i in range(width):
        if all(i >= len(ln) or ln[i] == " " for ln in lines):
            blank_everywhere.append(i)
    blanks = set(blank_everywhere)
    specs: list[tuple[int, int]] = []
    start = None
    for i in range(width + 1):
        in_field = i < width and i not in blanks
        if in_field and start is None:
            start = i
        elif not in_field and start is not None:
            specs.append((start, i - start))
            start = None
    # extend each field to the start of the next so padded data that
    # drifts into the gap is still captured (reference keeps gaps with
    # the preceding field)
    extended: list[tuple[int, int]] = []
    for idx, (s, ln) in enumerate(specs):
        end = specs[idx + 1][0] if idx + 1 < len(specs) else width
        extended.append((s, end - s))
    names = [f"field_{i}" for i in range(len(extended))]
    skip = 0
    if header:
        hdr = lines[0]
        names = [hdr[s : s + ln].strip() or f"field_{i}" for i, (s, ln) in enumerate(extended)]
        skip = 1
    fields = [FixedField(n, s, ln) for n, (s, ln) in zip(names, extended)]
    return FixedOptions(fields=fields, skip_lines=skip)
