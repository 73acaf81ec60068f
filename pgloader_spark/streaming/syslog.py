"""Syslog-style streaming ingest.

Re-expresses pgloader's only streaming source
(``src/sources/syslog.lisp:28-95``: a UDP server whose regex
*scanners* route each message into per-scanner queues that COPY into
their own target tables) as Structured Streaming:

- a line stream (socket / file / rate source — anything that yields a
  ``value`` string column),
- one ``Scanner`` per reference scanner: a named regex whose groups
  become typed columns (``regexp_extract`` — JVM-side, codegen'd),
- ``route()``: per-scanner filtered projections of the same stream —
  Spark multiplexes one source across N sinks, each with its own
  checkpoint, matching the reference's queue-per-scanner design,
- ``foreachBatch`` JDBC/parquet sinks give at-least-once delivery,
  the same guarantee the reference's COPY loop provides.

Beyond the reference (it has **no** watermarks/windows,
SURVEY §2.11), ``windowed_counts`` exposes event-time windows + late
data handling since they come free on this substrate.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the RFC3164-ish pattern pgloader's syslog sample config uses
RSYSLOG_PATTERN = (
    r"<(\d+)>\s*(\w{3}\s+\d+\s+\d{2}:\d{2}:\d{2})\s+(\S+)\s+([^:\[]+)(?:\[(\d+)\])?:\s*(.*)"
)


@dataclass
class Scanner:
    """One syslog scanner: name, regex, and (column, group-index,
    type) projections (syslog.lisp:28-60)."""

    name: str
    regex: str
    columns: list[tuple[str, int, str]] = field(
        default_factory=lambda: [("message", 0, "string")]
    )

    def apply(self, lines: DataFrame, value_col: str = "value") -> DataFrame:
        """Filter lines matching this scanner and extract its columns.
        The whole thing is one codegen'd map+filter — no Python."""
        v = F.col(value_col)
        matched = lines.filter(v.rlike(self.regex))
        # unmatched optional groups extract as '' -> NULL, then
        # try_cast keeps ANSI mode happy on malformed remnants
        return matched.select(
            *[
                F.nullif(F.regexp_extract(v, self.regex, idx), F.lit(""))
                .try_cast(typ)
                .alias(name)
                for name, idx, typ in self.columns
            ]
        )


def rsyslog_scanner(name: str = "rsyslog") -> Scanner:
    return Scanner(
        name=name,
        regex=RSYSLOG_PATTERN,
        columns=[
            ("priority", 1, "int"),
            ("ts", 2, "string"),
            ("host", 3, "string"),
            ("program", 4, "string"),
            ("pid", 5, "int"),
            ("message", 6, "string"),
        ],
    )


def route(lines: DataFrame, scanners: list[Scanner]) -> dict[str, DataFrame]:
    """One input stream -> one projected stream per scanner (the
    queue-per-scanner fanout, syslog.lisp:61-95). Works identically on
    batch and streaming DataFrames."""
    return {s.name: s.apply(lines) for s in scanners}


def scanners_from_command(cmd) -> list[tuple[Scanner, dict]]:
    """LOAD MESSAGES clauses -> routed scanners in declaration order.

    The WITH grammar blocks compile through the ABNF subset
    (streaming/abnf.py, mirroring command-syslog.lisp:48-60); each
    WHEN MATCHES ... IN <scanner> REGISTERING f1,f2 projects the
    registered rules' capture groups as columns."""
    from pgloader_spark.streaming.abnf import compile_scanner

    compiled = {}
    for block in cmd.options.get("abnf_blocks", []):
        cs = compile_scanner(block)
        compiled[cs.name] = cs
    out = []
    for sc in cmd.scanners:
        cs = compiled[sc["name"]]
        cols = [(f, cs.groups[f.lower()], "string") for f in sc["fields"]]
        out.append((Scanner(sc["name"], cs.regex, cols), sc))
    return out


def route_first_match(
    lines: DataFrame, scanners: list[tuple[Scanner, dict]]
) -> list[tuple[Scanner, dict, DataFrame]]:
    """First-match-wins routing: the reference's UDP handler stops at
    the first scanner whose regex matches (syslog.lisp:13-26), so a
    message claimed by scanner N never reaches scanner N+1."""
    out = []
    remaining = lines
    for s, sc in scanners:
        out.append((s, sc, s.apply(remaining)))
        remaining = remaining.filter(~F.col("value").rlike(s.regex))
    return out


def serve_udp_messages(
    spark,
    cmd,
    sink,
    host: str = "127.0.0.1",
    port: int | None = None,
    idle_timeout: float = 2.0,
    max_batches: int = 1,
) -> dict[str, int]:
    """LOAD MESSAGES end-to-end: bind the UDP port from the
    ``syslog://host:port/`` source, drain datagrams into micro-
    batches, route first-match, and hand each scanner's rows to
    ``sink(df, table)`` (write_pg_copy in production).  Returns
    loaded counts per target table.

    The reference runs this as a forever-server (syslog.lisp:28-36);
    bounded batches keep it testable — a production deployment points
    the same routing at a socket/Kafka readStream instead."""
    import socket as _socket

    from urllib.parse import urlparse

    u = urlparse(cmd.source)
    port = port or u.port or 10514
    scanners = scanners_from_command(cmd)
    sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    sock.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    sock.bind((host, port))
    sock.settimeout(0.2)
    counts: dict[str, int] = {}
    try:
        for _ in range(max_batches):
            lines: list[str] = []
            idle = 0.0
            while idle < idle_timeout:
                try:
                    data, _addr = sock.recvfrom(65535)
                    lines.append(data.decode("utf-8", "replace"))
                    idle = 0.0
                except TimeoutError:
                    idle += 0.2
            if not lines:
                break
            df = spark.createDataFrame([(ln,) for ln in lines], "value string")
            for s, sc, routed in route_first_match(df, scanners):
                tbl = (sc.get("target") or s.name).rsplit("?", 1)[-1]
                n = sink(routed, tbl)
                if n:
                    counts[tbl] = counts.get(tbl, 0) + n
    finally:
        sock.close()
    return counts


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark for late
    data — the streaming agg surface the reference lacks."""
    g = [F.window(F.col(ts_col), window_duration).alias("window")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            "n",
        )
    )
