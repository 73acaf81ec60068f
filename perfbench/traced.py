"""The traced run: per-layer metrics.

Operations alternate between plain ones (nothing wrapped) and traced
ones (spans + job groups, see trace.py); the difference of their
median walls is the tracing overhead.  Span self times, Spark engine
totals from the event log, and server-side counters come from every
traced operation and are reported as medians.

Read, cast and encode run fused inside Spark stages, so spans cannot
split them.  After the loop, a probe pass materializes each prefix of
the last traced operation's plans to the noop sink, best of
``PROBE_REPS``, and takes differences: read, read+cast, and pinned
input with and without the COPY encode.  The wire probe feeds ``write_pg_copy`` pre-encoded,
pinned lines, so it times only the Arrow hand-off, the COPY protocol
and the server.
"""

from __future__ import annotations

import contextlib
import time

from perfbench.trace import (
    GROUP_PROPERTY,
    OP_PROPERTY,
    EventLog,
    Tracer,
    busy_seconds,
    copy_bytes,
    median,
)

PROBE_REPS = 2  # each probe runs this many times; the minimum is reported

# per-layer metric <- span layer whose self time it reports
SPAN_METRICS = {
    "parsers.parse_s": "parsers.parse",
    "executor.self_s": "executor",
    "sources.introspect_s": "sources.introspect",
    "sources.plan_s": "sources.read",
    "casting.plan_s": "casting",
    "validate.s": "validate",
    "pg_live.copy_s": "pg_live.copy",
    "ddl.create_s": "ddl.create",
    "ddl.index_s": "ddl.index",
    "ddl.post_s": "ddl.post",
}
SESSION_METRICS = (
    ("session.task_s", "task_s", "s"), ("session.jvm_cpu_s", "jvm_cpu_s", "s"),
    ("session.gc_s", "gc_s", "s"), ("session.python_s", "python_s", "s"),
    ("session.shuffle_read_bytes", "shuffle_read_bytes", "B"),
    ("session.shuffle_write_bytes", "shuffle_write_bytes", "B"),
    ("session.spill_bytes", "spill_bytes", "B"),
    ("session.stages", "stages", "count"), ("session.tasks", "tasks", "count"),
)
UNITS = {
    **{m: "s" for m in SPAN_METRICS},
    **{m: u for m, _, u in SESSION_METRICS},
    "executor.spark_jobs": "count", "executor.driver_s": "s",
    "sources.read_s": "s", "sources.rows": "count", "sources.python_s": "s",
    "casting.cast_s": "s", "validate.rejects": "count",
    "copytext.encode_s": "s", "copytext.bytes": "B",
    "pg_live.wire_s": "s", "pg_live.streams": "count", "pg_live.rows": "count",
    "pg.cpu_s": "s", "pg.wal_bytes": "B", "pg.table_bytes": "B",
    "ddl.statements": "count",
    "host.loadavg": "load", "host.steal_s": "s", "host.dirty_kb": "kB",
    "host.first_task_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.unattributed_s": "s",
    "trace.attributed_share": "ratio", "trace.module_share": "ratio",
}


def _table_bytes(pg) -> int:
    return int(pg.query(
        "SELECT coalesce(sum(pg_total_relation_size(c.oid)), 0) FROM pg_class c "
        "JOIN pg_namespace n ON n.oid = c.relnamespace "
        "WHERE n.nspname = 'public' AND c.relkind = 'r'"
    )[0][0])


def _traced_op(r, tracer: Tracer, elog: EventLog, op_id: str):
    """One traced operation; returns (ok, metrics, OpTrace)."""
    pg = r.pg
    r.reset()
    lsn0 = pg.query("SELECT pg_current_wal_lsn()")[0][0]
    cpu0 = pg.cpu_seconds()
    t0w = time.time()
    with tracer.operation(op_id) as op:
        _, ok = r.run_op()
    t1w = time.time()
    cpu1 = pg.cpu_seconds()
    wal = int(float(pg.query(
        f"SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '{lsn0}')"
    )[0][0]))
    table_bytes = _table_bytes(pg)
    ok = r.verify(ok)
    elog.sync()
    total, _ = elog.op_stats(op_id)
    root = op.spans[0]
    wall = root.end - root.start
    selfs = op.self_times()
    m = {name: selfs[layer] for name, layer in SPAN_METRICS.items()}
    m.update({name: getattr(total, attr) for name, attr, _ in SESSION_METRICS})
    m.update({
        "executor.spark_jobs": total.jobs,
        "executor.driver_s": wall - busy_seconds(total.job_intervals, t0w, t1w),
        "validate.rejects": op.validate_rejects,
        "pg_live.rows": op.copy_rows,
        "ddl.statements": op.statements,
        "pg.cpu_s": cpu1 - cpu0,
        "pg.wal_bytes": wal,
        "pg.table_bytes": table_bytes,
        "trace.wall_s": wall,
        "trace.unattributed_s": root.self_s,
    })
    return ok, m, op


def _probe_sets(op) -> list[tuple[object, object, object, str]]:
    """(read output, cast output, COPY input, target table) per table."""
    reads = [f for f in op.frames if f[0] in ("read_source", "read_sqlite_table")]
    casts = [f for f in op.frames if f[0] in ("project", "apply_column_casts",
                                               "_apply_cast_transforms")]
    copies = [f for f in op.frames if f[0] == "write_pg_copy"]
    if len(reads) == 1:  # a file load: read -> project [-> casts] -> COPY
        return [(reads[0][2], casts[-1][2], copies[0][2], copies[0][1])]
    return [(rd[2], ct[2], cp[2], cp[1]) for rd, ct, cp in zip(reads, casts, copies)]


@contextlib.contextmanager
def _group(sc, name: str):
    sc.setLocalProperty(OP_PROPERTY, "probe")
    sc.setLocalProperty(GROUP_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP_PROPERTY, None)
        sc.setLocalProperty(OP_PROPERTY, None)


def _noop(sc, df, group: str) -> float:
    with _group(sc, group):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def _probes(r, op, elog: EventLog) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pgloader_spark.sources import copytext, pg_live

    sc = r.spark.sparkContext
    read_s = cast_s = encode_s = wire_s = 0.0
    rows = nbytes = streams = 0
    probe_table = "perfbench_wire"
    # nothing cached, or Spark would answer the read and cast prefixes
    # from the operation's (or a probe's) cached plan
    r.spark.catalog.clearCache()
    for read_df, cast_df, copy_df, table in _probe_sets(op):
        # a first, untimed read warms the source and counts its rows
        obs = Observation()
        _noop(sc, read_df.observe(obs, F.count(F.lit(1)).alias("n")), "probe.warm")
        rows += int(obs.get["n"])
        reads, casts = [], []
        for _ in range(PROBE_REPS):
            reads.append(_noop(sc, read_df, "sources.read"))
            casts.append(_noop(sc, cast_df, "casting"))
        read_s += min(reads)
        cast_s += min(casts) - min(reads)
        with _group(sc, "probe.pin"):
            pinned = copy_df.cache()
            pinned.count()
            lines = copytext.to_copy_lines(pinned).cache()
            lines.count()
            nbytes += copy_bytes(pinned)
            streams += pinned.groupBy(F.spark_partition_id()).count().count()
        bases, encs, wires = [], [], []
        real = copytext.to_copy_lines
        for _ in range(PROBE_REPS):
            bases.append(_noop(sc, pinned, "probe.pinned"))
            encs.append(_noop(sc, real(pinned), "copytext.encode"))
            r.pg.query(f"DROP TABLE IF EXISTS {probe_table}")
            r.pg.query(f"CREATE TABLE {probe_table} (LIKE {table})")
            copytext.to_copy_lines = lambda df, delimiter="\t": lines
            try:
                with _group(sc, "pg_live.wire"):
                    t0 = time.perf_counter()
                    pg_live.write_pg_copy(pinned, r.pg.dsn, probe_table)
                    wires.append(time.perf_counter() - t0)
            finally:
                copytext.to_copy_lines = real
        r.pg.query(f"DROP TABLE {probe_table}")
        lines.unpersist()
        pinned.unpersist()
        encode_s += min(encs) - min(bases)
        wire_s += min(wires)
    elog.sync()
    _, groups = elog.op_stats("probe")
    read_stats = groups.get("sources.read")
    return {
        "sources.read_s": read_s, "sources.rows": rows,
        # per read pass: the probe group ran PROBE_REPS of them
        "sources.python_s": read_stats.python_s / PROBE_REPS if read_stats else 0.0,
        "casting.cast_s": cast_s, "copytext.encode_s": encode_s,
        "copytext.bytes": nbytes, "pg_live.wire_s": wire_s,
        "pg_live.streams": streams,
    }


def run_traced(r, events_dir: str, host_before: dict, min_ops: int):
    from perfbench import host

    r.setup()
    first_task = r.first_task_latency()
    elog = EventLog(r.spark, events_dir)
    tracer = Tracer(r.spark.sparkContext)
    plain: list[float] = []
    traced: list[tuple[bool, dict, object]] = []
    deadline = time.perf_counter() + r.args.seconds
    while len(traced) < min_ops or time.perf_counter() < deadline:
        r.reset()
        wall, ok = r.run_op()
        if r.verify(ok):
            plain.append(wall)
        traced.append(_traced_op(r, tracer, elog, f"op{len(traced) + 1}"))
    # a run with failures is reported as such; its figures then come
    # from every traced operation
    kept = [t for t in traced if t[0]] or traced
    per_op = [m for _, m, _ in kept]
    last = kept[-1][2]
    metrics = {name: median([m[name] for m in per_op]) for name in per_op[0]}
    metrics.update(_probes(r, last, elog))
    telemetry = host.telemetry(host_before, first_task)
    metrics.update({f"host.{k}": v for k, v in telemetry.items() if k != "nproc"})
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - median(plain)
    wall = metrics["trace.wall_s"]
    spans = {name: metrics[name] for name in SPAN_METRICS}
    share = {name: v / wall if wall else 0.0 for name, v in spans.items()}
    # the executor's self time holds whatever no finer span covers (on
    # csv, the cache()+count() pass), so the attributed share is near 1
    # by construction; the module share leaves it out
    metrics["trace.attributed_share"] = sum(share.values())
    metrics["trace.module_share"] = metrics["trace.attributed_share"] - share["executor.self_s"]
    record = {
        "samples": {"plain_wall_s": plain, "traced_wall_s": [m["trace.wall_s"] for m in per_op]},
        "largest_layer": max(spans, key=spans.get),
        "layer_self_s": spans,
        "layer_share": share,
        "per_op": per_op,
        "host": telemetry,
    }
    return {k: (v, UNITS[k]) for k, v in metrics.items()}, record
