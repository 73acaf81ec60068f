#!/usr/bin/env python3
"""Benchmark: LOAD commands into a live PostgreSQL, end to end and per layer.

    python3 perfbench/run.py --workload csv_lineitem_pg --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The benchmark generates its input
from ``--seed``, starts its own PostgreSQL server, sets Spark up, and
runs operations back to back (a closed loop with one client) for
``--seconds``, checking the target after every operation.  The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the
full run record (host telemetry, server settings, samples).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs with
the Spark event log on and the package's public functions wrapped in
spans, and reports the per-layer metrics instead.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
MIN_OPS = 3  # timed operations per untraced run, at least
TRACED_MIN_OPS = 2  # plain/traced operation pairs per traced run, at least


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke test")
    return ap.parse_args(argv)


def configure_environment(trace: bool) -> str:
    """Keep every file Spark, the JVM and the Python workers write
    inside the work directory; returns the event-log directory."""
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "events")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, events, local):
        shutil.rmtree(d, ignore_errors=True)  # what earlier runs left
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # Spark 4 compresses event logs with zstd by default, and
            # the host has no Python zstd module
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


class Runner:
    """One run's Spark session, workload, server and pass/fail tally."""

    def __init__(self, args, wl, pg, load_file):
        self.args = args
        self.wl = wl
        self.pg = pg
        self.load_file = load_file
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def reset(self) -> None:
        if self.spark is not None:
            self.spark.catalog.clearCache()
        self.wl.reset(self.pg)

    def verify(self, ok: bool) -> bool:
        self.attempted += 1
        problems = self.wl.check(self.pg) if ok else ["operation raised"]
        if problems:
            self.failed += 1
            self.problems += problems
            print(f"perfbench: check failed: {problems}", file=sys.stderr)
        return not problems

    def setup(self):
        """One cold set-up: get_spark(), which launches the JVM, plus
        one warm-up operation.  Returns (seconds, OpTrace).  The warm-up
        runs under a Tracer, whose wrappers add no plan nodes, so its
        COPY input can be measured afterwards."""
        from pgloader_spark.session import get_spark

        from perfbench.trace import Tracer

        self.reset()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        with Tracer(self.spark.sparkContext).operation("warmup") as op:
            _, ok = self.run_op()
        elapsed = time.perf_counter() - t0
        self.verify(ok)
        return elapsed, op

    def run_op(self) -> tuple[float, bool]:
        """One operation on the current target: (wall seconds, finished
        without an exception)."""
        t0 = time.perf_counter()
        try:
            self.wl.run(self.load_file)
            ok = True
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        return time.perf_counter() - t0, ok

    def first_task_latency(self) -> float:
        """A one-row Python-worker job right after set-up."""
        t0 = time.perf_counter()
        self.spark.range(1).mapInPandas(lambda it: it, "id long").collect()
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def run_untraced(r: Runner, host_before: dict) -> dict:
    from perfbench import host
    from perfbench.trace import copy_bytes, median

    setup_s, warmup = r.setup()
    # COPY text bytes of one operation: the warm-up's COPY input,
    # encoded again outside every timed window
    nbytes = sum(copy_bytes(df) for fn, _, df in warmup.frames if fn == "write_pg_copy")
    first_task = r.first_task_latency()
    walls: list[float] = []
    n_ops = 0
    deadline = time.perf_counter() + r.args.seconds
    with host.RssSampler(exclude={r.pg.proc.pid}) as rss:
        while n_ops < MIN_OPS or time.perf_counter() < deadline:
            n_ops += 1
            r.reset()
            rss.start()
            wall, ok = r.run_op()
            rss.stop()
            if r.verify(ok):
                walls.append(wall)
    wall = median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (r.wl.rows / wall if wall else 0.0, "1/s"),
        "mb_per_s": (nbytes / (1 << 20) / wall if wall else 0.0, "MB/s"),
        "peak_rss_mb": (median(rss.peaks_mb), "MB"),
    }
    record = {
        "samples": {"wall_s": walls, "peak_rss_mb": rss.peaks_mb},
        "copy_bytes": nbytes,
        "rows_per_op": r.wl.rows,
        "host": host.telemetry(host_before, first_task),
    }
    return metrics, record


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the server and the JVM on its way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "pgloader_spark", "cli.py")):
        print("perfbench: no pgloader_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.pgserver import PgServer
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    events = configure_environment(bool(args.trace))
    host_before = host.snapshot()
    phases = {"startup_s": host.process_age()}
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](WORK, args.seed, args.scale)
    wl.prepare()
    phases["inputs_s"] = time.perf_counter() - t0
    r = None
    try:
        with PgServer(os.path.join(WORK, f"pg-{os.getpid()}")) as pg:
            phases["server_start_s"] = time.perf_counter() - t0 - phases["inputs_s"]
            load_file = wl.write_load_file(pg.dsn)
            r = Runner(args, wl, pg, load_file)
            if args.trace:
                from perfbench.traced import run_traced

                metrics, record = run_traced(r, events, host_before, TRACED_MIN_OPS)
            else:
                metrics, record = run_untraced(r, host_before)
            record["server_settings"] = pg.settings()
            t1 = time.perf_counter()
    finally:
        try:
            if r is not None:
                r.stop_spark()
        finally:
            shutdown_jvm()
    phases["measure_s"] = t1 - t0 - phases["inputs_s"] - phases["server_start_s"]
    phases["teardown_s"] = time.perf_counter() - t1
    record["phases_s"] = phases
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "input": wl.expected_summary(),
        "load_model": "closed loop, one client, operations back to back",
        "problems": r.problems[:20],
    })
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    )
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str))
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args, workloads: list[str]) -> int:
    """Run every workload in its own process with the same arguments;
    print each metric by name with its unit, then one combined result
    whose metric names are ``<workload>/<metric>``."""
    import subprocess

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--scale", args.scale],
            stdout=subprocess.PIPE, text=True,
        )
        if proc.returncode != 0:
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for metric, v in result["metrics"].items():
            print(f"{name:16s} {metric:28s} {v['value']:14.4f} {v['unit']}")
            combined["metrics"][f"{name}/{metric}"] = v
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
    print(json.dumps(combined), flush=True)
    return 0


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it and the Python workers
    it started."""
    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    if gw is None:
        return
    kids = host.descendants(os.getpid(), set())
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    host.wait_gone(kids, timeout=30)


if __name__ == "__main__":
    sys.exit(main())
