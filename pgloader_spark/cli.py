"""Command-line entry points.

Re-expresses pgloader's two invocation modes (``src/main.lisp``,
``src/api.lisp:29-141``):

1. ``python -m pgloader_spark file.load`` — parse and run a command
   file (§3.1);
2. ``python -m pgloader_spark SOURCE TARGET`` — sniff the source type
   from the URI / file extension (``cli-type``,
   ``src/parsers/command-parser.lisp:229+``) and synthesize the same
   LoadCommand the DSL would have produced (§3.2).

The summary report prints in the reference's table format.
"""

from __future__ import annotations

import argparse
import os
import sys

from pgloader_spark.parsers.loadcmd import LoadCommand, parse_load
from pgloader_spark.sources.jdbc import is_pg_uri, live_scheme, open_live_source

_EXT_KINDS = {
    ".csv": "csv",
    ".tsv": "csv",
    ".txt": "fixed",
    ".fixed": "fixed",
    ".copy": "copy",
    ".dat": "copy",
    ".dbf": "dbf",
    ".db3": "dbf",
    ".ixf": "ixf",
    ".jsonl": "jsonl",
    ".ndjson": "jsonl",
    # plain .json is usually ONE pretty-printed document (or a top-level
    # array), not line-delimited — Spark's default line mode would yield
    # _corrupt_record rows, so it gets its own multiLine kind
    ".json": "json",
    ".parquet": "parquet",
    ".orc": "orc",
}


def sniff_source_kind(source: str) -> str:
    """URI scheme or file extension -> source kind (cli-type)."""
    if live_scheme(source):
        return "database"
    ext = os.path.splitext(source.split("?", 1)[0])[1].lower()
    if ext in _EXT_KINDS:
        return _EXT_KINDS[ext]
    if ext in (".gz", ".zip", ".tgz", ".tar"):
        return "archive"
    return "csv"  # the reference's default guess


def command_from_uris(source: str, target: str) -> LoadCommand:
    kind = sniff_source_kind(source)
    if kind == "archive":
        from pgloader_spark.sources.files import expand_archive

        files = expand_archive(source)
        if not files:
            raise ValueError(f"empty archive: {source}")
        source = files[0]
        kind = sniff_source_kind(source)
    cmd = LoadCommand(source_kind=kind, source=source, target=target)
    if kind == "csv":
        cmd.options["header"] = True  # bare-URI mode guesses from data
    return cmd


def synthesize_command_text(
    source: str,
    target: str,
    *,
    kind: str | None = None,
    encoding: str | None = None,
    fields: list[str] | None = None,
    withs: list[str] | None = None,
    sets: list[str] | None = None,
    casts: list[str] | None = None,
    before: str | None = None,
    after: str | None = None,
) -> str:
    """Build the LOAD text the DSL would have expressed for a bare
    SOURCE TARGET invocation plus --with/--set/--field/--cast/--type/
    --encoding/--before/--after fragments — exactly the reference's
    CLI-to-command synthesis (src/api.lisp:29-141 process-command-line
    builds a command out of the option fragments and parses it with
    the normal grammar)."""
    kind = kind or sniff_source_kind(source)
    kw = "DATABASE" if kind == "database" else kind.upper()
    src = source if "://" in source else f"'{source}'"
    parts = [f"LOAD {kw}", f"FROM {src}"]
    if encoding:
        parts.append(f"WITH ENCODING {encoding}")
    if fields:
        parts.append("(" + ", ".join(fields) + ")")
    parts.append(f"INTO {target}")
    if withs:
        parts.append("WITH " + ", ".join(withs))
    if sets:
        norm = []
        for frag in sets:
            # the CLI writes work_mem='32 MB'; the DSL wants
            # work_mem TO '32 MB' (main.lisp --set handling)
            if "=" in frag and " to " not in frag.lower():
                k, _, v = frag.partition("=")
                frag = f"{k.strip()} TO {v.strip()}"
            norm.append(frag)
        parts.append("SET " + ", ".join(norm))
    if casts:
        parts.append("CAST " + ", ".join(casts))
    if before:
        parts.append(f"BEFORE LOAD EXECUTE '{before}'")
    if after:
        parts.append(f"AFTER LOAD EXECUTE '{after}'")
    return "\n".join(parts) + ";"


_KNOWN_ENCODINGS = [
    "ascii", "big5", "cp1250", "cp1251", "cp1252", "cp1253", "cp1254",
    "cp1255", "cp1256", "cp1257", "cp1258", "cp437", "cp850", "cp852",
    "cp866", "euc-jp", "euc-kr", "gb18030", "gbk", "iso-8859-1",
    "iso-8859-2", "iso-8859-3", "iso-8859-4", "iso-8859-5",
    "iso-8859-6", "iso-8859-7", "iso-8859-8", "iso-8859-9",
    "iso-8859-10", "iso-8859-13", "iso-8859-14", "iso-8859-15",
    "iso-8859-16", "koi8-r", "koi8-u", "latin-1", "shift-jis",
    "utf-8", "utf-16", "utf-16-be", "utf-16-le", "utf-32",
]


def _load_context_vars(path: str) -> dict:
    """--context FILE: INI key = value pairs feeding the {{VAR}}
    mustache expansion (the reference's command context variables)."""
    import configparser

    cp = configparser.ConfigParser()
    read = cp.read(path)
    if not read:
        # a bare KEY=VALUE file without section headers
        cp = configparser.ConfigParser()
        with open(path, encoding="utf-8") as fh:
            cp.read_string("[default]\n" + fh.read())
    out: dict = {}
    for section in cp.sections():
        out.update(dict(cp.items(section)))
    return out


def _dry_run_check(cmd: LoadCommand) -> list[tuple[str, bool, str]]:
    """--dry-run: probe every connection the command would use, load
    nothing (main.lisp dry-run)."""
    checks: list[tuple[str, bool, str]] = []

    def probe(label: str, fn) -> None:
        try:
            fn()
            checks.append((label, True, "OK"))
        except Exception as exc:  # noqa: BLE001 — report, don't raise
            checks.append((label, False, f"{type(exc).__name__}: {exc}"))

    src = cmd.source
    if live_scheme(src):
        # connect and disconnect: run no statement
        probe(f"source {src}", lambda: open_live_source(src, cmd.options).run([]))
    elif src not in ("inline", "stdin"):

        def _file():
            if not (
                src.startswith(("http://", "https://")) or os.path.exists(src)
            ):
                raise FileNotFoundError(src)

        probe(f"source {src}", _file)
    tgt = cmd.target or ""
    if is_pg_uri(tgt):
        from pgloader_spark.sources.pgwire import PGConn

        probe(f"target {tgt}", lambda: PGConn(tgt).close())
    return checks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="pgloader_spark",
        description="PySpark-native pgloader-capability engine",
    )
    ap.add_argument("source", nargs="?", help="command file (.load) or source URI/path")
    ap.add_argument("target", nargs="?", help="target URI (postgresql://... or a parquet dir)")
    ap.add_argument("-V", "--version", action="store_true", help="print version and exit")
    ap.add_argument("-E", "--list-encodings", action="store_true",
                    help="list known encodings and exit")
    ap.add_argument("-U", "--upgrade-config", action="store_true",
                    help="parse SOURCE as a v2 pgloader.conf INI file and "
                    "print the modern command syntax (reference v3 flag; "
                    "v4 removed it — we keep both the flag and direct "
                    ".conf execution)")
    ap.add_argument("-D", "--root-dir", default="/tmp/pgloader_spark", help="reject-file root")
    ap.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--no-ssl-cert-verification", action="store_true",
                    help="accepted for reference CLI compatibility (the "
                    "stdlib wire client connects without TLS; JDBC SSL "
                    "modes pass through the URI's sslmode params)")
    ap.add_argument(
        "-S", "--summary", default="text",
        help="summary format (text|csv|json) — or, like the reference, a "
        "FILENAME to copy the summary to (relative paths expand under "
        "--root-dir; format from the extension: .csv/.json/.copy, else "
        "human-readable text)")
    ap.add_argument("--on-error-stop", action="store_true")
    ap.add_argument("--dry-run", action="store_true",
                    help="only check connections, load nothing")
    ap.add_argument("-q", "--quiet", action="store_true")
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("-d", "--debug", action="store_true")
    ap.add_argument("-L", "--logfile", default=None,
                    help="file to receive the execution log")
    ap.add_argument("--client-min-messages", default="warning",
                    help="console log level (error|warning|notice|info|debug)")
    ap.add_argument("--log-min-messages", default="notice",
                    help="logfile log level")
    ap.add_argument("-C", "--context", default=None, metavar="FILE.ini",
                    help="INI file of {{VAR}} template variables")
    ap.add_argument("--with", dest="withs", action="append", default=[],
                    metavar="OPTION", help="load options (DSL WITH fragment)")
    ap.add_argument("--set", dest="sets", action="append", default=[],
                    metavar="GUC=VALUE", help="PostgreSQL session settings")
    ap.add_argument("--field", dest="fields", action="append", default=[],
                    metavar="SPEC", help="source field specifications")
    ap.add_argument("--cast", dest="casts", action="append", default=[],
                    metavar="RULE", help="cast rules (DSL CAST fragment)")
    ap.add_argument("--type", dest="force_type", default=None,
                    choices=["csv", "fixed", "copy", "dbf", "ixf"],
                    help="force the source type")
    ap.add_argument("--encoding", default=None, help="source encoding")
    ap.add_argument("--before", default=None, metavar="FILE.sql",
                    help="SQL script to run before loading")
    ap.add_argument("--after", default=None, metavar="FILE.sql",
                    help="SQL script to run after loading")
    ap.add_argument("--regress", action="store_true",
                    help="after loading, compare against the regress "
                    "expected file (regress/expected/<name>.out next to "
                    "the command file)")
    ap.add_argument(
        "--load-py-file",
        action="append",
        default=[],
        metavar="FILE.py",
        help="import a user Python file that calls "
        "register_transform(name, fn) before parsing (the reference's "
        "--load user-Lisp hook, src/main.lisp:174-183)",
    )
    ap.add_argument("--replicate", action="store_true",
                    help="CDC mode: SOURCE/TARGET are PostgreSQL DSNs; "
                    "drain the logical replication slot (--slot) into "
                    "the target exactly once per poll")
    ap.add_argument("--slot", default="pgloader_spark",
                    metavar="NAME", help="logical replication slot name")
    ap.add_argument("--tables", default=None,
                    metavar="T1:k1[,k2][:SRC1];T2:k",
                    help="replicated tables with their key columns and "
                    "an optional differently-named source table")
    ap.add_argument("--polls", type=int, default=1,
                    help="number of drain cycles (0 = poll forever)")
    ap.add_argument("--poll-interval", type=float, default=1.0,
                    metavar="SEC", help="sleep between drain cycles")
    ap.add_argument("--verify", action="store_true",
                    help="with --replicate: after the final drain cycle, "
                    "checksum-compare every replicated table against its "
                    "source (rows, distinct keys, portable checksum); "
                    "non-zero exit on mismatch")
    args = ap.parse_args(argv)

    if args.version:
        from pgloader_spark import __version__

        print(f"pgloader_spark {__version__}")
        return 0
    if args.list_encodings:
        print("\n".join(_KNOWN_ENCODINGS))
        return 0
    if not args.source:
        ap.error("SOURCE is required")
    if args.verify and not args.replicate:
        # loud-not-silent (same policy as verify_load on single-table
        # loads): --verify is only reachable from the replicate loop
        ap.error("--verify requires --replicate")
    if args.replicate:
        if not (args.target and args.tables):
            ap.error("--replicate needs SOURCE TARGET and --tables")
        if args.verify and not args.polls:
            ap.error(
                "--verify needs a bounded --polls N (the verify pass "
                "runs after the final poll; --polls 0 never ends)"
            )
        import time as _time

        from pgloader_spark.session import get_spark
        from pgloader_spark.sources.pg_cdc import replicate_pg_tables

        tables: dict[str, list[str]] = {}
        src_tables: dict[str, str] = {}
        for spec in args.tables.split(";"):
            parts = spec.split(":")
            tname = parts[0].strip()
            tables[tname] = [
                k.strip() for k in parts[1].split(",") if k.strip()
            ]
            if len(parts) > 2 and parts[2].strip():
                src_tables[tname] = parts[2].strip()
        spark = get_spark(master=args.master)
        cycles = 0
        while True:
            got = replicate_pg_tables(
                spark, args.source, args.slot, args.target, tables,
                src_tables=src_tables,
            )
            if got:
                print(
                    "applied "
                    + ", ".join(f"{t}={n}" for t, n in sorted(got.items()))
                )
            cycles += 1
            if args.polls and cycles >= args.polls:
                if args.verify:
                    from pgloader_spark.plans.verify_load import (
                        verify_replication,
                    )

                    bad = []
                    for tname, keys in tables.items():
                        row = verify_replication(
                            spark, args.source, args.target,
                            src_tables.get(tname, tname), tname, keys,
                        ).collect()[0]
                        status = "OK" if row.match else "MISMATCH"
                        print(
                            f"verify {tname}: {status} "
                            f"(src {row.src_rows} rows / {row.src_checksum}, "
                            f"tgt {row.tgt_rows} rows / {row.tgt_checksum})"
                        )
                        if not row.match:
                            bad.append(tname)
                    return 1 if bad else 0
                return 0
            _time.sleep(args.poll_interval)
    if args.upgrade_config:
        # convert-ini-into-commands (parse-ini.lisp:322-330): print the
        # modern syntax for each section, blank-line separated
        from pgloader_spark.parsers.ini_compat import convert_ini_into_commands

        print("\n\n\n".join(convert_ini_into_commands(args.source)))
        return 0

    import logging

    levels = {"error": logging.ERROR, "warning": logging.WARNING,
              "notice": logging.INFO, "info": logging.INFO,
              "debug": logging.DEBUG}
    console = levels.get(args.client_min_messages.lower(), logging.WARNING)
    if args.quiet:
        console = logging.ERROR
    if args.verbose:
        console = logging.INFO
    if args.debug:
        console = logging.DEBUG
    logging.basicConfig(level=console)
    if args.logfile:
        fh = logging.FileHandler(args.logfile)
        fh.setLevel(levels.get(args.log_min_messages.lower(), logging.INFO))
        logging.getLogger().addHandler(fh)

    from pgloader_spark.functions.transforms import load_plugin_file

    for plugin in args.load_py_file:
        load_plugin_file(plugin)

    from pgloader_spark.parsers import loadcmd as _loadcmd
    from pgloader_spark.plans.executor import (
        ExecutionContext,
        execute,
        execute_archive,
        execute_database,
        sink_for,
    )
    from pgloader_spark.session import get_spark

    context_vars = _load_context_vars(args.context) if args.context else {}

    def _parse(text: str) -> LoadCommand:
        if context_vars:
            import re as _re

            text = _re.sub(
                r"\{\{(\w+)\}\}",
                lambda m: str(context_vars.get(m.group(1).lower(),
                                               context_vars.get(m.group(1),
                                                                m.group(0)))),
                text,
            )
        return parse_load(text)

    extra_cmds: list[LoadCommand] = []
    if args.source.endswith((".conf", ".ini")):
        # legacy pgloader v2 INI configuration: each data section
        # translates to a modern LOAD CSV command (parse-ini.lisp)
        from pgloader_spark.parsers.ini_compat import convert_ini_into_commands

        texts = convert_ini_into_commands(args.source)
        if not texts:
            ap.error(f"no loadable sections in {args.source}")
        ini_dir = os.path.dirname(os.path.abspath(args.source))
        cmds = []
        for text in texts:
            c = _parse(text)
            c.source_dir = ini_dir  # filenames resolve INI-relative
            cmds.append(c)
        cmd, extra_cmds = cmds[0], cmds[1:]
    elif args.source.endswith(".load"):
        with open(args.source) as fh:
            cmd = _parse(fh.read())
        cmd.source_dir = cmd.source_dir or os.path.dirname(
            os.path.abspath(args.source)
        )
    elif (args.withs or args.sets or args.fields or args.casts
          or args.force_type or args.encoding or args.before or args.after):
        if not args.target:
            ap.error("TARGET is required when SOURCE is not a .load file")
        cmd = _parse(
            synthesize_command_text(
                args.source, args.target,
                kind=args.force_type, encoding=args.encoding,
                fields=args.fields, withs=args.withs, sets=args.sets,
                casts=args.casts, before=args.before, after=args.after,
            )
        )
    else:
        if not args.target:
            ap.error("TARGET is required when SOURCE is not a .load file")
        cmd = command_from_uris(args.source, args.target)

    if args.dry_run:
        checks = _dry_run_check(cmd)
        ok = all(c[1] for c in checks)
        for label, good, msg in checks:
            print(f"{'OK  ' if good else 'FAIL'} {label}: {msg}")
        return 0 if ok else 1

    _ = _loadcmd  # imported for plugin-registered transform visibility

    from pyspark.sql import SparkSession

    # only stop a session this invocation created: in-process callers
    # (tests, notebooks) own their session and getOrCreate reuses it
    preexisting = (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
    )
    spark = get_spark("pgloader_spark", master=args.master)
    try:
        from pgloader_spark.sources.pgwire import PGConn

        # BEFORE/AFTER LOAD DO/EXECUTE statements run against the
        # PostgreSQL target when there is one (api.lisp's
        # pgsql-execute-with-timing surface).  A legacy INI file may
        # carry several data sections -> several commands, run in
        # file order like the reference's section loop.
        reports = []
        for one_cmd in (cmd, *extra_cmds):
            # one destination per command, TARGET over the command's
            # INTO: the hooks and the sink use it, and so do a LOAD
            # DATABASE's DDL and verify load, which read it from the
            # command (its INTO names no table)
            dest = args.target or one_cmd.target or ""
            if one_cmd.source_kind == "database":
                one_cmd.target = dest
            sql_runner = None
            if is_pg_uri(dest):
                def sql_runner(stmt: str, dest: str = dest) -> None:
                    with PGConn(dest) as conn:
                        conn.query(stmt)

            ctx = ExecutionContext(
                spark=spark,
                root_dir=args.root_dir,
                sql_runner=sql_runner,
                sink=sink_for(
                    dest, one_cmd.source_kind, args.root_dir,
                    args.on_error_stop,
                ) if dest else None,
            )
            if one_cmd.source_kind == "database":
                reports.extend(execute_database(ctx, one_cmd))
            elif one_cmd.source_kind == "archive":
                reports.extend(execute_archive(ctx, one_cmd))
            else:
                reports.append(execute(ctx, one_cmd))

        if args.regress:
            from pgloader_spark.plans.regress import (
                expected_path_for,
                regress_compare,
            )

            exp = (
                expected_path_for(args.source)
                if args.source.endswith(".load")
                else None
            )
            if exp is None:
                print("regress: no expected file for this command")
                return 2
            tgt = cmd.target or args.target
            diffs = regress_compare(tgt, reports[0].table, exp)
            if diffs:
                print(f"regress: FAIL ({diffs} differing rows)")
                return 1
            print("regress: pass")

        from pgloader_spark.plans.orchestrate import MigrationSummary

        summary = MigrationSummary(results=reports)
        fmts = {
            "text": summary.to_text,
            "csv": summary.to_csv,
            "json": summary.to_json,
            "copy": summary.to_copy,
        }
        if args.summary in fmts:
            print(fmts[args.summary]())
        else:
            # reference semantics: --summary FILENAME copies the
            # summary there (relative -> *root-dir*), format from the
            # extension (.csv/.json/.copy, else human-readable)
            path = args.summary
            if not os.path.isabs(path):
                os.makedirs(args.root_dir, exist_ok=True)
                path = os.path.join(args.root_dir, path)
            ext = os.path.splitext(path)[1].lstrip(".").lower()
            with open(path, "w") as fh:
                fh.write(fmts.get(ext, summary.to_text)() + "\n")
            print(summary.to_text())
        return 0
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
