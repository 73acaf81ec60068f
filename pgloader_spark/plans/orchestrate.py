"""Migration orchestration: the complete phase and the summary.

Re-expresses the parts of ``copy-database`` (``src/load/migrate-
database.lisp:326-594``) that follow the data phase; the table loop
itself is ``plans.executor.execute_database``, which loads the tables
one at a time, largest first (``catalog.copy_ordering``):

- **Complete phase** (``complete-pgsql-database``): PK promotion,
  secondary indexes on concurrent connections, FKs, sequence resets,
  CHECKs, triggers, comments — with reconnect-and-resume on
  connection loss.
- **Summary report** (``src/utils/report.lisp:28-38``, state structs
  ``src/utils/state.lisp:11-40``): per-table read/loaded/errors/secs
  rendered as text table, csv, or json.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pgloader_spark.catalog import Catalog

if TYPE_CHECKING:
    from pgloader_spark.plans.executor import LoadReport


@dataclass
class MigrationSummary:
    results: list[LoadReport] = field(default_factory=list)

    @property
    def total_seconds(self) -> float:
        return sum(r.seconds for r in self.results)

    def to_text(self) -> str:
        """The reference's summary table shape (report.lisp:28-38)."""
        name_w = max([len(r.table) for r in self.results] + [10])
        lines = [
            f"{'table name':<{name_w}}  {'read':>10} {'imported':>10} {'errors':>8} {'total time':>11}",
            f"{'-' * name_w}  {'-' * 10} {'-' * 10} {'-' * 8} {'-' * 11}",
        ]
        for r in self.results:
            lines.append(
                f"{r.table:<{name_w}}  {r.read:>10} {r.loaded:>10} "
                f"{r.errors:>8} {r.seconds:>10.3f}s"
            )
        lines.append(f"{'-' * name_w}  {'-' * 10} {'-' * 10} {'-' * 8} {'-' * 11}")
        total_read = sum(r.read for r in self.results)
        total_loaded = sum(r.loaded for r in self.results)
        total_err = sum(r.errors for r in self.results)
        lines.append(
            f"{'Total import time':<{name_w}}  {total_read:>10} "
            f"{total_loaded:>10} {total_err:>8} {self.total_seconds:>10.3f}s"
        )
        return "\n".join(lines)

    def to_csv(self) -> str:
        rows = ["table;read;imported;errors;seconds"]
        rows += [
            f"{r.table};{r.read};{r.loaded};{r.errors};{r.seconds:.3f}"
            for r in self.results
        ]
        return "\n".join(rows)

    def to_copy(self) -> str:
        """PostgreSQL COPY text format (the reference's .copy summary
        flavor, report.lisp): tab-separated, no header."""
        return "\n".join(
            f"{r.table}\t{r.read}\t{r.loaded}\t{r.errors}\t{r.seconds:.3f}"
            for r in self.results
        )

    def to_json(self) -> str:
        return json.dumps(
            {
                "tables": [
                    {k: getattr(r, k)
                     for k in ("table", "read", "loaded", "errors", "seconds")}
                    for r in self.results
                ],
                "total_seconds": round(self.total_seconds, 3),
            }
        )


def _is_connection_loss(exc: Exception) -> bool:
    """The postgresql-unavailable condition class
    (migrate-database.lisp:227): socket-level failures, the server's
    connection-exception SQLSTATEs (08xxx), and admin/crash shutdown
    (57P01/57P02) or cannot-connect-now (57P03, mid-restart)."""
    if isinstance(exc, OSError):
        return True
    state = getattr(exc, "sqlstate", "") or ""
    return (
        state.startswith("08")
        or state in ("57P01", "57P02", "57P03")
        or "closed connection" in str(exc)
    )


def run_post_load(
    dsn: str,
    statements: list[str],
    max_retries: int = 5,
    retry_sleep: float = 2.0,
    *,
    errors: list[str],
) -> int:
    """Run the complete-phase DDL with reconnect-and-resume on
    connection loss (``complete-pgsql-database``'s
    ``postgresql-unavailable`` handler,
    ``src/load/migrate-database.lisp:227-250``).

    Each statement autocommits.  On connection loss the retry waits
    the reference's 2-second grace (ECONNREFUSED if we reconnect too
    soon, its comment verbatim) and RESUMES from the failed statement
    on a fresh connection: committed DDL never re-runs, so no
    idempotency demands.  Ordinary SQL errors are collected into
    ``errors`` and skipped — the reference's per-statement
    log-and-continue (``pgsql-execute-with-timing``), so one
    unbuildable index cannot abort a finished data load.

    Bounded retries instead of the reference's unbounded recursion.
    Returns the number of statements that executed successfully.
    """
    from pgloader_spark.sources.pgwire import PGConn, PGError

    last: Exception | None = None
    pos = 0
    n_ok = 0
    for attempt in range(max_retries + 1):
        if attempt:
            time.sleep(retry_sleep)
        try:
            with PGConn(dsn) as conn:
                while pos < len(statements):
                    try:
                        conn.query(statements[pos])
                        n_ok += 1
                    except PGError as exc:
                        if _is_connection_loss(exc):
                            raise
                        if getattr(exc, "sqlstate", "") in (
                            "42P07", "42710", "42711", "42P16",
                        ):
                            # duplicate object: the statement committed
                            # on a previous attempt before the line
                            # dropped — at-least-once + duplicate-
                            # tolerant = converged
                            n_ok += 1
                        else:
                            errors.append(f"{statements[pos]} -- {exc}")
                    pos += 1
                return n_ok
        except (OSError, PGError) as exc:
            if not _is_connection_loss(exc):
                raise
            last = exc
            # pos is NOT advanced — the in-flight statement re-runs on
            # the fresh connection, and if it had actually committed
            # the duplicate-object branch above counts it done
    raise RuntimeError(
        f"post-load DDL failed after {max_retries} reconnect attempts: {last}"
    )


def plain_index_statements(catalog: Catalog) -> list[str]:
    """Non-PK CREATE INDEX DDL only — the parallelizable phase (each
    index builds independently on its own connection)."""
    stmts: list[str] = []
    for schema in catalog.schemas:
        for t in schema.tables:
            for idx in t.indexes:
                if not idx.primary:
                    stmts.append(
                        idx.to_ddl(schema.name if schema.name != "public" else None)
                    )
    return stmts


def run_parallel_indexes(
    dsn: str,
    statements: list[str],
    workers: int | None = None,
    *,
    errors: list[str],
) -> int:
    """CREATE INDEX across WORKERS concurrent connections — the
    reference's idx-kernel (``migrate-database.lisp:414-423``: kernel
    size = ``max-parallel-create-index`` or the max index count of any
    one table).  Index builds dominate complete-phase wall clock on a
    big migration, and PostgreSQL sorts each build independently, so N
    connections buy ~N×.  Each statement gets :func:`run_post_load`'s
    single-statement reconnect/duplicate-tolerant resilience.  Returns
    the number built."""
    if not statements:
        return 0
    workers = workers or min(len(statements), 8)
    n_ok = 0
    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        futs = [
            pool.submit(run_post_load, dsn, [stmt], errors=errors)
            for stmt in statements
        ]
        for f in as_completed(futs):
            n_ok += f.result()
    return n_ok


def post_load_statements(
    catalog: Catalog,
    create_indexes: bool = True,
    foreign_keys: bool = True,
    reset_sequences: bool = True,
) -> list[str]:
    """The complete-phase DDL in dependency order
    (``complete-pgsql-database``, ``migrate-database.lisp:153-226``):
    unique-index -> PRIMARY KEY promotion, FKs (which need the
    PKs/unique indexes on the referenced side), sequence resets
    (max() benefits from the fresh indexes), CHECK constraints,
    triggers + procedures, comments last — emitted as SQL for the
    JDBC runner.  Plain indexes are not in the list: they build
    first, in parallel, from :func:`plain_index_statements`.  The
    three booleans mirror the reference's WITH flags (create no
    indexes / no foreign keys / reset no sequences)."""
    from pgloader_spark.plans.ddl import (
        check_constraint_statements,
        comment_statements,
        create_trigger_statements,
    )

    stmts: list[str] = []
    if create_indexes:
        for schema in catalog.schemas:
            for t in schema.tables:
                qt = (
                    f"{schema.name}.{t.name}"
                    if schema.name != "public"
                    else t.name
                )
                for idx in t.indexes:
                    if idx.primary:
                        cols = ", ".join(idx.columns)
                        stmts.append(
                            f"ALTER TABLE {qt} ADD PRIMARY KEY ({cols});"
                        )
    if foreign_keys:
        for schema in catalog.schemas:
            for t in schema.tables:
                for fk in t.fkeys:
                    stmts.append(fk.to_ddl(schema.name if schema.name != "public" else None))
    if reset_sequences:
        for schema in catalog.schemas:
            for t in schema.tables:
                qt = (
                    f"{schema.name}.{t.name}"
                    if schema.name != "public"
                    else t.name
                )
                for c in t.columns:
                    if c.extra.get("serial"):
                        seq = f"{t.name}_{c.name}_seq"
                        qseq = (
                            f"{schema.name}.{seq}"
                            if schema.name != "public"
                            else seq
                        )
                        stmts.append(
                            f"SELECT setval('{qseq}', "
                            f"(SELECT GREATEST(MAX({c.name}), 1) FROM {qt}));"
                        )
    stmts += check_constraint_statements(catalog)
    stmts += create_trigger_statements(catalog)
    stmts += comment_statements(catalog)
    return stmts
