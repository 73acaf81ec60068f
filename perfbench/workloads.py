"""The benchmark's workloads: LOAD commands run through the CLI entry
point ``pgloader_spark.cli.main`` into the scratch server.

Each workload generates its input once per seed (outside every timed
window), resets the target before each operation, and checks the
target after each operation against values computed from the
generated rows.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

from perfbench import gen

# rows (csv) or orders (sqlite) per operation, by scale
SIZES = {
    "csv_lineitem_pg": {"full": 240_000, "tiny": 2_000},
    "sqlite_tpch_pg": {"full": 6_000, "tiny": 300},
}


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, scale: str):
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.cache_dir = os.path.join(work, "inputs", f"{self.name}-{self.size}-{seed}")
        self.root_dir = os.path.join(work, "rejects")
        self.expected: dict = {}

    def prepare(self) -> None:
        """Generate the input (cached per seed) and its expected values."""
        meta = os.path.join(self.cache_dir, "expected.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                self.expected = json.load(fh)
            return
        os.makedirs(self.cache_dir, exist_ok=True)
        self.expected = self._generate()
        with open(meta + ".part", "w") as fh:
            json.dump(self.expected, fh)
        os.replace(meta + ".part", meta)

    def _generate(self) -> dict:
        raise NotImplementedError

    def expected_summary(self) -> dict:
        return {"size": self.size, "rows_per_op": self.rows, "files": self.cache_dir}

    def load_text(self, dsn: str) -> str:
        raise NotImplementedError

    def write_load_file(self, dsn: str) -> str:
        path = os.path.join(self.work, f"{self.name}.load")
        with open(path, "w") as fh:
            fh.write(self.load_text(dsn))
        return path

    def reset(self, pg) -> None:
        """Fresh target state, flushed to disk, before each operation."""
        pg.query("DROP SCHEMA IF EXISTS public CASCADE")
        pg.query("CREATE SCHEMA public")
        pg.query("CHECKPOINT")

    def run(self, load_file: str) -> None:
        """One operation: the CLI call, until rows are committed and the
        post-load DDL is done."""
        from pgloader_spark.cli import main

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = main([load_file, "--root-dir", self.root_dir, "-q"])
        if rc != 0:
            raise RuntimeError(f"pgloader_spark exited {rc}: {out.getvalue()[-400:]}")

    @property
    def rows(self) -> int:
        """Rows committed by one operation."""
        raise NotImplementedError

    def check(self, pg) -> list[str]:
        """Problems found in the target; empty when correct."""
        raise NotImplementedError

    def _check_table(self, pg, table: str, columns, rows: int, checksum: int) -> list[str]:
        n, got = pg.query(gen.checksum_sql(table, columns))[0]
        problems = []
        if int(n) != rows:
            problems.append(f"{table}: {n} rows, expected {rows}")
        elif int(got) != checksum:
            problems.append(f"{table}: checksum {got}, expected {checksum}")
        return problems


class CsvLineitem(Workload):
    """LOAD CSV of lineitem-shaped rows into an existing table."""

    name = "csv_lineitem_pg"

    @property
    def csv_path(self) -> str:
        return os.path.join(self.cache_dir, "lineitem.csv")

    def _generate(self) -> dict:
        return gen.write_lineitem_csv(self.csv_path, self.seed, self.size)

    def load_text(self, dsn: str) -> str:
        names = [c for c, _ in gen.LINEITEM_COLUMNS]
        targets = ", ".join(f"{c} {t}" for c, t in gen.LINEITEM_COLUMNS)
        return (
            f"LOAD CSV\n  FROM '{self.csv_path}' ({', '.join(names)})\n"
            f"  INTO {dsn}?lineitem ({targets})\n"
            "  WITH fields terminated by '|', null if '';\n"
        )

    def reset(self, pg) -> None:
        super().reset(pg)
        cols = ", ".join(
            f"{c} {gen.LINEITEM_DDL_TYPES.get(t, t)}" for c, t in gen.LINEITEM_COLUMNS
        )
        pg.query(f"CREATE TABLE lineitem ({cols})")

    @property
    def rows(self) -> int:
        return self.expected["rows"]

    def check(self, pg) -> list[str]:
        return self._check_table(
            pg, "lineitem", [c for c, _ in gen.LINEITEM_COLUMNS],
            self.expected["rows"], self.expected["checksum"],
        )


class SqliteTpch(Workload):
    """LOAD DATABASE from a SQLite file: create tables, copy, then
    build primary keys, indexes and foreign keys."""

    name = "sqlite_tpch_pg"

    @property
    def db_path(self) -> str:
        return os.path.join(self.cache_dir, "tpch.db")

    def _generate(self) -> dict:
        return gen.write_tpch_sqlite(self.db_path, self.seed, self.size)

    def load_text(self, dsn: str) -> str:
        return (
            f"LOAD DATABASE\n  FROM sqlite://{self.db_path}\n  INTO {dsn}\n"
            "  WITH include drop, create tables, create indexes, reset sequences;\n"
        )

    @property
    def rows(self) -> int:
        return sum(t["rows"] for t in self.expected.values())

    def check(self, pg) -> list[str]:
        problems = []
        for table, exp in self.expected.items():
            problems += self._check_table(pg, table, exp["columns"], exp["rows"], exp["checksum"])
        problems += self._check_catalog(pg)
        return problems

    def _check_catalog(self, pg) -> list[str]:
        """Primary keys, secondary indexes and foreign keys as declared
        in the source schema; every sequence has been set."""
        got_idx = {
            (t, tuple(cols.split(",")), prim == "t")
            for t, cols, prim in pg.query(
                "SELECT c.relname, string_agg(a.attname, ',' ORDER BY k.ord), "
                "i.indisprimary FROM pg_index i "
                "JOIN pg_class c ON c.oid = i.indrelid "
                "JOIN pg_namespace n ON n.oid = c.relnamespace AND n.nspname = 'public' "
                "CROSS JOIN LATERAL unnest(i.indkey::int2[]) WITH ORDINALITY k(attnum, ord) "
                "JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum = k.attnum "
                "GROUP BY i.indexrelid, c.relname, i.indisprimary"
            )
        }
        got_fk = {
            (t, tuple(cols.split(",")), ft, tuple(fcols.split(",")))
            for t, cols, ft, fcols in pg.query(
                "SELECT c.relname, "
                "(SELECT string_agg(attname, ',' ORDER BY array_position(k.conkey, attnum)) "
                " FROM pg_attribute WHERE attrelid = k.conrelid AND attnum = ANY (k.conkey)), "
                "f.relname, "
                "(SELECT string_agg(attname, ',' ORDER BY array_position(k.confkey, attnum)) "
                " FROM pg_attribute WHERE attrelid = k.confrelid AND attnum = ANY (k.confkey)) "
                "FROM pg_constraint k JOIN pg_class c ON c.oid = k.conrelid "
                "JOIN pg_class f ON f.oid = k.confrelid WHERE k.contype = 'f'"
            )
        }
        want_idx, want_fk = set(), set()
        for t, spec in gen.SQLITE_SCHEMA.items():
            want_idx.add((t, spec["pk"], True))
            want_idx |= {(t, cols, False) for cols in spec["indexes"]}
            want_fk |= {(t, cols, ft, fcols) for cols, ft, fcols in spec["fkeys"]}
        problems = []
        if got_idx != want_idx:
            problems.append(f"indexes {sorted(got_idx ^ want_idx)} differ")
        if got_fk != want_fk:
            problems.append(f"foreign keys {sorted(got_fk ^ want_fk)} differ")
        for seq, behind in pg.query(
            "SELECT s.relname, (SELECT last_value FROM pg_sequences q "
            " WHERE q.sequencename = s.relname) IS NULL FROM pg_class s "
            "WHERE s.relkind = 'S'"
        ):
            if behind == "t":
                problems.append(f"sequence {seq} was not reset")
        return problems


WORKLOADS = {w.name: w for w in (CsvLineitem, SqliteTpch)}
