"""Orchestration tests (reference: src/load/migrate-database.lisp,
src/utils/report.lisp)."""

from __future__ import annotations

import json

from pgloader_spark.catalog import Catalog, Column, Index, FKey, Schema, Table
from pgloader_spark.plans.executor import LoadReport
from pgloader_spark.plans.orchestrate import (
    MigrationSummary,
    plain_index_statements,
    post_load_statements,
)


def test_summary_formats():
    s = MigrationSummary(
        results=[
            LoadReport("a", read=100, loaded=99, errors=1, seconds=1.5),
            LoadReport("b", read=5, loaded=5, errors=0, seconds=0.25),
        ]
    )
    text = s.to_text()
    assert "table name" in text
    assert "Total import time" in text
    assert "105" in text  # total read
    csv = s.to_csv()
    assert csv.splitlines()[1] == "a;100;99;1;1.500"
    data = json.loads(s.to_json())
    assert data["tables"][0]["table"] == "a"
    assert data["total_seconds"] == 1.75


def test_post_load_statements_order():
    cat = Catalog(
        "db",
        [
            Schema(
                "public",
                [
                    Table(
                        "t",
                        columns=[
                            Column("id", "bigint", extra={"serial": True}),
                            Column("v", "text"),
                        ],
                        indexes=[
                            Index("t_pkey", "t", ["id"], unique=True, primary=True),
                            Index("t_v_idx", "t", ["v"]),
                        ],
                        fkeys=[FKey("t_fk", "t", ["v"], "other", ["v"])],
                    )
                ],
            )
        ],
    )
    # plain indexes build first, in parallel, from their own list
    idx = plain_index_statements(cat)
    assert len(idx) == 1 and idx[0].startswith("CREATE INDEX t_v_idx")
    stmts = post_load_statements(cat)
    assert stmts[0] == "ALTER TABLE t ADD PRIMARY KEY (id);"
    assert "FOREIGN KEY" in stmts[1]
    assert stmts[2].startswith("SELECT setval('t_id_seq'")
    assert not any(s.startswith("CREATE INDEX") for s in stmts)
