"""Database-source planning tests (no live server needed — range
splits, pushdown expressions and catalog SQL are pure data;
reference: src/sources/mysql/mysql.lisp:10-62,
clojure/src/pgloader/source/pgsql.sql:97-112)."""

from __future__ import annotations

from pgloader_spark.sources.jdbc import (
    fields_from_mysql_columns,
    key_ranges,
    mssql_select_expr,
    mysql_columns_sql,
    mysql_select_expr,
)
from pgloader_spark.sources.pg_live import ctid_ranges


def test_range_partition_plan():
    # the reference's integer-pkey split: [min, max+1) in 10k ranges
    ranges = key_ranges(10001, 499999 + 1, 10_000)
    assert len(ranges) == 49
    assert ranges[0] == (10001, 20001)
    assert ranges[-1] == (490001, 500001)
    # tiny table -> one range
    assert key_ranges(1, 51, 10_000) == [(1, 10_001)]
    # empty table -> no range
    assert key_ranges(5, 5, 10_000) == []


def test_ctid_partition_plan():
    ranges = ctid_ranges(2500, 1000)
    assert len(ranges) == 3
    assert ranges[0] == (0, 1000)
    # last range open-ended (concurrent inserts land in new pages)
    assert ranges[2] == (2000, -1)
    assert ctid_ranges(1, 1000) == [(0, -1)]


def test_pushdown_exprs():
    assert mysql_select_expr("loc", "point") == "ST_AsText(`loc`) AS `loc`"
    assert mysql_select_expr("name", "varchar") == "`name`"
    assert mssql_select_expr("created", "datetime") == (
        "CONVERT(varchar(33), [created], 126) AS [created]"
    )


def test_introspection_sql_shape():
    sql = mysql_columns_sql("sakila")
    assert "information_schema.columns" in sql
    assert "table_schema = 'sakila'" in sql


def test_fields_from_mysql_columns():
    rows = [
        {
            "table_name": "t", "column_name": "id", "data_type": "int",
            "column_type": "int(11) unsigned", "column_default": None,
            "is_nullable": "NO", "extra": "auto_increment",
        },
        {
            "table_name": "t", "column_name": "price", "data_type": "decimal",
            "column_type": "decimal(10,2)", "column_default": "0.00",
            "is_nullable": "YES", "extra": "",
        },
    ]
    fields = fields_from_mysql_columns(rows)
    assert fields[0].type_name == "int"
    assert fields[0].unsigned is True
    assert fields[0].extra == "auto_increment"
    assert not fields[0].nullable
    assert fields[1].type_mod == "(10,2)"
    # feed into the cast engine end to end
    from pgloader_spark.casting import CastEngine

    eng = CastEngine("mysql")
    res = eng.cast(fields[0])
    assert res.pg_type == "serial"  # auto_increment wins
    res2 = eng.cast(fields[1])
    assert res2.pg_type == "numeric"
    assert res2.type_mod == "(10,2)"


def test_mssql_introspection_sql_shape():
    from pgloader_spark.sources.jdbc import (
        mssql_columns_sql,
        mssql_fkeys_sql,
        mssql_indexes_sql,
    )

    cols = mssql_columns_sql("AdventureWorks")
    assert "information_schema.columns" in cols
    assert "table_catalog = 'AdventureWorks'" in cols
    assert "IsIdentity" in cols
    fk = mssql_fkeys_sql("AdventureWorks")
    assert "referential_constraints" in fk
    assert "NOT IN ('dto', 'sys')" in fk
    idx = mssql_indexes_sql()
    assert "sys.indexes" in idx and "filter_definition" in idx


def test_mssql_normalize_default():
    from pgloader_spark.sources.jdbc import mssql_normalize_default

    assert mssql_normalize_default("((newid()))") == "GENERATE_UUID"
    assert mssql_normalize_default("(getdate())") == "CURRENT_TIMESTAMP"
    assert mssql_normalize_default("((sysdatetimeoffset()))") == "CURRENT_TIMESTAMP"
    assert mssql_normalize_default("(convert(varchar(10),getdate(),120))") == "today"
    assert mssql_normalize_default("(('pending'))") == "pending"
    assert mssql_normalize_default("((0))") == "0"
    assert mssql_normalize_default(None) is None


def test_mysql_checks_and_comments_attach():
    from pgloader_spark.catalog import Catalog, Column, Schema, Table
    from pgloader_spark.sources.jdbc import (
        attach_mysql_checks,
        attach_mysql_comments,
        mysql_check_clause_to_pg,
        mysql_checks_sql,
        mysql_column_comments_sql,
        mysql_table_comments_sql,
    )

    assert "check_constraints" in mysql_checks_sql("sakila")
    assert "table_comment" in mysql_table_comments_sql("sakila")
    assert "column_comment" in mysql_column_comments_sql("sakila")
    assert mysql_check_clause_to_pg("(`qty` > 0)") == '("qty" > 0)'

    cat = Catalog("db", [Schema("public", [
        Table("t", columns=[Column("qty", "integer")]),
    ])])
    attach_mysql_checks(cat, [
        {"table_name": "t", "constraint_name": "chk_qty",
         "check_clause": "(`qty` > 0)"},
    ])
    attach_mysql_comments(
        cat,
        table_rows=[{"table_name": "t", "table_comment": "orders table"}],
        column_rows=[{"table_name": "t", "column_name": "qty",
                      "column_comment": "quantity"}],
    )
    t = cat.schemas[0].tables[0]
    assert t.check_constraints == [("chk_qty", '("qty" > 0)')]
    assert t.comment == "orders table"
    assert t.columns[0].comment == "quantity"
    # and the post-load DDL picks them all up
    from pgloader_spark.plans.orchestrate import post_load_statements

    stmts = post_load_statements(cat)
    assert any('CHECK (("qty" > 0))' in s for s in stmts)
    assert any(s.startswith("COMMENT ON TABLE") for s in stmts)
    assert any(s.startswith("COMMENT ON COLUMN") for s in stmts)
