"""Catalog model unit tests (reference: src/utils/catalog.lisp,
src/utils/quoting.lisp, src/pgsql/pgsql-ddl.lisp)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from pgloader_spark.catalog import (
    Column,
    FKey,
    IdentifierCollision,
    Index,
    Table,
    apply_identifier_case,
    check_collisions,
    copy_ordering,
    quote_ident,
    truncate_identifier,
)


def test_identifier_case_modes():
    assert apply_identifier_case("MyTable", "downcase") == "mytable"
    assert apply_identifier_case("MyTable", "quote") == "MyTable"
    assert apply_identifier_case("MyTableName", "snake_case") == "my_table_name"


def test_quote_ident_reserved_and_mixed_case():
    assert quote_ident("user") == '"user"'
    assert quote_ident("order") == '"order"'
    assert quote_ident("MyCol") == '"MyCol"'
    assert quote_ident("plain_name") == "plain_name"


def test_truncate_identifier_63_bytes():
    long = "a" * 80
    assert truncate_identifier(long) == "a" * 63
    assert truncate_identifier("short") == "short"


def test_collision_detection():
    with pytest.raises(IdentifierCollision):
        check_collisions(["a" * 70, "a" * 63 + "zzzzzzz"])
    ok = check_collisions(["x", "y"])
    assert ok == {"x": "x", "y": "y"}


def test_table_ddl_and_spark_schema():
    t = Table(
        name="orders",
        columns=[
            Column("o_orderkey", "bigint", nullable=False, spark_type=T.LongType()),
            Column("o_comment", "varchar", "(79)", spark_type=T.StringType()),
        ],
        indexes=[Index("orders_pk", "orders", ["o_orderkey"], unique=True, primary=True)],
        fkeys=[FKey("fk_cust", "orders", ["o_custkey"], "customer", ["c_custkey"])],
    )
    ddl = t.to_create_ddl(schema="public")
    assert "CREATE TABLE public.orders" in ddl
    assert "o_orderkey bigint NOT NULL" in ddl
    assert "o_comment varchar(79)" in ddl
    schema = t.spark_schema()
    assert schema.fields[0].dataType == T.LongType()
    assert schema.fields[1].metadata["pg_typemod"] == "(79)"
    idx = t.indexes[0].to_ddl("public")
    assert idx == "CREATE UNIQUE INDEX orders_pk ON public.orders (o_orderkey);"
    fk = t.fkeys[0].to_ddl()
    assert "FOREIGN KEY (o_custkey) REFERENCES customer (c_custkey)" in fk


def test_copy_ordering_largest_first():
    ts = [Table("a", row_count_estimate=5), Table("b", row_count_estimate=500), Table("c")]
    assert [t.name for t in copy_ordering(ts)] == ["b", "a", "c"]
