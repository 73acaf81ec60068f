"""Index-filter translation + ALTER rules tests (reference:
src/sources/mssql/mssql-index-filters.lisp, src/utils/alter-table.lisp)."""

from __future__ import annotations

import pytest

from pgloader_spark.catalog import Catalog, Schema, Table
from pgloader_spark.parsers.index_filters import (
    IndexFilterError,
    translate_index_filter,
)
from pgloader_spark.plans.alter_rules import (
    AlterRule,
    apply_schema_rules,
    apply_table_rules,
)


def test_translate_simple_comparison():
    assert translate_index_filter("([status]=(1))") == "(status = 1)"


def test_translate_nstring_and_in():
    got = translate_index_filter("[type] IN (N'a', N'b')")
    assert got == "type IN ('a', 'b')"


def test_translate_and_or_between():
    got = translate_index_filter(
        "([qty] BETWEEN (10) AND (20) OR [name] IS NOT NULL)"
    )
    assert got == "(qty BETWEEN 10 AND 20 OR name IS NOT NULL)"


def test_translate_folds_identifiers():
    got = translate_index_filter("([Status]=(1) AND Kind IS NULL)", str.lower)
    assert got == "(status = 1 AND kind IS NULL)"


def test_translate_neq_and_reserved_ident():
    got = translate_index_filter("[user]<>(0) AND [order] IS NULL")
    assert got == '"user" <> 0 AND "order" IS NULL'


def test_translate_unary_minus():
    assert translate_index_filter("([status]>(-1))") == "(status > -1)"
    assert translate_index_filter("[n] IN (-1, 2)") == "n IN (-1, 2)"


def test_translate_arithmetic():
    """An arithmetic predicate keeps its filtered index: before, the
    tokenizer stopped at the operator and the index was skipped."""
    assert translate_index_filter("([a]+[b])>(0)") == "(a + b) > 0"
    assert translate_index_filter("([qty]*(2))>=(10)") == "(qty * 2) >= 10"
    assert translate_index_filter("([a]-[b])<>(0)") == "(a - b) <> 0"
    assert translate_index_filter("([a]/(2))>([b]%(3))") == "(a / 2) > (b % 3)"


def test_translate_double_quoted_identifier():
    """SQLite's partial-index predicates quote identifiers the SQL way."""
    assert translate_index_filter('"Status" = 1', str.lower) == "status = 1"


def test_translate_rejects_garbage():
    with pytest.raises(IndexFilterError):
        translate_index_filter("[col] = ???")


def _catalog():
    return Catalog(
        "db",
        [Schema("public", [Table("users"), Table("tmp_a"), Table("tmp_b")])],
    )


def test_rename_rule_exact():
    cat = apply_table_rules(
        _catalog(), [AlterRule("rename", "users", value="people")]
    )
    names = [t.name for t in cat.schemas[0].tables]
    assert "people" in names and "users" not in names
    t = cat.schemas[0].find_table("people")
    assert t.source_name == "users"


def test_set_schema_regex_rule():
    cat = apply_table_rules(
        _catalog(),
        [AlterRule("set_schema", r"^tmp_", is_regex=True, value="scratch")],
    )
    public = cat.find_schema("public")
    scratch = cat.find_schema("scratch")
    assert [t.name for t in public.tables] == ["users"]
    assert sorted(t.name for t in scratch.tables) == ["tmp_a", "tmp_b"]


def test_schema_rename():
    cat = apply_schema_rules(
        _catalog(), [AlterRule("rename", "public", value="legacy")]
    )
    assert cat.schemas[0].name == "legacy"


def test_set_tablespace_metadata():
    cat = apply_table_rules(
        _catalog(),
        [AlterRule("set_tablespace", "users", value="fast_ssd")],
    )
    t = cat.schemas[0].find_table("users")
    assert t.storage["set_tablespace"] == "fast_ssd"
