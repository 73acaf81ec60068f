"""Target-side DDL completion: enum types, triggers, checks, comments.

Golden-output tests mirroring the reference's DDL shapes
(src/pgsql/pgsql-ddl.lisp, src/pgsql/pgsql-trigger.lisp,
src/pgsql/pgsql-create-schema.lisp)."""

from __future__ import annotations

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.catalog import Catalog, Column, FKey, Index, Schema, Table
from pgloader_spark.plans import ddl
from pgloader_spark.plans.orchestrate import post_load_statements


def test_explode_mysql_enum():
    assert ddl.explode_mysql_enum("enum('a','b','c')") == ["a", "b", "c"]
    assert ddl.explode_mysql_enum("set('x','y')") == ["x", "y"]
    # '' escapes a quote inside a value; commas inside values survive
    assert ddl.explode_mysql_enum("enum('it''s','a,b')") == ["it's", "a,b"]
    assert ddl.explode_mysql_enum("text") == []


def test_resolve_enum_type_name_candidates():
    assert ddl.resolve_enum_type_name("film_rating_t", set()) == "film_rating_t"
    assert (
        ddl.resolve_enum_type_name("film_rating_t", {"film_rating_t"})
        == "film_rating_enum"
    )
    assert (
        ddl.resolve_enum_type_name(
            "film_rating_t", {"film_rating_t", "film_rating_enum"}
        )
        == "enum_film_rating"
    )


def test_enum_create_type_before_create_table():
    """A MySQL enum column produces CREATE TYPE ... AS ENUM emitted
    BEFORE the CREATE TABLE that uses it (mysql.lisp enum flow +
    prepare-pgsql-database ordering)."""
    schema = Schema("public")
    cat = Catalog("db", [schema])
    fields = [
        SourceField("id", "int", "(10)", extra="auto_increment", nullable=False,
                    table_name="film"),
        SourceField("rating", "enum", "('G','PG','PG-13','R','NC-17')",
                    table_name="film"),
    ]
    ddl.table_from_fields("film", fields, CastEngine("mysql"), schema)
    stmts = ddl.prepare_statements(cat)
    create_type = next(s for s in stmts if s.startswith("CREATE TYPE"))
    create_table = next(s for s in stmts if s.startswith("CREATE TABLE"))
    assert stmts.index(create_type) < stmts.index(create_table)
    assert create_type == (
        "CREATE TYPE film_rating_t AS ENUM ('G', 'PG', 'PG-13', 'R', 'NC-17');"
    )
    assert "rating film_rating_t" in create_table


def test_set_becomes_enum_array_with_transform():
    schema = Schema("public")
    fields = [
        SourceField("features", "set", "('a','b')", table_name="film"),
    ]
    t = ddl.table_from_fields("film", fields, CastEngine("mysql"), schema)
    assert schema.sqltypes[0].kind == "set"
    assert t.columns[0].type_name == "film_features_t[]"
    assert t.columns[0].transform == "set-to-enum-array"


def test_identical_enum_defs_share_one_type():
    """film.rating and film_list.rating (same inline def) map to ONE
    PostgreSQL type (mysql-cast-rules.lisp:272-280)."""
    schema = Schema("public")
    eng = CastEngine("mysql")
    ddl.table_from_fields(
        "film",
        [SourceField("rating", "enum", "('G','PG')", table_name="film")],
        eng, schema,
    )
    t2 = ddl.table_from_fields(
        "film_list",
        [SourceField("rating", "enum", "('G','PG')", table_name="film_list")],
        eng, schema,
    )
    assert len(schema.sqltypes) == 1
    assert t2.columns[0].type_name == "film_rating_t"


def test_enum_value_quote_escaping():
    st = ddl.SqlType("t_c_t", "enum", values=["it's", "ok"])
    assert st.to_create_ddl() == "CREATE TYPE t_c_t AS ENUM ('it''s', 'ok');"


def test_on_update_timestamp_trigger_golden():
    """The BEFORE UPDATE trigger + plpgsql procedure pair, matching the
    reference's shape (pgsql-trigger.lisp:8-76, pgsql-ddl.lisp:345-383);
    two on-update columns share ONE trigger."""
    t = Table(
        "materials",
        columns=[
            Column("id", "bigint"),
            Column("ts1", "timestamptz", extra={"trigger": "on_update_current_timestamp"}),
            Column("ts2", "timestamptz", extra={"trigger": "on_update_current_timestamp"}),
        ],
    )
    (tg,) = ddl.process_triggers(t)
    assert tg.to_create_ddl() == (
        "CREATE TRIGGER on_update_current_timestamp BEFORE UPDATE "
        "ON materials FOR EACH ROW EXECUTE PROCEDURE "
        "public.on_update_current_timestamp_materials();"
    )
    assert tg.procedure.to_create_ddl() == (
        "CREATE OR REPLACE FUNCTION public.on_update_current_timestamp_materials()\n"
        "  RETURNS trigger\n"
        "  LANGUAGE plpgsql\n"
        "  AS\n$$\n"
        "BEGIN\n"
        "   NEW.ts1 = now();\n"
        "   NEW.ts2 = now();\n"
        "   RETURN NEW;\n"
        "END;\n$$;"
    )


def test_mysql_on_update_extra_flags_trigger():
    schema = Schema("public")
    fields = [
        SourceField("updated_at", "timestamp",
                    default="CURRENT_TIMESTAMP",
                    extra="on update CURRENT_TIMESTAMP",
                    table_name="t"),
    ]
    t = ddl.table_from_fields("t", fields, CastEngine("mysql"), schema)
    assert t.columns[0].extra.get("trigger") == "on_update_current_timestamp"


def test_check_constraint_statements():
    t = Table("orders", check_constraints=[("chk_qty", "qty > 0")])
    cat = Catalog("db", [Schema("public", [t])])
    assert ddl.check_constraint_statements(cat) == [
        "ALTER TABLE orders ADD CONSTRAINT chk_qty CHECK (qty > 0);"
    ]


def test_comment_statements_dollar_quoted():
    t = Table(
        "t",
        columns=[Column("c", "text", comment="has 'quotes' and $$ inside")],
        comment="table comment",
    )
    cat = Catalog("db", [Schema("public", [t])])
    tbl_stmt, col_stmt = ddl.comment_statements(cat)
    assert tbl_stmt.startswith("COMMENT ON TABLE t IS $pgsl_")
    assert "table comment" in tbl_stmt
    # embedded quotes/dollars survive untouched inside the dollar quoting
    assert "has 'quotes' and $$ inside" in col_stmt
    assert col_stmt.startswith("COMMENT ON COLUMN t.c IS $pgsl_")


def test_post_load_order_checks_triggers_comments():
    """complete-pgsql-database ordering: PK/indexes, FKs, sequences,
    CHECKs, triggers, comments LAST (migrate-database.lisp:153-226)."""
    t = Table(
        "t",
        columns=[
            Column("id", "bigint", extra={"serial": True}),
            Column("ts", "timestamptz",
                   extra={"trigger": "on_update_current_timestamp"},
                   comment="updated"),
        ],
        indexes=[Index("t_pkey", "t", ["id"], unique=True, primary=True)],
        fkeys=[FKey("t_fk", "t", ["id"], "other", ["id"])],
        check_constraints=[("chk", "id > 0")],
        comment="the table",
    )
    cat = Catalog("db", [Schema("public", [t])])
    stmts = post_load_statements(cat)
    kinds = []
    for s in stmts:
        for marker, kind in [
            ("ADD PRIMARY KEY", "pk"),
            ("FOREIGN KEY", "fk"),
            ("setval", "seq"),
            ("CHECK (", "check"),
            ("CREATE OR REPLACE FUNCTION", "proc"),
            ("CREATE TRIGGER", "trigger"),
            ("COMMENT ON", "comment"),
        ]:
            if marker in s:
                kinds.append(kind)
                break
    assert kinds == ["pk", "fk", "seq", "check", "proc", "trigger",
                     "comment", "comment"]
