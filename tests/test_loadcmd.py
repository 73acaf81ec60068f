"""LOAD DSL parser tests, modeled on the reference's own test corpus
(test/csv.load, test/fixed.load, test/csv-null-if.load,
test/csv-parse-date.load, test/mysql/my.load)."""

from __future__ import annotations

from pgloader_spark.casting import CastEngine, SourceField
from pgloader_spark.parsers.loadcmd import compile_cast_rules, parse_load
from pgloader_spark.parsers.sexp import compile_using, parse_sexp, Sym

CSV_CMD = """
/* comment block */
LOAD CSV
     FROM inline (x, y, a, b, c, "camelCase")
     INTO postgresql:///pgloader?csv (a, b, "camelCase", c)

     WITH truncate,
          skip header = 1,
          fields optionally enclosed by '"',
          fields escaped by double-quote,
          fields terminated by ','

      SET client_encoding to 'latin1',
          work_mem to '12MB'

   BEFORE LOAD DO
    $$ drop table if exists csv; $$,
    $$ create table csv (a bigint, b bigint, c char(2), "camelCase" text); $$;

"h1","h2"
"2.6.190.56","2.6.190.63"
"""


def test_parse_csv_command():
    cmd = parse_load(CSV_CMD)
    assert cmd.source_kind == "csv"
    assert cmd.source == "inline"
    assert [f.name for f in cmd.fields] == ["x", "y", "a", "b", "c", "camelCase"]
    assert cmd.target == "postgresql:///pgloader?csv"
    assert [c.name for c in cmd.columns] == ["a", "b", "camelCase", "c"]
    assert cmd.options["truncate"] is True
    assert cmd.options["skip_lines"] == 1
    assert cmd.options["quote"] == '"'
    assert cmd.options["escape"] == '"'
    assert cmd.options["separator"] == ","
    assert cmd.gucs == {"client_encoding": "latin1", "work_mem": "12MB"}
    assert len(cmd.before_load) == 2
    assert cmd.before_load[0].startswith("drop table")
    assert '"2.6.190.56","2.6.190.63"' in cmd.inline_data


FIXED_CMD = """
LOAD FIXED
     FROM inline
          (
           a from  0 for 10,
           b from 10 for  8,
           c from 18 for  8,
           d from 26 for 17 [null if blanks, trim right whitespace]
          )
     INTO postgresql:///pgloader
   TARGET TABLE fixed
          (
             a, b,
             c time using (time-with-no-separator c),
             d
          )
     WITH truncate;
"""


def test_parse_fixed_command():
    cmd = parse_load(FIXED_CMD)
    assert cmd.source_kind == "fixed"
    specs = [(f.name, f.start, f.length) for f in cmd.fixed_fields]
    assert specs == [("a", 0, 10), ("b", 10, 8), ("c", 18, 8), ("d", 26, 17)]
    assert cmd.fixed_fields[3].null_if_blanks
    assert cmd.fixed_fields[3].trim == "right"
    assert cmd.target_table == "fixed"
    c = cmd.columns[2]
    assert c.name == "c"
    assert c.cast_to == "time"
    assert c.transform == "(time-with-no-separator c)"


def test_parse_null_if_and_date_format_field_options():
    cmd = parse_load(
        """
LOAD CSV
  FROM inline ( id, num [null if '\\N'], hr [date format 'HH24:MI.SS'] )
  INTO postgresql:///db (id, num, hr)
  WITH null if '\\N', fields terminated by ',';
"""
    )
    assert cmd.fields[1].null_if == ("\\N",)
    assert cmd.fields[2].date_format == "HH24:MI.SS"
    assert cmd.options["null_as"] == "\\N"


DB_CMD = """
load database
     from mysql://root@localhost/pgloader
     into postgresql:///pgloader

 WITH concurrency = 2,
      multiple readers per thread,
      rows per range = 50000,
      quote identifiers

 INCLUDING ONLY TABLE NAMES MATCHING ~/^film/, 'actor'
 EXCLUDING TABLE NAMES MATCHING ~/temp$/

 CAST type decimal when (and (= 18 precision) (= 6 scale))
        to "double precision" drop typemod,
      type smallint when unsigned to int drop typemod,
      column base64.data to jsonb using base64-decode

 BEFORE LOAD DO
   $$ create schema if not exists mysql; $$;
"""


def test_parse_database_command():
    cmd = parse_load(DB_CMD)
    assert cmd.source_kind == "database"
    assert cmd.source == "mysql://root@localhost/pgloader"
    assert cmd.options["concurrency"] == "2"
    assert cmd.options["multiple_readers_per_thread"] is True
    assert cmd.options["rows_per_range"] == "50000"
    # regex rules stay unanchored (search semantics, like the
    # reference's REGEXP); quoted names anchor to an exact match
    assert cmd.including == ["^film", "^actor$"]
    assert cmd.excluding == ["temp$"]
    assert len(cmd.cast_rules) == 3
    r0 = cmd.cast_rules[0]
    assert r0.source_type == "decimal"
    assert "sexp" in r0.guards
    assert r0.target_type == "double precision"
    assert r0.drop == ["typemod"]
    r2 = cmd.cast_rules[2]
    assert r2.column == ("base64", "data")
    assert r2.using == "base64-decode"


def test_compiled_cast_rules_apply():
    cmd = parse_load(DB_CMD)
    rules = compile_cast_rules(cmd.cast_rules)
    eng = CastEngine("mysql", user_rules=rules)
    # guard matches (18,6)
    res = eng.cast(SourceField("v", "decimal", type_mod="(18,6)"))
    assert res.pg_type == "double precision"
    # guard rejects other typemods -> default MySQL rule keeps numeric
    res2 = eng.cast(SourceField("v", "decimal", type_mod="(10,2)"))
    assert res2.pg_type == "numeric"
    # unsigned smallint -> int via user rule
    res3 = eng.cast(SourceField("v", "smallint", unsigned=True))
    assert res3.pg_type == "int"
    # column rule with transform
    res4 = eng.cast(SourceField("data", "blob", table_name="base64"))
    assert res4.pg_type == "jsonb"
    assert res4.transform == "base64-decode"


def test_parse_filenames_matching():
    cmd = parse_load(
        """
LOAD CSV
  FROM ALL FILENAMES MATCHING ~/foo.*\\.csv/ IN DIRECTORY '/data/in'
  INTO postgresql:///db
  WITH fields terminated by ',';
"""
    )
    assert cmd.source_regex == "foo.*\\.csv"
    assert cmd.source_dir == "/data/in"
    cmd2 = parse_load(
        "LOAD CSV FROM FIRST FILENAME MATCHING ~/x/ INTO postgresql:///db;"
    )
    assert cmd2.first_match_only


# --------------------------------------------------------------------------
# sexp mini-language
# --------------------------------------------------------------------------


def test_parse_sexp():
    ast = parse_sexp("(ip-range startIpNum endIpNum)")
    assert isinstance(ast, list)
    assert ast[0].name == "ip-range"
    nested = parse_sexp('(concat "pre" (upper f1) #\\Space)')
    assert nested[1] == "pre"
    assert nested[3] == " "


def test_compile_using_sexp(spark):
    df = spark.createDataFrame(
        [("16909060", "16909070")], "startIpNum string, endIpNum string"
    )
    col = compile_using("(ip-range startIpNum endIpNum)")
    row = df.select(col.alias("r")).collect()[0]
    assert row["r"] == "1.2.3.4-1.2.3.14"


def test_compile_sexp_rejects_unknown_function():
    import pytest

    from pgloader_spark.parsers.sexp import SexpError

    with pytest.raises(SexpError, match="unknown transform"):
        compile_using("(os-system f1)")


def test_sexp_symbol_and_literal(spark):
    df = spark.createDataFrame([("x",)], "a string")
    col = compile_using('(concat a "-suffix")')
    assert df.select(col.alias("r")).collect()[0]["r"] == "x-suffix"


def test_with_options_round4_surface():
    """reindex / include no drop / chunk size / timezone parse into
    their option keys (docs/ref/pgsql.rst, ixf.rst)."""
    from pgloader_spark.parsers.loadcmd import parse_load

    cmd = parse_load(
        """
LOAD DATABASE FROM postgresql://u@h/src INTO postgresql://u@h/dst
WITH reindex, include no drop, chunk size = 10 MB;
"""
    )
    assert cmd.options["reindex"] is True
    assert cmd.options["include_no_drop"] is True
    assert cmd.options["chunk_size"] == "10 MB"

    cmd2 = parse_load(
        """
LOAD IXF FROM /tmp/f.ixf INTO postgresql:///db?t
WITH timezone 'Europe/Paris';
"""
    )
    assert cmd2.options["timezone"] == "Europe/Paris"
    cmd3 = parse_load(
        """
LOAD IXF FROM /tmp/f.ixf INTO postgresql:///db?t WITH timezone UTC;
"""
    )
    assert cmd3.options["timezone"] == "UTC"


def test_size_bytes_parse():
    from pgloader_spark.sources.pg_live import _size_bytes

    assert _size_bytes("10 MB") == 10 << 20
    assert _size_bytes("1024 kB") == 1 << 20
    assert _size_bytes("8192") == 8192
    assert _size_bytes(None) is None
    assert _size_bytes("nonsense") is None


def test_mysql_parameters_stay_out_of_gucs():
    """SET MySQL PARAMETERS are source-session settings: they must not
    reach cmd.gucs, which every PostgreSQL COPY session SETs."""
    cmd = parse_load(
        "LOAD DATABASE FROM mysql://root@localhost/sakila\n"
        "  INTO postgresql:///sakila\n"
        "  SET PostgreSQL PARAMETERS maintenance_work_mem to '128MB'\n"
        "  SET MySQL PARAMETERS net_read_timeout = '120';\n"
    )
    assert cmd.gucs == {"maintenance_work_mem": "128MB"}
