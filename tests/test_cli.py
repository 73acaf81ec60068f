"""CLI tests: source-kind sniffing + end-to-end command-file run
(reference: src/main.lisp, src/api.lisp:29-141)."""

from __future__ import annotations

import json
import subprocess
import sys

from pgloader_spark.cli import command_from_uris, sniff_source_kind


def test_sniff_source_kind():
    assert sniff_source_kind("data.csv") == "csv"
    assert sniff_source_kind("/path/file.dbf") == "dbf"
    assert sniff_source_kind("file.copy") == "copy"
    assert sniff_source_kind("corpus.jsonl") == "jsonl"
    assert sniff_source_kind("corpus.ndjson") == "jsonl"
    assert sniff_source_kind("table.parquet") == "parquet"
    assert sniff_source_kind("mysql://u@h/db") == "database"
    assert sniff_source_kind("postgresql:///db") == "database"
    assert sniff_source_kind("archive.zip") == "archive"


def test_command_from_uris():
    cmd = command_from_uris("/data/in.csv", "postgresql:///out?t")
    assert cmd.source_kind == "csv"
    assert cmd.options["header"] is True
    assert cmd.target == "postgresql:///out?t"


def test_cli_end_to_end_load_file(tmp_path):
    src = tmp_path / "people.csv"
    src.write_text("id,name\n1,alice\n2,bob\n")
    load = tmp_path / "people.load"
    load.write_text(
        f"""
LOAD CSV
  FROM '{src}' (id, name)
  INTO postgresql:///db?people (id int, name)
  WITH skip header = 1, fields terminated by ',';
"""
    )
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "-m", "pgloader_spark",
            str(load), str(out_dir),
            "--summary", "json", "--master", "local[2]",
            "--root-dir", str(tmp_path / "rejects"),
        ],
        capture_output=True, text=True, timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "2"},
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    data = json.loads(line)
    assert data["tables"][0]["loaded"] == 2
    assert data["tables"][0]["errors"] == 0


def test_version_and_list_encodings(capsys):
    from pgloader_spark.cli import main

    assert main(["--version"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("pgloader_spark ")
    assert main(["--list-encodings"]) == 0
    out = capsys.readouterr().out
    assert "iso-8859-1" in out and "utf-8" in out


def test_synthesize_command_text_parses():
    """--with/--set/--field/--cast/--encoding/--before fragments
    synthesize a command the normal grammar parses (api.lisp:29-141)."""
    from pgloader_spark.cli import synthesize_command_text
    from pgloader_spark.parsers.loadcmd import parse_load

    text = synthesize_command_text(
        "/data/in.csv",
        "postgresql:///db?t",
        encoding="iso-8859-1",
        fields=["id", "name"],
        withs=["truncate", "skip header = 1", "fields terminated by ','"],
        sets=["work_mem='32 MB'"],
        casts=["type int to bigint"],
        before="/tmp/pre.sql",
        after="/tmp/post.sql",
    )
    cmd = parse_load(text)
    assert cmd.source_kind == "csv"
    assert [f.name for f in cmd.fields] == ["id", "name"]
    assert cmd.options["truncate"] is True
    assert int(cmd.options["skip_lines"]) == 1
    assert cmd.options["encoding"].lower() == "iso-8859-1"
    assert cmd.gucs == {"work_mem": "32 MB"}
    assert cmd.cast_rules[0].source_type == "int"
    assert cmd.cast_rules[0].target_type == "bigint"
    assert cmd.execute_files == ["/tmp/pre.sql"]
    assert cmd.after_execute_files == ["/tmp/post.sql"]


def test_dry_run_checks_connections(tmp_path, capsys):
    from pgloader_spark.cli import main

    src = tmp_path / "in.csv"
    src.write_text("a,b\n1,2\n")
    # file source exists, no pg target probe for a parquet dir -> OK
    assert main(["--dry-run", str(src), str(tmp_path / "out")]) == 0
    assert "OK" in capsys.readouterr().out
    # missing file -> FAIL, exit 1
    assert main(["--dry-run", str(tmp_path / "nope.csv"),
                 str(tmp_path / "out")]) == 1
    assert "FAIL" in capsys.readouterr().out


def test_context_vars_expand(tmp_path):
    from pgloader_spark.cli import _load_context_vars

    ini = tmp_path / "ctx.ini"
    ini.write_text("[default]\ndstpath = /tmp/plop\nport = 5432\n")
    vars_ = _load_context_vars(str(ini))
    assert vars_["dstpath"] == "/tmp/plop"
    assert vars_["port"] == "5432"


def test_sniff_plain_json_is_multiline_kind():
    from pgloader_spark.cli import sniff_source_kind

    assert sniff_source_kind("blob.json") == "json"


def test_load_pretty_printed_json(spark, tmp_path):
    """A pretty-printed top-level array must parse as rows, not
    _corrupt_record (round-3 advice: line-mode sniffing broke it)."""
    import json as _json

    from pgloader_spark.parsers.loadcmd import LoadCommand
    from pgloader_spark.plans.executor import read_source

    p = tmp_path / "blob.json"
    p.write_text(_json.dumps(
        [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], indent=2
    ))
    cmd = LoadCommand(source_kind="json", source=str(p), target="t")
    df = read_source(spark, cmd)
    assert "_corrupt_record" not in df.columns
    assert sorted(r["a"] for r in df.collect()) == [1, 2]


def test_summary_filename_with_extension(spark, tmp_path):
    """--summary FILENAME copies the summary to the file (relative ->
    --root-dir), format by extension (reference pgloader.rst)."""
    import json as _json

    from pgloader_spark.cli import main

    csv = tmp_path / "s.csv"
    csv.write_text("id,name\n1,a\n2,b\n")
    load = tmp_path / "s.load"
    out_dir = tmp_path / "out.parquet"
    load.write_text(
        f"LOAD CSV FROM '{csv}' (id, name)\n"
        f"  INTO '{out_dir}' TARGET TABLE people (id, name)\n"
        "  WITH skip header = 1, fields terminated by ',';\n"
    )
    root = tmp_path / "root"
    assert main([str(load), "--master", "local[2]",
                 "--root-dir", str(root), "--summary", "sum.json"]) == 0
    data = _json.loads((root / "sum.json").read_text())
    assert data["tables"][0]["loaded"] == 2
    # .copy flavor: tab-separated, no header
    assert main([str(load), "--master", "local[2]",
                 "--root-dir", str(root), "--summary", "sum.copy"]) == 0
    line = (root / "sum.copy").read_text().strip().split("\n")[0]
    assert line.split("\t")[0] == "people" and line.split("\t")[2] == "2"


def test_cli_load_archive_to_parquet_dir(spark, tmp_path):
    """LOAD ARCHIVE into a directory target: each nested table lands in
    its own parquet directory under it."""
    import zipfile

    from pgloader_spark.cli import main

    z = tmp_path / "geo.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("locations.csv", "1,paris\n2,berlin\n")
        zf.writestr("blocks.csv", "16909060,16909070,1\n")
    load = tmp_path / "geo.load"
    load.write_text(
        f"""
LOAD ARCHIVE
   FROM {z}
   INTO postgresql:///db
   LOAD CSV FROM FILENAME MATCHING ~/locations\\.csv/ (locid, city)
        INTO postgresql:///db?location (locid int, city)
        WITH fields terminated by ','
    AND LOAD CSV FROM FILENAME MATCHING ~/blocks\\.csv/ (lo, hi, locid)
        INTO postgresql:///db?blocks (lo, hi, locid int)
        WITH fields terminated by ',';
"""
    )
    out = tmp_path / "lake"
    assert main([str(load), str(out), "--master", "local[2]",
                 "--root-dir", str(tmp_path / "root")]) == 0
    assert spark.read.parquet(str(out / "location")).count() == 2
    assert spark.read.parquet(str(out / "blocks")).count() == 1
