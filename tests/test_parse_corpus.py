"""Bulk-parse the reference's real .load corpus (SURVEY §5 'Parser
corpus'): every command file under the reference's test/ and
test/parse/ trees must parse into a LoadCommand.

The corpus is read-only input data (command syntax examples), not
code; the tests that read it are skipped gracefully when the reference
checkout is absent.
"""

from __future__ import annotations

import glob
import os

import pytest

from pgloader_spark.parsers.loadcmd import parse_load

REF = "/root/reference/test"

# only the tests that read corpus files skip; the inline ones run everywhere
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference corpus not available"
)


def _corpus() -> list[str]:
    return sorted(
        glob.glob(f"{REF}/*.load")
        + glob.glob(f"{REF}/parse/*.load")
        + glob.glob(f"{REF}/mysql/*.load")
    )


@needs_corpus
def test_corpus_is_nonempty():
    assert len(_corpus()) >= 60


# ids are set per param: an `ids=` callable would be handed pytest's
# NOTSET placeholder when the corpus is empty and fail collection
@needs_corpus
@pytest.mark.parametrize(
    "path", [pytest.param(p, id=os.path.basename(p)) for p in _corpus()]
)
def test_parse_reference_load_file(path):
    text = open(path, encoding="utf-8", errors="replace").read()
    cmd = parse_load(text)
    assert cmd.source_kind
    # every command must have a destination or nested loads (archive)
    assert cmd.target or cmd.nested or cmd.scanners or cmd.source_kind in (
        "archive",
        "messages",
    )


@needs_corpus
def test_archive_nested_commands():
    path = f"{REF}/archive.load"
    cmd = parse_load(open(path).read())
    assert cmd.source_kind == "archive"
    assert len(cmd.nested) == 2
    csv1, csv2 = cmd.nested
    assert csv1.source_kind == "csv"
    assert csv1.source_regex  # FROM FILENAME MATCHING
    assert csv1.options["encoding"].lower() == "iso-8859-1"
    assert any(c.transform for c in csv2.columns)  # ip-range USING
    assert cmd.execute_files == ["geolite.sql"]
    assert csv2.after_load  # nested AFTER LOAD DO


def test_archive_finally_do_synthetic():
    cmd = parse_load(
        """
LOAD ARCHIVE
   FROM /tmp/foo.zip
   INTO postgresql:///db
   LOAD CSV FROM FILENAME MATCHING ~/a\\.csv/ (x) INTO postgresql:///db?t (x)
        WITH fields terminated by ','
    AND LOAD CSV FROM FILENAME MATCHING ~/b\\.csv/ (y) INTO postgresql:///db?u (y)
        WITH fields terminated by ','
   FINALLY DO $$ drop schema scratch cascade; $$;
"""
    )
    assert len(cmd.nested) == 2
    assert cmd.finally_do == ["drop schema scratch cascade;"]


@needs_corpus
def test_sakila_alter_rules_and_matviews():
    cmd = parse_load(open(f"{REF}/sakila.load").read())
    assert cmd.options["materialize_views"] is True  # MATERIALIZE ALL VIEWS
    kinds = {r["kind"] for r in cmd.alter_rules}
    assert {"set_schema", "rename", "set_storage"} <= kinds


@needs_corpus
def test_messages_scanners():
    cmd = parse_load(open(f"{REF}/parse/messages.load").read())
    assert cmd.source_kind == "messages"
    assert len(cmd.scanners) == 2
    s0 = cmd.scanners[0]
    assert s0["rule"] == "rsyslog-msg"
    assert s0["fields"][0] == "timestamp"
    assert s0["target"].startswith("postgresql://")
    assert len(cmd.options["abnf_blocks"]) == 2
