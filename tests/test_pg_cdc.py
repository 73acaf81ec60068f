"""Live CDC capture: logical replication slot -> parse -> exactly-once
apply, end-to-end PG -> PG replication on a wal_level=logical server."""

from __future__ import annotations

import pytest

from pgloader_spark.sources.pg_cdc import (
    _claims,
    _truncate_targets,
    advance_cdc_slot,
    lsn_to_int,
    parse_test_decoding,
    peek_cdc_changes,
    replicate_pg_tables,
)
from pgloader_spark.sources.pgwire import PGConn
from tests.pg_server import start_pg, stop_pg


def create_cdc_slot(dsn: str, slot: str) -> str:
    """Create a logical replication slot; returns its consistent LSN."""
    with PGConn(dsn) as c:
        _, rows = c.query(
            "SELECT lsn FROM pg_create_logical_replication_slot("
            f"'{slot}', 'test_decoding')"
        )
    return rows[0][0]


def drop_cdc_slot(dsn: str, slot: str) -> None:
    with PGConn(dsn) as c:
        c.query(f"SELECT pg_drop_replication_slot('{slot}')")


def _drain(spark, dsn, slot, table, src_table) -> int:
    """One drain of SLOT into TABLE (keyed on ``id``) from SRC_TABLE on
    the same server; returns the changes applied to TABLE."""
    got = replicate_pg_tables(
        spark, dsn, slot, dsn, {table: ["id"]},
        src_tables={table: src_table},
    )
    return got.get(table, 0)


def _select(changes, want):
    """The drain's per-table filter: WANT's reading, resolved over the
    whole window, applied to every event in it."""
    claimed = _claims(changes, want)
    return [c for c in changes if claimed(c["schema"], c["table"])]


def _targets(event, tables, src_names):
    """The drain's target mapping for a window holding just EVENT."""
    return _truncate_targets(
        event, {t: _claims([event], src_names.get(t, t)) for t in tables}
    )


@pytest.fixture(scope="module")
def logical_dsn():
    base, data, _port, dsn = start_pg(
        "pgcdc_test", server_opts="-c wal_level=logical"
    )
    yield dsn
    stop_pg(base, data)


def test_parse_test_decoding_edges():
    p = parse_test_decoding
    r = p("table public.t: UPDATE: id[bigint]:7 v[text]:'a: [x]''s'")
    assert r == {
        "schema": "public", "table": "t", "op": "U",
        "cols": {"id": "7", "v": "a: [x]'s"},
    }
    assert p("BEGIN 711") is None
    assert p("COMMIT 711") is None
    d = p("table public.t: DELETE: id[bigint]:3")
    assert d["op"] == "D" and d["cols"] == {"id": "3"}
    n = p("table s2.x: INSERT: a[integer]:null b[boolean]:true")
    assert n["schema"] == "s2" and n["cols"] == {"a": None, "b": "true"}
    assert lsn_to_int("1/10") == (1 << 32) + 16


def test_parse_test_decoding_old_key_and_no_tuple_data():
    """PK-changing UPDATE (old-key/new-tuple sections) and
    no-replica-identity DELETE ((no-tuple-data)) — the two
    test_decoding shapes beyond plain tuples."""
    p = parse_test_decoding
    u = p(
        "table public.t: UPDATE: old-key: id[integer]:1 "
        "new-tuple: id[integer]:2 v[text]:'new-tuple: tricky'"
    )
    assert u["op"] == "U"
    assert u["cols"] == {"id": "2", "v": "new-tuple: tricky"}
    assert u["old_key"] == {"id": "1"}
    # REPLICA IDENTITY FULL: old-key carries every column
    f = p(
        "table public.t: UPDATE: old-key: id[integer]:1 v[text]:'a' "
        "new-tuple: id[integer]:1 v[text]:'b'"
    )
    assert f["cols"] == {"id": "1", "v": "b"}
    assert f["old_key"] == {"id": "1", "v": "a"}
    d = p("table public.t: DELETE: (no-tuple-data)")
    assert d is not None and d["op"] == "D"
    assert d["cols"] == {} and d.get("no_tuple_data") is True
    # plain lines keep no old_key / no_tuple_data markers
    plain = p("table public.t: DELETE: id[bigint]:3")
    assert "old_key" not in plain and "no_tuple_data" not in plain


def test_changes_to_rows_expansion_and_rejection():
    from pgloader_spark.sources.pg_cdc import _changes_to_rows

    mine = [
        {"schema": "public", "table": "t", "op": "I",
         "cols": {"id": "1", "v": "a"}},
        {"schema": "public", "table": "t", "op": "U",
         "cols": {"id": "2", "v": "b"}, "old_key": {"id": "1"}},
    ]
    rows = _changes_to_rows(mine, ["id", "v"])
    # the key-moving update expands to DELETE(old key) + INSERT(new)
    assert rows == [
        ("1", "a", "I", 0),
        ("1", None, "D", 1),
        ("2", "b", "U", 2),
    ]
    bad = [{"schema": "public", "table": "t", "op": "D",
            "cols": {}, "no_tuple_data": True}]
    with pytest.raises(ValueError, match="REPLICA IDENTITY"):
        _changes_to_rows(bad, ["id", "v"])


def test_table_matching_schema_qualified():
    c = {"schema": "app", "table": "t", "op": "I", "cols": {}}
    assert _select([c], "t") == [c]       # unqualified: name only
    assert _select([c], "app.t") == [c]
    assert _select([c], "other.t") == []  # schema-qualified match


def test_select_changes_dotted_precedence():
    """r9 advice: want='a.b' must not interleave schema-a table-b with
    a table literally named 'a.b'.  Conventional reading wins; the
    dotted-literal fallback applies only when conventional matches
    nothing in the window; BOTH present raises."""
    conv = {"schema": "a", "table": "b", "op": "I", "cols": {}}
    lit = {"schema": "public", "table": "a.b", "op": "I", "cols": {}}
    other = {"schema": "public", "table": "x", "op": "I", "cols": {}}

    # conventional-only window: picks schema-a table-b
    assert _select([conv, other], "a.b") == [conv]
    # literal-only window: the dotted fallback still works
    assert _select([lit, other], "a.b") == [lit]
    # both present: refuse rather than merge two source tables
    with pytest.raises(ValueError, match="ambiguous"):
        _select([conv, lit], "a.b")
    # unqualified and unrelated names are untouched by the rule
    assert _select([conv, lit, other], "x") == [other]
    # schema-qualified dotted-literal ('public.a.b') is unambiguous
    assert _select([conv, lit], "public.a.b") == [lit]


def test_dotted_reading_resolved_over_whole_window():
    """The reading of want='a.b' is resolved once over the WHOLE window,
    counting the tables each TRUNCATE names as well as DML: both
    readings anywhere in it raise, even when a TRUNCATE boundary
    separates them or one reading appears only as a TRUNCATE."""
    conv = {"schema": "a", "table": "b", "op": "I", "cols": {}}
    lit = {"schema": "public", "table": "a.b", "op": "I", "cols": {}}

    def tr(*pairs):
        return {"op": "T", "schema": pairs[0][0], "table": pairs[0][1],
                "cols": {}, "truncate": True, "tables": list(pairs),
                "all_tables": [f"{s}.{t}" for s, t in pairs], "flags": ""}

    # conventional DML next to a TRUNCATE of public."a.b"
    with pytest.raises(ValueError, match="ambiguous"):
        _claims([conv, tr(("public", "a.b"))], "a.b")
    # literal DML next to a TRUNCATE of a.b
    with pytest.raises(ValueError, match="ambiguous"):
        _claims([tr(("a", "b")), lit], "a.b")
    # the two readings split apart by an unrelated TRUNCATE
    with pytest.raises(ValueError, match="ambiguous"):
        _claims([conv, tr(("public", "x")), lit], "a.b")
    # one reading alone, DML and TRUNCATE alike, resolves to it
    claimed = _claims([tr(("public", "a.b")), lit], "a.b")
    assert claimed("public", "a.b") and not claimed("a", "b")
    claimed = _claims([tr(("a", "b")), conv], "a.b")
    assert claimed("a", "b") and not claimed("public", "a.b")


def test_sibling_table_schema_qualified():
    from pgloader_spark.sources.pg_live import sibling_table

    assert sibling_table("t", "__epochs") == "t__epochs"
    assert sibling_table("a.t", "__cdc_stage") == "a.t__cdc_stage"


def test_cdc_capture_and_replicate_end_to_end(logical_dsn, spark):
    """Create src + dst tables on the same server (dst stands in for a
    remote target), mutate src, replicate: dst converges; quiet slots
    are no-ops; crash-replay of the same LSN window is exactly-once."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE cdc_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE cdc_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_rep")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO cdc_src VALUES (1, 'one'), (2, 'two')")
            c.query("UPDATE cdc_src SET v = 'TWO' WHERE id = 2")
            c.query("INSERT INTO cdc_src VALUES (3, 'three')")
            c.query("DELETE FROM cdc_src WHERE id = 1")

        # peek is non-destructive
        changes, max_lsn = peek_cdc_changes(dsn, "s_rep")
        assert [c["op"] for c in changes] == ["I", "I", "U", "I", "D"]
        changes2, _ = peek_cdc_changes(dsn, "s_rep")
        assert len(changes2) == len(changes)

        applied = _drain(spark, dsn, "s_rep", "cdc_dst", "cdc_src")
        assert applied >= 2  # collapsed upserts + the delete
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM cdc_dst ORDER BY id")
            assert rows == [("2", "TWO"), ("3", "three")]

        # quiet slot -> no-op
        assert _drain(spark, dsn, "s_rep", "cdc_dst", "cdc_src") == 0

        # second wave, incl. a value with quotes and a null
        with PGConn(dsn) as c:
            c.query("INSERT INTO cdc_src VALUES (4, 'it''s')")
            c.query("UPDATE cdc_src SET v = NULL WHERE id = 3")
        _drain(spark, dsn, "s_rep", "cdc_dst", "cdc_src")
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM cdc_dst ORDER BY id")
            assert rows == [("2", "TWO"), ("3", None), ("4", "it's")]

        # crash-replay: re-apply the SAME window without advancing ->
        # the epoch log makes it a no-op (simulate by NOT advancing:
        # peek again after manual un-advance is impossible, so replay
        # through apply_pg_cdc directly with the same epoch)
        from pgloader_spark.sources.pg_live import apply_pg_cdc

        replay = spark.createDataFrame(
            [(4, "stale", "U", 0)], "id bigint, v string, op string, seq long"
        )
        with PGConn(dsn) as c:
            _, rows = c.query(
                "SELECT MAX(epoch) FROM cdc_dst__epochs"
            )
        last_epoch = int(rows[0][0])
        assert apply_pg_cdc(
            replay, dsn, "cdc_dst", ["id"], seq_col="seq",
            epoch_id=last_epoch,
        ) == (0, 0, 0)
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT v FROM cdc_dst WHERE id = 4")
            assert rows == [("it's",)]
    finally:
        drop_cdc_slot(dsn, "s_rep")


def test_replicate_pk_changing_update_live(logical_dsn, spark):
    """UPDATE that moves the primary key emits old-key/new-tuple;
    replication must delete the old identity and land the new one —
    an upsert on the new key alone would leave the old row behind."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE pk_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE pk_dst (id bigint PRIMARY KEY, v text)")
        c.query("INSERT INTO pk_src VALUES (1, 'a'), (5, 'e')")
    with PGConn(dsn) as c:
        c.query("INSERT INTO pk_dst VALUES (1, 'a'), (5, 'e')")
    create_cdc_slot(dsn, "s_pk")
    try:
        with PGConn(dsn) as c:
            c.query("UPDATE pk_src SET id = 2 WHERE id = 1")
        changes, _ = peek_cdc_changes(dsn, "s_pk")
        (u,) = [c for c in changes if c["table"] == "pk_src"]
        assert u["old_key"] == {"id": "1"} and u["cols"]["id"] == "2"
        _drain(spark, dsn, "s_pk", "pk_dst", "pk_src")
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM pk_dst ORDER BY id")
        assert rows == [("2", "a"), ("5", "e")]
    finally:
        drop_cdc_slot(dsn, "s_pk")


def test_apply_stage_names_schema_qualified_live(logical_dsn, spark):
    """Targets a.t and b.t must not share a stage/epoch log: each
    apply creates its helpers in the target's OWN schema."""
    from pgloader_spark.sources.pg_live import apply_pg_cdc

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE SCHEMA sa")
        c.query("CREATE SCHEMA sb")
        for s in ("sa", "sb"):
            c.query(f"CREATE TABLE {s}.t (id bigint PRIMARY KEY, v text)")
    batch_a = spark.createDataFrame(
        [(1, "a", "I", 0)], "id bigint, v string, op string, seq long"
    )
    batch_b = spark.createDataFrame(
        [(1, "b", "I", 0)], "id bigint, v string, op string, seq long"
    )
    apply_pg_cdc(batch_a, dsn, "sa.t", ["id"], seq_col="seq", epoch_id=1)
    apply_pg_cdc(batch_b, dsn, "sb.t", ["id"], seq_col="seq", epoch_id=1)
    with PGConn(dsn) as c:
        _, ra = c.query("SELECT v FROM sa.t")
        _, rb = c.query("SELECT v FROM sb.t")
        # epoch logs are per-schema: epoch 1 on sa.t did not suppress
        # epoch 1 on sb.t
        assert ra == [("a",)] and rb == [("b",)]
        _, logs = c.query(
            "SELECT table_schema FROM information_schema.tables "
            "WHERE table_name = 't__epochs' ORDER BY 1"
        )
        assert logs == [("sa",), ("sb",)]


def test_multi_table_and_bootstrap(logical_dsn, spark):
    """One slot drives two tables; bootstrap = slot-before-snapshot,
    so a write racing the snapshot is replayed (upsert-safe), never
    lost."""
    from pgloader_spark.sources.pg_live import read_pg_table, write_pg_copy

    dsn = logical_dsn
    with PGConn(dsn) as c:
        for t in ("ma", "mb"):
            c.query(f"CREATE TABLE {t}_src (id bigint PRIMARY KEY, v text)")
            c.query(f"CREATE TABLE {t}_dst (id bigint PRIMARY KEY, v text)")
        c.query("INSERT INTO ma_src VALUES (1, 'seed')")

    # bootstrap table ma: slot exists BEFORE the snapshot copy
    create_cdc_slot(dsn, "s_multi")
    assert write_pg_copy(read_pg_table(spark, dsn, "ma_src"), dsn, "ma_dst") == 1
    try:
        # concurrent-with-snapshot write (arrived after slot creation:
        # it is IN the stream even though the snapshot may also have
        # seen it — replay is an upsert, so no duplicate)
        with PGConn(dsn) as c:
            c.query("INSERT INTO ma_src VALUES (2, 'race')")
            c.query("INSERT INTO mb_src VALUES (10, 'b-one')")
            c.query("UPDATE ma_src SET v = 'seed2' WHERE id = 1")
        got = replicate_pg_tables(
            spark, dsn, "s_multi", dsn,
            {"ma_dst": ["id"], "mb_dst": ["id"]},
            src_tables={"ma_dst": "ma_src", "mb_dst": "mb_src"},
        )
        assert got["ma_dst"] >= 2 and got["mb_dst"] == 1
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM ma_dst ORDER BY id")
            assert rows == [("1", "seed2"), ("2", "race")]
            _, rows = c.query("SELECT id, v FROM mb_dst ORDER BY id")
            assert rows == [("10", "b-one")]
        # quiet window: both tables no-op
        got2 = replicate_pg_tables(
            spark, dsn, "s_multi", dsn,
            {"ma_dst": ["id"], "mb_dst": ["id"]},
            src_tables={"ma_dst": "ma_src", "mb_dst": "mb_src"},
        )
        assert got2 == {} or set(got2.values()) == {0}
    finally:
        drop_cdc_slot(dsn, "s_multi")


def test_parse_test_decoding_roundtrip_property():
    """Property: any column map formatted the way test_decoding
    formats it parses back exactly (quotes, spaces, nulls, brackets,
    colons in values)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    name = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
    text_val = st.text(
        alphabet=st.characters(
            codec="ascii", exclude_characters="\x00\n\r"
        ),
        max_size=30,
    )
    value = st.one_of(st.none(), st.integers(-10**6, 10**6), text_val)

    def fmt(v):
        if v is None:
            return "null"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    @settings(max_examples=200, deadline=None)
    @given(st.dictionaries(name, value, min_size=1, max_size=6))
    def check(cols):
        line = "table public.t: INSERT: " + " ".join(
            f"{k}[text]:{fmt(v)}" for k, v in cols.items()
        )
        parsed = parse_test_decoding(line)
        assert parsed is not None
        expect = {
            k: (None if v is None else str(v)) for k, v in cols.items()
        }
        assert parsed["cols"] == expect

    check()


def test_cli_replicate_mode(logical_dsn, spark):
    """`pgloader_spark SRC DST --replicate --tables dst:id:src` drains
    the slot through the CLI surface, exactly once."""
    from pgloader_spark.cli import main

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE cli_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE cli_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_cli")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO cli_src VALUES (1, 'x'), (2, 'y')")
            c.query("DELETE FROM cli_src WHERE id = 1")
        rc = main([
            dsn, dsn, "--replicate", "--slot", "s_cli",
            "--tables", "cli_dst:id:cli_src", "--polls", "1",
            "--master", "local[4]",
        ])
        assert rc == 0
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM cli_dst ORDER BY id")
            assert rows == [("2", "y")]
    finally:
        drop_cdc_slot(dsn, "s_cli")


def test_peek_is_transaction_safe_under_limit(logical_dsn):
    """Transaction atomicity under a peek limit: PostgreSQL's
    upto_nchanges only stops AFTER finishing a transaction, and the
    reader trims at the last COMMIT as a defensive invariant — either
    way a window never contains a partial transaction."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE txs (id bigint PRIMARY KEY)")
    create_cdc_slot(dsn, "s_tx")
    try:
        with PGConn(dsn) as c:
            c.query("BEGIN")
            for i in range(5):
                c.query(f"INSERT INTO txs VALUES ({i})")
            c.query("COMMIT")
        # limit smaller than the txn: the server completes the txn
        # anyway (upto_nchanges semantics) -> all 5 changes, one COMMIT
        changes, lsn = peek_cdc_changes(dsn, "s_tx", limit=3)
        assert len(changes) == 5 and lsn is not None
        # the trimmed window ends ON the commit lsn (advance target)
        with PGConn(dsn) as c:
            _, raw = c.query(
                "SELECT lsn, data FROM pg_logical_slot_peek_changes("
                "'s_tx', NULL, NULL)"
            )
        assert raw[-1][1].startswith("COMMIT") and raw[-1][0] == lsn
        # defensive trim: a synthetic window cut mid-transaction (no
        # trailing COMMIT) yields nothing rather than a partial txn
        from pgloader_spark.sources import pg_cdc as mod

        cut = raw[:-1]  # drop the COMMIT row

        class _FakeConn:
            def __init__(self, dsn):
                pass

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

            def query(self, sql):
                return ([], list(cut))

        orig = mod.PGConn
        mod.PGConn = _FakeConn
        try:
            changes, lsn = peek_cdc_changes(dsn, "s_tx", limit=10**6)
            assert changes == [] and lsn is None
            with pytest.raises(RuntimeError, match="exceeds the peek limit"):
                peek_cdc_changes(dsn, "s_tx", limit=len(cut))
        finally:
            mod.PGConn = orig
    finally:
        drop_cdc_slot(dsn, "s_tx")


def test_replication_verified_by_checksums(logical_dsn, spark):
    """The CDC loop's convergence invariant, checked content-addressed:
    after a drain, source and target checksum-match; an un-replicated
    mutation breaks the match until the next drain restores it."""
    from pgloader_spark.plans.verify_load import verify_replication

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE vrep_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE vrep_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_vrep")
    try:
        with PGConn(dsn) as c:
            c.query(
                "INSERT INTO vrep_src SELECT g, 'v' || g "
                "FROM generate_series(1, 300) g"
            )
        _drain(spark, dsn, "s_vrep", "vrep_dst", "vrep_src")
        row = verify_replication(
            spark, dsn, dsn, "vrep_src", "vrep_dst", ["id"]
        ).collect()[0]
        assert row.match and row.src_rows == 300

        # mutate the source without draining: invariant must break
        with PGConn(dsn) as c:
            c.query("DELETE FROM vrep_src WHERE id = 17")
            c.query("INSERT INTO vrep_src VALUES (301, 'new')")
        row = verify_replication(
            spark, dsn, dsn, "vrep_src", "vrep_dst", ["id"]
        ).collect()[0]
        assert not row.match

        # drain; invariant restored
        _drain(spark, dsn, "s_vrep", "vrep_dst", "vrep_src")
        row = verify_replication(
            spark, dsn, dsn, "vrep_src", "vrep_dst", ["id"]
        ).collect()[0]
        assert row.match and row.src_rows == 300
    finally:
        drop_cdc_slot(dsn, "s_vrep")


def test_cli_replicate_verify_flag(logical_dsn, spark, capsys):
    """--replicate --verify checksum-checks each table after the final
    drain: exit 0 on convergence, 1 when the target diverges."""
    from pgloader_spark.cli import main

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE cliv_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE cliv_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_cliv")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO cliv_src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
        argv = [
            dsn, dsn, "--replicate", "--slot", "s_cliv",
            "--tables", "cliv_dst:id:cliv_src", "--polls", "1",
            "--master", "local[4]", "--verify",
        ]
        assert main(list(argv)) == 0
        assert "verify cliv_dst: OK" in capsys.readouterr().out

        # tamper with the target out-of-band: next verified drain fails
        with PGConn(dsn) as c:
            c.query("DELETE FROM cliv_dst WHERE id = 2")
        assert main(list(argv)) == 1
        assert "MISMATCH" in capsys.readouterr().out
    finally:
        drop_cdc_slot(dsn, "s_cliv")


def test_changes_to_rows_schema_drift_raises():
    """Unit pin: a change carrying a column the target lacks raises
    with remediation — never silent projection loss (r7 ask #7)."""
    from pgloader_spark.sources.pg_cdc import _changes_to_rows

    drifted = [{
        "op": "I", "schema": "public", "table": "t",
        "cols": {"id": "1", "v": "x", "added_col": "new"},
    }]
    with pytest.raises(ValueError, match="schema drift.*added_col"):
        _changes_to_rows(drifted, ["id", "v"])


def test_mid_stream_add_column_rejects_then_recovers(logical_dsn, spark):
    """Live pin of mid-stream DDL drift: ALTER TABLE ADD COLUMN on the
    source while the slot is live.  The next replicate call must (a)
    raise cleanly WITHOUT advancing the slot or applying anything,
    and (b) succeed — including the new column's values — once the
    target is altered to match, replaying the same window
    exactly-once."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE drift_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE drift_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_drift")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO drift_src VALUES (1, 'one')")
        assert _drain(spark, dsn, "s_drift", "drift_dst", "drift_src") >= 1

        # DDL drift mid-stream: new column appears in the decoded feed
        with PGConn(dsn) as c:
            c.query("ALTER TABLE drift_src ADD COLUMN extra text")
            c.query("INSERT INTO drift_src VALUES (2, 'two', 'E2')")
            c.query("UPDATE drift_src SET extra = 'E1' WHERE id = 1")

        with pytest.raises(ValueError, match="schema drift.*extra"):
            _drain(spark, dsn, "s_drift", "drift_dst", "drift_src")
        # nothing applied, slot not advanced: the window is intact
        # (src and dst share a database here, so the first apply's own
        # dst/epoch writes also sit in the slot — count src events only)
        changes, _ = peek_cdc_changes(dsn, "s_drift")
        assert len([c for c in changes if c["table"] == "drift_src"]) == 2
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM drift_dst ORDER BY id")
            assert rows == [("1", "one")]

        # remediate: match the target's schema, replay the SAME window
        with PGConn(dsn) as c:
            c.query("ALTER TABLE drift_dst ADD COLUMN extra text")
        assert _drain(spark, dsn, "s_drift", "drift_dst", "drift_src") >= 1
        with PGConn(dsn) as c:
            _, rows = c.query(
                "SELECT id, v, extra FROM drift_dst ORDER BY id"
            )
            assert rows == [("1", "one", "E1"), ("2", "two", "E2")]
    finally:
        drop_cdc_slot(dsn, "s_drift")


def test_parse_truncate_single_and_multi_table():
    """TRUNCATE lines parse (pre-r8: returned None == silently dropped)
    and map to targets through ANY named table."""
    p = parse_test_decoding
    one = p("table public.widgets: TRUNCATE: (no-flags)")
    assert one["op"] == "T" and one["truncate"] is True
    assert one["all_tables"] == ["public.widgets"]
    multi = p("table public.a, other.b: TRUNCATE: restart_seqs cascade")
    assert multi["all_tables"] == ["public.a", "other.b"]
    assert multi["flags"] == "restart_seqs cascade"
    plain = {**multi, "flags": ""}

    def claimed(want):
        return _targets(plain, {want: ["id"]}, {}) == [want]

    assert claimed("a")
    assert claimed("other.b")
    assert not claimed("public.b")
    assert not claimed("c")


def test_changes_to_rows_truncate_raises():
    from pgloader_spark.sources.pg_cdc import _changes_to_rows

    tr = [{
        "op": "T", "schema": "public", "table": "t", "cols": {},
        "truncate": True, "all_tables": ["public.t"],
    }]
    with pytest.raises(ValueError, match="TRUNCATE of public.t"):
        _changes_to_rows(tr, ["id", "v"])


def test_mid_stream_truncate_replays_and_converges(logical_dsn, spark):
    """Live (r9, r8 verdict ask #4): a source TRUNCATE mid-stream is
    REPLAYED by window splitting — pre-truncate ops apply, the target
    truncates inside the epoch transaction, post-truncate ops apply —
    and the target converges to the source under verify_replication.
    A second drain of the already-advanced stream stays exactly-once.
    """
    from pgloader_spark.plans.verify_load import verify_replication

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE trunc_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE trunc_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_trunc")
    try:
        # one window holding ops BEFORE the truncate, the truncate,
        # and ops AFTER it — the exact shape the old code raised on
        with PGConn(dsn) as c:
            c.query("INSERT INTO trunc_src VALUES (1, 'one'), (2, 'two')")
            c.query("UPDATE trunc_src SET v = 'ONE' WHERE id = 1")
            c.query("TRUNCATE trunc_src")
            c.query("INSERT INTO trunc_src VALUES (3, 'three')")
            c.query("TRUNCATE trunc_src")  # consecutive windows split too
            c.query("INSERT INTO trunc_src VALUES (4, 'four'), (5, 'five')")
            c.query("DELETE FROM trunc_src WHERE id = 5")
        applied = _drain(spark, dsn, "s_trunc", "trunc_dst", "trunc_src")
        # keys 1,2 upsert (seg 0) + 3 (seg 1) + 4 (seg 2); key 5's
        # insert+delete collapse to a no-row delete; truncates uncounted
        assert applied == 4
        row = verify_replication(
            spark, dsn, dsn, "trunc_src", "trunc_dst", ["id"]
        ).collect()[0]
        assert row.match, row
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM trunc_dst ORDER BY id")
            assert rows == [("4", "four")]
        # drained stream: second drain applies nothing, still converged
        assert _drain(spark, dsn, "s_trunc", "trunc_dst", "trunc_src") == 0
    finally:
        drop_cdc_slot(dsn, "s_trunc")


def test_split_on_truncate_segments_and_cascade():
    """Unit: the window splits at every TRUNCATE into chunks whose
    boundary event carries the replay-stable epoch (its own LSN; the
    final chunk takes the window's commit LSN); CASCADE truncates that
    leave the replicated set stay loud."""
    from pgloader_spark.sources.pg_cdc import _split_window_on_truncate

    def ins(lsn, vid):
        return {"op": "I", "schema": "public", "table": "t",
                "cols": {"id": vid}, "lsn": lsn}

    def tr(lsn, flags=""):
        return {"op": "T", "schema": "public", "table": "t", "cols": {},
                "truncate": True, "all_tables": ["public.t"],
                "tables": [("public", "t")], "flags": flags, "lsn": lsn}

    # ops, T, ops, T(T immediately follows), tail ops
    mine = [ins("0/10", "1"), tr("0/20"), ins("0/30", "2"),
            tr("0/40"), tr("0/50"), ins("0/60", "3")]
    chunks = _split_window_on_truncate(mine)
    # (n_ops, boundary lsn)
    shape = [(len(ops), ev and ev["lsn"]) for ops, ev in chunks]
    assert shape == [
        (1, "0/20"),  # pre-truncate ops, epoch = T1 lsn
        (1, "0/40"),  # ops after T1, epoch = T2 lsn
        (0, "0/50"),  # T2 alone (consecutive), epoch = T3
        (1, None),    # tail, window epoch
    ]
    # a cascade beyond the replicated set raises loudly
    with pytest.raises(ValueError, match="CASCADE"):
        _targets(tr("0/20", "restart_seqs cascade"), {"u": ["id"]}, {})


def test_cascade_unit_split_and_targets():
    """Unit (r10, r9 ask #4): the window splitter, the event -> target
    mapping with its out-of-set CASCADE raise, and a plain TRUNCATE
    skipping tables outside the set."""
    from pgloader_spark.sources.pg_cdc import _split_window_on_truncate

    def ins(lsn, tbl, vid):
        return {"op": "I", "schema": "public", "table": tbl,
                "cols": {"id": vid}, "lsn": lsn}

    def tr(lsn, tabs, flags=""):
        return {"op": "T", "schema": "public", "table": tabs[0], "cols": {},
                "truncate": True,
                "all_tables": [f"public.{t}" for t in tabs],
                "tables": [("public", t) for t in tabs],
                "flags": flags, "lsn": lsn}

    # window splitter: plain and cascade truncates are both boundaries
    win = [ins("0/10", "p", "1"), tr("0/20", ["p"]),
           ins("0/30", "c", "2"), tr("0/40", ["p", "c"], "cascade"),
           ins("0/50", "p", "3")]
    chunks = _split_window_on_truncate(win)
    assert [(len(ch), ev is not None) for ch, ev in chunks] == [
        (1, True), (1, True), (1, False),
    ]

    # target mapping + out-of-set raise
    tables = {"p_dst": ["id"], "c_dst": ["id"]}
    src = {"p_dst": "p", "c_dst": "c"}
    ev = tr("0/40", ["p", "c"], "cascade")
    assert _targets(ev, tables, src) == ["p_dst", "c_dst"]
    ev_out = tr("0/40", ["p", "c", "other"], "cascade")
    with pytest.raises(ValueError, match="outside the replicated set"):
        _targets(ev_out, tables, src)
    # a plain truncate maps its in-set tables and skips the rest
    assert _targets(tr("0/40", ["c", "other"]), tables, src) == [
        "c_dst"
    ]
    assert _targets(tr("0/40", ["other"]), tables, src) == []

    # a self-referencing cascade (reached set = the one table) replays
    self_c = tr("0/20", ["t"], "cascade")
    assert _targets(self_c, {"t": ["id"]}, {}) == ["t"]
    with pytest.raises(ValueError, match="CASCADE"):
        _targets(tr("0/20", ["t", "u"], "cascade"), {"t": ["id"]}, {})


def test_cascade_window_split_property():
    """Property: for ANY window, _split_window_on_truncate is a lossless
    order-preserving partition — concatenating chunk_i + [truncate_i]
    reproduces the original sequence, and every TRUNCATE event (plain
    or cascade) is a chunk boundary, never inside a chunk."""
    from hypothesis import given
    from hypothesis import strategies as st

    from pgloader_spark.sources.pg_cdc import _split_window_on_truncate

    def ev(kind_flags):
        kind, flags = kind_flags
        if kind == "op":
            return {"op": "I", "schema": "public", "table": "t", "cols": {}}
        return {"op": "T", "schema": "public", "table": "t", "cols": {},
                "truncate": True, "tables": [("public", "t")],
                "all_tables": ["public.t"], "flags": flags}

    events = st.lists(
        st.one_of(
            st.tuples(st.just("op"), st.just("")),
            st.tuples(st.just("tr"), st.sampled_from(
                ["", "restart_seqs", "cascade", "restart_seqs cascade"]
            )),
        ),
        max_size=12,
    )

    @given(events)
    def check(seq):
        window = [ev(e) for e in seq]
        chunks = _split_window_on_truncate(window)
        assert len(chunks) == sum(1 for c in window if c.get("truncate")) + 1
        rebuilt = []
        for i, (chunk, trunc) in enumerate(chunks):
            assert not any(c.get("truncate") for c in chunk)
            rebuilt.extend(chunk)
            if trunc is not None:
                assert trunc["truncate"]
                rebuilt.append(trunc)
            else:
                assert i == len(chunks) - 1  # only the final chunk
        assert rebuilt == window

    check()


def test_cascade_truncate_replays_when_fk_closed(logical_dsn, spark):
    """Live (r10, r9 ask #4): TRUNCATE ... CASCADE mid-stream replays
    when the reached set is inside the replicated set — pre-boundary
    ops apply, ONE multi-table TRUNCATE runs epoch-logged, the tail
    applies — and both targets converge under verify_replication.
    The target carries the same FK, so per-table truncates would be
    rejected by PostgreSQL; only the hoisted one-statement replay can
    pass this test.  Replays of the same truncate epoch are no-ops."""
    from pgloader_spark.plans.verify_load import verify_replication
    from pgloader_spark.sources.pg_cdc import (
        _apply_truncate,
        replicate_pg_tables,
    )

    dsn = logical_dsn
    with PGConn(dsn) as c:
        for side in ("src", "dst"):
            c.query(
                f"CREATE TABLE cas_p_{side} (id bigint PRIMARY KEY, v text)"
            )
            c.query(
                f"CREATE TABLE cas_c_{side} (id bigint PRIMARY KEY, "
                f"pid bigint REFERENCES cas_p_{side}(id))"
            )
    create_cdc_slot(dsn, "s_casc")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO cas_p_src VALUES (1, 'one'), (2, 'two')")
            c.query("INSERT INTO cas_c_src VALUES (10, 1), (20, 2)")
            c.query("TRUNCATE cas_p_src CASCADE")  # reaches cas_c_src
            c.query("INSERT INTO cas_p_src VALUES (3, 'three')")
            c.query("INSERT INTO cas_c_src VALUES (30, 3)")
        tables = {"cas_p_dst": ["id"], "cas_c_dst": ["id"]}
        src = {"cas_p_dst": "cas_p_src", "cas_c_dst": "cas_c_src"}
        got = replicate_pg_tables(
            spark, dsn, "s_casc", dsn, tables, src_tables=src
        )
        # pre-boundary: 2 parents + 2 children; tail: 1 + 1
        assert got == {"cas_p_dst": 3, "cas_c_dst": 3}
        for s_tbl, d_tbl in (("cas_p_src", "cas_p_dst"),
                             ("cas_c_src", "cas_c_dst")):
            row = verify_replication(
                spark, dsn, dsn, s_tbl, d_tbl, ["id"]
            ).collect()[0]
            assert row.match, (d_tbl, row)
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, pid FROM cas_c_dst ORDER BY id")
            assert rows == [("30", "3")]
        # drained stream: second call applies nothing
        got2 = replicate_pg_tables(
            spark, dsn, "s_casc", dsn, tables, src_tables=src
        )
        assert got2 == {} or set(got2.values()) == {0}
        # replaying the SAME truncate epoch is a no-op (crash-replay):
        # a sentinel row inserted after the first replay must survive
        with PGConn(dsn) as c:
            c.query("INSERT INTO cas_p_dst VALUES (99, 'sentinel')")
            _, logged = c.query(
                'SELECT epoch FROM "cas_c_dst__truncate_epochs"'
            )
        assert len(logged) == 1
        _apply_truncate(
            dsn, ["cas_p_dst", "cas_c_dst"], False, int(logged[0][0])
        )
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT v FROM cas_p_dst WHERE id = 99")
            assert rows == [("sentinel",)]
            c.query("DELETE FROM cas_p_dst WHERE id = 99")
    finally:
        drop_cdc_slot(dsn, "s_casc")


def test_cascade_truncate_out_of_set_still_raises(logical_dsn, spark):
    """Live: a CASCADE reaching a table the pipeline does not
    replicate raises BEFORE anything applies, and the slot does not
    advance (remediation replays the whole window)."""
    from pgloader_spark.sources.pg_cdc import (
        peek_cdc_changes,
        replicate_pg_tables,
    )

    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE oos_p_src (id bigint PRIMARY KEY)")
        c.query("CREATE TABLE oos_other (id bigint PRIMARY KEY, "
                "pid bigint REFERENCES oos_p_src(id))")
        c.query("CREATE TABLE oos_p_dst (id bigint PRIMARY KEY)")
    create_cdc_slot(dsn, "s_oos")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO oos_p_src VALUES (1)")
            c.query("TRUNCATE oos_p_src CASCADE")  # reaches oos_other
        with pytest.raises(ValueError, match="outside the replicated set"):
            replicate_pg_tables(
                spark, dsn, "s_oos", dsn, {"oos_p_dst": ["id"]},
                src_tables={"oos_p_dst": "oos_p_src"},
            )
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT count(*) FROM oos_p_dst")
            assert rows == [("0",)]  # nothing applied
        changes, _ = peek_cdc_changes(dsn, "s_oos")
        assert changes  # slot did NOT advance
    finally:
        drop_cdc_slot(dsn, "s_oos")


def test_parse_quoted_identifiers():
    """Quoted identifiers with commas/dots parse losslessly (r8
    advice: naive split mis-parsed them into bogus table entries)."""
    p = parse_test_decoding
    tr = p('table public."we,ird", other."dot.ted": TRUNCATE: (no flags)')
    assert tr["tables"] == [("public", "we,ird"), ("other", "dot.ted")]

    def claimed(want):
        return _targets(tr, {want: ["id"]}, {}) == [want]

    assert claimed("public.we,ird")
    assert claimed("dot.ted")        # exact dotted table name
    assert claimed("other.dot.ted")  # schema-qualified form
    assert not claimed("public.dot.ted")
    assert not claimed("ted")
    ins = p('table "My Schema"."Quo""ted": INSERT: id[integer]:1')
    assert ins["schema"] == "My Schema" and ins["table"] == 'Quo"ted'


def test_plain_truncate_of_fk_linked_tables_replays_in_one_statement(
    logical_dsn, spark
):
    """Live: ``TRUNCATE p, c`` (no CASCADE) on FK-linked tables that are
    both replicated replays as ONE ``TRUNCATE`` over both targets.  The
    targets carry the same FK, so truncating either target alone fails
    with 0A000 (cannot truncate a table referenced in a foreign key
    constraint) and the window could never drain."""
    from pgloader_spark.plans.verify_load import verify_replication

    dsn = logical_dsn
    with PGConn(dsn) as c:
        for side in ("src", "dst"):
            c.query(
                f"CREATE TABLE fkt_p_{side} (id bigint PRIMARY KEY, v text)"
            )
            c.query(
                f"CREATE TABLE fkt_c_{side} (id bigint PRIMARY KEY, "
                f"pid bigint REFERENCES fkt_p_{side}(id))"
            )
    create_cdc_slot(dsn, "s_fkt")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO fkt_p_src VALUES (1, 'one'), (2, 'two')")
            c.query("INSERT INTO fkt_c_src VALUES (10, 1), (20, 2)")
            c.query("TRUNCATE fkt_p_src, fkt_c_src")
            c.query("INSERT INTO fkt_p_src VALUES (3, 'three')")
            c.query("INSERT INTO fkt_c_src VALUES (30, 3)")
        tables = {"fkt_p_dst": ["id"], "fkt_c_dst": ["id"]}
        src = {"fkt_p_dst": "fkt_p_src", "fkt_c_dst": "fkt_c_src"}
        got = replicate_pg_tables(
            spark, dsn, "s_fkt", dsn, tables, src_tables=src
        )
        assert got == {"fkt_p_dst": 3, "fkt_c_dst": 3}
        for s_tbl, d_tbl in (("fkt_p_src", "fkt_p_dst"),
                             ("fkt_c_src", "fkt_c_dst")):
            row = verify_replication(
                spark, dsn, dsn, s_tbl, d_tbl, ["id"]
            ).collect()[0]
            assert row.match, (d_tbl, row)
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, pid FROM fkt_c_dst ORDER BY id")
            assert rows == [("30", "3")]
        got2 = replicate_pg_tables(
            spark, dsn, "s_fkt", dsn, tables, src_tables=src
        )
        assert set(got2.values()) <= {0}
    finally:
        drop_cdc_slot(dsn, "s_fkt")


def test_plain_truncate_out_of_set_truncates_in_set_only(logical_dsn, spark):
    """Live: ``TRUNCATE in_set, out_of_set`` without CASCADE truncates
    only the replicated target and does not raise: the out-of-set
    table is skipped, as its other events are."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE pio_in_src (id bigint PRIMARY KEY, v text)")
        c.query("CREATE TABLE pio_out_src (id bigint PRIMARY KEY)")
        c.query("CREATE TABLE pio_in_dst (id bigint PRIMARY KEY, v text)")
    create_cdc_slot(dsn, "s_pio")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO pio_in_src VALUES (1, 'one'), (2, 'two')")
            c.query("INSERT INTO pio_out_src VALUES (1)")
            c.query("TRUNCATE pio_in_src, pio_out_src")
            c.query("INSERT INTO pio_in_src VALUES (3, 'three')")
        assert _drain(spark, dsn, "s_pio", "pio_in_dst", "pio_in_src") == 3
        with PGConn(dsn) as c:
            _, rows = c.query("SELECT id, v FROM pio_in_dst ORDER BY id")
            assert rows == [("3", "three")]
            _, logged = c.query('SELECT epoch FROM "pio_in_dst__truncate_epochs"')
            assert len(logged) == 1
        # the slot advanced past the truncate
        changes, _ = peek_cdc_changes(dsn, "s_pio")
        assert not [c for c in changes if c.get("truncate")
                    and ("public", "pio_out_src") in c["tables"]]
    finally:
        drop_cdc_slot(dsn, "s_pio")


def test_truncate_restart_identity_restarts_target_sequence(
    logical_dsn, spark
):
    """Live: a source ``TRUNCATE ... RESTART IDENTITY`` replays with
    RESTART IDENTITY, so the target's own sequence restarts; a plain
    TRUNCATE leaves it where it was."""
    dsn = logical_dsn
    with PGConn(dsn) as c:
        c.query("CREATE TABLE rid_src (id bigserial PRIMARY KEY, v text)")
        c.query("CREATE TABLE rid_dst (id bigserial PRIMARY KEY, v text)")
        # take the target's sequence to 3
        c.query("INSERT INTO rid_dst (v) VALUES ('x'), ('y'), ('z')")
    create_cdc_slot(dsn, "s_rid")
    try:
        with PGConn(dsn) as c:
            c.query("INSERT INTO rid_src (v) VALUES ('a')")
            c.query("TRUNCATE rid_src")
        assert _drain(spark, dsn, "s_rid", "rid_dst", "rid_src") == 1
        with PGConn(dsn) as c:
            _, seq = c.query("SELECT last_value, is_called FROM rid_dst_id_seq")
            assert seq == [("3", "t")]
            c.query("TRUNCATE rid_src RESTART IDENTITY")
            c.query("INSERT INTO rid_src (v) VALUES ('b')")
        assert _drain(spark, dsn, "s_rid", "rid_dst", "rid_src") == 1
        with PGConn(dsn) as c:
            _, seq = c.query("SELECT last_value, is_called FROM rid_dst_id_seq")
            assert seq == [("1", "f")]
            _, rows = c.query("SELECT id, v FROM rid_dst ORDER BY id")
            assert rows == [("1", "b")]
    finally:
        drop_cdc_slot(dsn, "s_rid")
