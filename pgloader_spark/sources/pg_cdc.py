"""CDC CAPTURE from PostgreSQL logical replication slots.

The reference's answer to "keep the target in sync" is re-running the
migration; this module captures the source's logical replication
stream instead (``test_decoding`` output plugin — in-core since 9.4)
and feeds the collapsed change batches to ``apply_pg_cdc``, closing
the loop into continuous PG->PG replication:

  (slot created) -> (writes happen) -> replicate_pg_tables
    = peek slot -> parse -> apply_pg_cdc(epoch_id=commit lsn)
      -> advance slot

Delivery is exactly-once end-to-end: the slot is PEEKED (not
consumed), the apply transaction logs the batch's max commit LSN as
its epoch, and only then is the slot advanced — a crash at any point
replays the same LSN window, which the epoch log turns into a no-op
before the cursor moves.  A source TRUNCATE splits the window: the
ops before it apply, one epoch-logged ``TRUNCATE`` of the replicated
targets it names runs, and the rest of the window applies after it.

Scale shape: one replication slot is an inherently serial cursor
(PostgreSQL's own constraint — parallelism comes from one slot per
database/table-set), so the capture side is a driver-sized poll; the
APPLY side is the distributed staged-COPY transaction.  Requires
``wal_level=logical`` on the source.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pgloader_spark.sources.pgwire import PGConn


def lsn_to_int(lsn: str) -> int:
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _unquote(ident: str) -> str:
    """Strip PostgreSQL double-quote delimiters and unescape ``""``."""
    ident = ident.strip()
    if len(ident) >= 2 and ident[0] == '"' and ident[-1] == '"':
        return ident[1:-1].replace('""', '"')
    return ident


def _split_table_list(head: str) -> list[str]:
    """Split ``s.t1, s."we,ird"`` on commas OUTSIDE double quotes —
    a naive split mis-parses quoted identifiers containing commas
    into bogus table entries (r8 advice)."""
    items: list[str] = []
    buf: list[str] = []
    inq = False
    for ch in head:
        if ch == '"':
            inq = not inq
            buf.append(ch)
        elif ch == "," and not inq:
            if "".join(buf).strip():
                items.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if "".join(buf).strip():
        items.append("".join(buf).strip())
    return items


def _split_qualified(qual: str) -> tuple[str, str]:
    """``schema.table`` -> (schema, table), honoring double quotes:
    the separator is the first '.' outside quotes, and the parts come
    back unquoted (``pub."dot.ted"`` -> ('pub', 'dot.ted'))."""
    inq = False
    for i, ch in enumerate(qual):
        if ch == '"':
            inq = not inq
        elif ch == "." and not inq:
            return _unquote(qual[:i]), _unquote(qual[i + 1 :])
    return "", _unquote(qual)


def parse_test_decoding(data: str) -> dict | None:
    """Parse one test_decoding line into
    {schema, table, op, cols: {name: str|None}}; BEGIN/COMMIT/other
    control lines return None.

    Format: ``table <schema>.<table>: <OP>: name[type]:value ...``
    where value is ``null``, an unquoted literal, or a single-quoted
    string with doubled-quote escapes.  Two extra shapes the plugin
    emits (see PostgreSQL contrib/test_decoding):

    - a PK-changing UPDATE (or REPLICA IDENTITY FULL) prefixes the
      old identity as ``old-key: <cols> new-tuple: <cols>``; the
      parsed ``cols`` are the NEW tuple and the old identity comes
      back under ``old_key`` (the apply side turns it into
      delete-old-key + insert-new);
    - DELETE on a table without a replica identity prints
      ``(no-tuple-data)`` — no key exists in the stream, so the
      change comes back with empty ``cols`` and ``no_tuple_data:
      True`` for the caller to reject loudly (it is unapplyable);
    - TRUNCATE prints one line for the whole statement
      (``table s.t1, s.t2: TRUNCATE: ...``) — parsed as op ``T``
      with ``truncate: True``, display ``all_tables`` and lossless
      ``tables`` (schema, table) pairs so the replicate loop SEES
      it (pre-r8 it parsed to None, i.e. a source truncate silently
      never reached the target) and replays it at a window split.

    Identifier lists honor PostgreSQL double-quoting: commas and
    dots inside quoted names don't split, and names come back
    unquoted with ``""`` unescaped (r8 advice).
    """
    if not data.startswith("table "):
        return None
    head, _, rest = data[6:].partition(": ")
    op, _, payload = rest.partition(": ")
    if op == "TRUNCATE":
        # test_decoding emits one line for the whole statement:
        # ``table s.t1, s.t2: TRUNCATE: (no flags)`` — parse EVERY
        # named table so the event can never slip past the target
        # mapping (a silently dropped TRUNCATE is silent divergence)
        parsed_tabs = [
            _split_qualified(t) for t in _split_table_list(head)
        ]
        s0, t0 = parsed_tabs[0]
        return {
            "schema": s0 or "public",
            "table": t0,
            "op": "T",
            "cols": {},
            "truncate": True,
            # display strings (unquoted); ``tables`` carries the
            # lossless (schema, table) pairs the target mapping reads
            "all_tables": [f"{s}.{t}" if s else t for s, t in parsed_tabs],
            "tables": [(s or "public", t) for s, t in parsed_tabs],
            "flags": payload.strip(),
        }
    if op not in ("INSERT", "UPDATE", "DELETE"):
        return None
    schema, table = _split_qualified(head)
    out = {
        "schema": schema or "public",
        "table": table,
        "op": {"INSERT": "I", "UPDATE": "U", "DELETE": "D"}[op],
        "cols": {},
    }
    if payload.strip() == "(no-tuple-data)":
        out["no_tuple_data"] = True
        return out
    plain: dict[str, str | None] = {}
    old: dict[str, str | None] | None = None
    new: dict[str, str | None] | None = None
    cur = plain
    i, n = 0, len(payload)
    while i < n:
        while i < n and payload[i] == " ":
            i += 1
        if i >= n:
            break
        # section markers only occur where a column name would start
        # (never inside a quoted value — the value scan below consumes
        # those whole), so a prefix test here is unambiguous
        if payload.startswith("old-key:", i):
            old = {}
            cur = old
            i += 8
            continue
        if payload.startswith("new-tuple:", i):
            new = {}
            cur = new
            i += 10
            continue
        # column name up to '['  (quoted idents arrive as "name")
        j = payload.index("[", i)
        name = payload[i:j].strip().strip('"')
        k = payload.index("]:", j)
        i = k + 2
        if payload.startswith("'", i):  # quoted string, '' escapes
            i += 1
            buf = []
            while i < n:
                if payload.startswith("''", i):
                    buf.append("'")
                    i += 2
                elif payload[i] == "'":
                    i += 1
                    break
                else:
                    buf.append(payload[i])
                    i += 1
            cur[name] = "".join(buf)
        else:  # unquoted literal up to the next space
            j = payload.find(" ", i)
            if j == -1:
                j = n
            tok = payload[i:j]
            cur[name] = None if tok == "null" else tok
            i = j
    out["cols"] = new if new is not None else plain
    if old is not None:
        out["old_key"] = old
    return out


def peek_cdc_changes(
    dsn: str, slot: str, limit: int = 100_000
) -> tuple[list[dict], str | None]:
    """Peek (non-destructively) the slot; returns (changes, max_lsn).
    Each change carries lsn/seq plus the parsed fields.

    TRANSACTION-SAFE under ``limit``: the window is trimmed at the
    LAST COMMIT boundary, so a limit that cuts inside a transaction
    never yields (and never advances past) a partial transaction —
    the cut rows replay complete in the next window.  A single
    transaction larger than ``limit`` raises instead of applying
    half of it.
    """
    with PGConn(dsn) as c:
        _, rows = c.query(
            "SELECT lsn, data FROM pg_logical_slot_peek_changes("
            f"'{slot}', NULL, {int(limit)})"
        )
    last_commit = None
    for i, (_lsn, data) in enumerate(rows):
        if data.startswith("COMMIT"):
            last_commit = i
    if rows and last_commit is None:
        if len(rows) >= limit:
            raise RuntimeError(
                f"one transaction exceeds the peek limit ({limit}); "
                "raise the limit to keep application atomic"
            )
        return [], None  # open transaction tail only: wait for commit
    out: list[dict] = []
    max_lsn = None
    for seq, (lsn, data) in enumerate(rows[: (last_commit or 0) + 1]):
        max_lsn = lsn
        parsed = parse_test_decoding(data)
        if parsed is not None:
            parsed["lsn"] = lsn
            parsed["seq"] = seq
            out.append(parsed)
    return out, max_lsn


def advance_cdc_slot(dsn: str, slot: str, upto_lsn: str) -> None:
    with PGConn(dsn) as c:
        c.query(
            f"SELECT pg_replication_slot_advance('{slot}', '{upto_lsn}')"
        )


def _claims(changes: list[dict], want: str):
    """Resolve ONCE per window which source table ``want`` names, as a
    predicate on (schema, table).  Matched on schema AND table when
    ``want`` is qualified (``s.t``), on table name alone otherwise (the
    unqualified form conflates same-named tables across schemas;
    qualify when the source has more than ``public``).

    Dotted-name precedence (r9 advice): the conventional last-dot
    reading (schema ``a``, table ``b`` for ``want='a.b'``) wins; the
    dotted-literal reading (a table literally named ``a.b``, or
    ``s.a.b`` schema-qualified, quoted on the source) applies ONLY when
    the conventional reading matches nothing in the window.  Both DML
    events and the tables every TRUNCATE names count, over the WHOLE
    window: a window containing BOTH readings raises — silently
    interleaving two distinct source tables into one target stream is
    the one unacceptable outcome; the caller must schema-qualify the
    dotted table (``schema.a.b``) or rename."""
    ws, _, wt = want.rpartition(".")

    def conventional(s: str, t: str) -> bool:
        return t == wt and (not ws or s == ws)

    def literal(s: str, t: str) -> bool:
        return not conventional(s, t) and (t == want or f"{s}.{t}" == want)

    pairs = [
        pair
        for c in changes
        for pair in (
            c["tables"] if c.get("truncate") else [(c["schema"], c["table"])]
        )
    ]
    lit = any(literal(s, t) for s, t in pairs)
    if lit and any(conventional(s, t) for s, t in pairs):
        raise ValueError(
            f"requested table {want!r} is ambiguous in this change "
            f"window: it contains events for schema {ws!r} table "
            f"{wt!r} AND for a table literally named to match "
            f"{want!r}.  Schema-qualify the dotted table or rename "
            "one of them; refusing to interleave two source tables "
            "into one target stream"
        )
    return literal if lit else conventional


def _changes_to_rows(mine: list[dict], col_names: list[str]) -> list[tuple]:
    """Parsed changes -> (col..., op, seq) apply rows, re-sequenced.

    A PK-changing UPDATE (``old_key`` present) expands to DELETE(old
    identity) + INSERT(new tuple) — the upsert-by-key apply cannot
    move a row between keys in one op.  A ``(no-tuple-data)`` DELETE
    carries no key at all (source table has no replica identity) and
    is unapplyable: raise with the remediation.

    Mid-stream SCHEMA DRIFT (a column added on the source while the
    slot is live — test_decoding simply starts emitting it) raises
    cleanly BEFORE anything applies rather than silently projecting
    the new column away: the slot has not advanced, so after ALTER
    TABLE ... ADD COLUMN on the target (or a re-snapshot) the retry
    replays the same window and the per-table epoch logs keep it
    exactly-once.  Silent loss is the one
    unacceptable outcome."""
    known = set(col_names)
    rows: list[tuple] = []
    seq = 0
    for c in mine:
        if c.get("truncate"):
            # replicate_pg_tables splits the window at every truncate
            # BEFORE building rows; reaching this raise means a caller
            # bypassed _split_window_on_truncate — stay loud rather
            # than silently dropping the event.
            raise ValueError(
                f"TRUNCATE of {', '.join(c['all_tables'])} in the "
                "change stream reached _changes_to_rows: split the "
                "window first (_split_window_on_truncate, as "
                "replicate_pg_tables does) — truncates cannot be "
                "collapsed into the upsert row set"
            )
        extra = set(c["cols"]) - known if c.get("cols") else set()
        if extra:
            raise ValueError(
                f"schema drift on {c['schema']}.{c['table']}: the change "
                f"stream carries column(s) {sorted(extra)} the target "
                "table lacks — a source ALTER TABLE happened mid-stream.  "
                "Add the column(s) on the target and re-run (the slot "
                "window has not advanced; epoch logs keep the retry "
                "exactly-once), or re-snapshot the target"
            )
        if c.get("no_tuple_data"):
            raise ValueError(
                f"unapplyable {c['op']} on {c['schema']}.{c['table']}: "
                "the stream has (no-tuple-data) — the source table has "
                "no replica identity, so its DELETE keys never reach "
                "the slot.  ALTER TABLE ... REPLICA IDENTITY "
                "DEFAULT (with a PK) or FULL on the source, and "
                "recreate the slot"
            )
        old = c.get("old_key")
        if old is not None:
            rows.append(
                tuple(old.get(n) for n in col_names) + ("D", seq)
            )
            seq += 1
        rows.append(
            tuple(c["cols"].get(n) for n in col_names) + (c["op"], seq)
        )
        seq += 1
    return rows


def _split_window_on_truncate(
    changes: list[dict],
) -> list[tuple[list[dict], dict | None]]:
    """Split the WHOLE window (all tables) at every TRUNCATE event:
    [(chunk_changes, truncate_event)], the final chunk paired with
    None.  A truncate cannot ride inside one table's apply: PostgreSQL
    refuses to truncate an FK-referenced table outside a single
    statement that names its referrers too (``TRUNCATE p, c``), so
    truncates hoist to window level: apply every table's pre-boundary
    ops, run ONE multi-table TRUNCATE, continue."""
    chunks: list[tuple[list[dict], dict | None]] = []
    cur: list[dict] = []
    for c in changes:
        if c.get("truncate"):
            chunks.append((cur, c))
            cur = []
        else:
            cur.append(c)
    chunks.append((cur, None))
    return chunks


def _truncate_targets(event: dict, claims: dict) -> list[str]:
    """Map the source tables a TRUNCATE event names to their TARGET
    tables (``claims``: target -> its window's ``_claims`` predicate,
    in ``tables`` order).  A plain TRUNCATE skips source tables
    outside the replicated set.  A CASCADE raises when its reach
    leaves the set (r9 verdict ask #4): the decoded event lists the
    full reached closure, so in-set-ness is checkable exactly, per
    event, with no separate FK introspection — and cascading on the
    target could reach tables this pipeline does not replicate (the
    target's FK graph may differ)."""
    pairs = event["tables"]
    if "cascade" in event.get("flags", ""):
        unclaimed = [
            f"{s}.{t}"
            for s, t in pairs
            if not any(claimed(s, t) for claimed in claims.values())
        ]
        if unclaimed:
            raise ValueError(
                f"CASCADE TRUNCATE of {', '.join(event['all_tables'])} "
                f"reaches tables outside the replicated set: {unclaimed}. "
                "Replaying it would require truncating tables this "
                "pipeline does not manage.  Replicate them too, or "
                "TRUNCATE the target tables yourself and advance the "
                "slot past this window (advance_cdc_slot), or "
                "re-snapshot the targets"
            )
    return [
        target
        for target, claimed in claims.items()
        if any(claimed(s, t) for s, t in pairs)
    ]


def _apply_truncate(
    dst_dsn: str, targets: list[str], restart: bool, epoch: int
) -> None:
    """Replay a source TRUNCATE as ONE multi-table TRUNCATE statement
    on the target, exactly-once via a dedicated epoch log
    (``<first-target>__truncate_epochs`` — separate from the apply
    logs because the boundary LSN doubles as the pre-boundary ops'
    epoch id).  One statement, not per-table: PostgreSQL allows
    truncating FK-linked tables only together, and if some OUT-of-set
    target table references one of these, the target raises loudly
    here — exactly the divergent-FK-graph case the refusal protects."""
    from pgloader_spark.sources.pg_live import quote_qualified, sibling_table

    targets = sorted(targets)
    log = quote_qualified(sibling_table(targets[0], "__truncate_epochs"))
    tlist = ", ".join(quote_qualified(t) for t in targets)
    with PGConn(dst_dsn) as conn:
        conn.query(
            f"CREATE TABLE IF NOT EXISTS {log} (epoch bigint PRIMARY KEY)"
        )
        _, seen = conn.query(
            f"SELECT 1 FROM {log} WHERE epoch = {int(epoch)}"
        )
        if seen:
            return
        conn.query("BEGIN")
        conn.query(
            f"TRUNCATE {tlist}" + (" RESTART IDENTITY" if restart else "")
        )
        conn.query(f"INSERT INTO {log} (epoch) VALUES ({int(epoch)})")
        conn.query("COMMIT")


def replicate_pg_tables(
    spark: SparkSession,
    src_dsn: str,
    slot: str,
    dst_dsn: str,
    tables: dict[str, list[str]],  # target table -> key columns
    src_tables: dict[str, str] | None = None,  # target -> source name
) -> dict[str, int]:
    """One slot, N tables: peek the window ONCE, apply each table's
    changes in its own epoch-logged transaction, advance the cursor
    once at the end.  A crash between table applies replays the
    window; per-table epoch logs skip the already-committed tables
    and re-apply the rest — still exactly-once per table.  Returns
    data rows applied per target (upserts + deletes; a truncate
    itself is not counted).

    Source TRUNCATEs replay at window level: the window splits at
    every TRUNCATE event — every table's pre-boundary ops apply under
    epoch = the truncate's LSN, then ONE epoch-logged ``TRUNCATE`` of
    the in-set targets runs, then the tail applies (epoch = window
    commit LSN) — so crash-replay at any point stays exactly-once.  A
    CASCADE reaching any table outside the set raises before anything
    applies.

    Events for tables outside ``tables`` are DISCARDED when the
    cursor advances (one slot should drive exactly the table set it
    replicates)."""
    from pgloader_spark.sources.pg_live import apply_pg_cdc, introspect_pg

    changes, max_lsn = peek_cdc_changes(src_dsn, slot)
    applied: dict[str, int] = {}
    if max_lsn is None:
        return applied
    src_names = src_tables or {}
    applied = {t: 0 for t in tables}
    col_cache: dict[str, list[str]] = {}
    # resolve every table's reading and map EVERY truncate boundary
    # upfront: an ambiguous dotted name or an out-of-set cascade
    # anywhere in the window raises with nothing applied (the slot has
    # not advanced, so remediation replays the whole window)
    claims = {t: _claims(changes, src_names.get(t, t)) for t in tables}
    chunks = _split_window_on_truncate(changes)
    targets = [
        _truncate_targets(trunc, claims) if trunc else []
        for _, trunc in chunks
    ]
    for (chunk, trunc), trunc_targets in zip(chunks, targets):
        epoch = lsn_to_int(trunc["lsn"] if trunc else max_lsn)
        for table, key_cols in tables.items():
            mine = [
                c for c in chunk if claims[table](c["schema"], c["table"])
            ]
            if not mine:
                continue
            if table not in col_cache:
                col_cache[table] = [
                    f.name
                    for f in introspect_pg(dst_dsn)[table.split(".")[-1]]
                ]
            cols = col_cache[table]
            df = spark.createDataFrame(
                _changes_to_rows(mine, cols),
                ", ".join(f"`{n}` string" for n in cols)
                + ", op string, seq long",
            )
            applied[table] += sum(
                apply_pg_cdc(
                    df, dst_dsn, table, key_cols=key_cols, seq_col="seq",
                    epoch_id=epoch,
                )[1:]
            )
        if trunc_targets:
            _apply_truncate(
                dst_dsn, trunc_targets,
                "restart_seqs" in trunc.get("flags", ""), epoch,
            )
    advance_cdc_slot(src_dsn, slot, max_lsn)
    return applied
