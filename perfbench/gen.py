"""Seeded input generators and the independent expected values.

Everything here depends only on the seed and the size: the same seed
writes the same bytes.  The package under test receives only the
files; the expected row counts and content checksums are computed
here, from the generated rows, without the package.

Checksum: per row, the column values rendered as PostgreSQL's text
output (NULL as ``\\N``) joined by ``|``; the row hash is the first 60
bits of its md5; the table checksum is the sum of the row hashes.
``checksum_sql`` computes the same on the server.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import sqlite3

import numpy as np

WORDS = (
    "carefully final deposits detect slyly agains furiously pending "
    "requests haggle blithely ironic accounts quickly regular packages "
    "boost fluffily express theodolites sleep bold foxes nag even "
    "pinto beans wake across the silent dependencies use according"
).split()
SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
INSTRUCT = ("COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = dt.date(1992, 1, 1)

# LOAD CSV target: (column, PostgreSQL type)
LINEITEM_COLUMNS = (
    ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
    ("l_linenumber", "integer"), ("l_quantity", "numeric"),
    ("l_extendedprice", "numeric"), ("l_discount", "numeric"),
    ("l_tax", "numeric"), ("l_returnflag", "text"), ("l_linestatus", "text"),
    ("l_shipdate", "date"), ("l_commitdate", "date"), ("l_receiptdate", "date"),
    ("l_shipinstruct", "text"), ("l_shipmode", "text"), ("l_comment", "text"),
)
# the DDL the target table is created with (numeric keeps two decimals)
LINEITEM_DDL_TYPES = {"numeric": "numeric(15,2)"}

# LOAD DATABASE source schema.  ``pk``, ``indexes`` and ``fkeys`` are
# what the migrated target must carry: primary key columns, secondary
# index columns, foreign keys as (columns, referenced table,
# referenced columns).
SQLITE_SCHEMA = {
    "customer": {
        "ddl": "CREATE TABLE customer (c_custkey INTEGER PRIMARY KEY, "
        "c_name TEXT NOT NULL, c_nationkey INTEGER NOT NULL, c_acctbal REAL, "
        "c_mktsegment TEXT, c_comment TEXT)",
        "pk": ("c_custkey",),
        "indexes": (("c_nationkey",),),
        "fkeys": (),
    },
    "orders": {
        "ddl": "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
        "o_custkey INTEGER NOT NULL REFERENCES customer (c_custkey), "
        "o_orderstatus TEXT, o_totalprice REAL, o_orderdate DATE, "
        "o_orderpriority TEXT, o_comment TEXT)",
        "pk": ("o_orderkey",),
        "indexes": (("o_custkey",), ("o_orderdate",)),
        "fkeys": ((("o_custkey",), "customer", ("c_custkey",)),),
    },
    "lineitem": {
        "ddl": "CREATE TABLE lineitem (l_orderkey INTEGER NOT NULL "
        "REFERENCES orders (o_orderkey), l_linenumber INTEGER NOT NULL, "
        "l_partkey INTEGER, l_suppkey INTEGER, l_quantity INTEGER, "
        "l_extendedprice REAL, l_discount REAL, l_shipdate DATE, "
        "l_shipmode TEXT, l_comment TEXT, "
        "PRIMARY KEY (l_orderkey, l_linenumber))",
        "pk": ("l_orderkey", "l_linenumber"),
        "indexes": (("l_shipdate",),),
        "fkeys": ((("l_orderkey",), "orders", ("o_orderkey",)),),
    },
}
_INDEX_NAMES = {"customer": ("customer_nation",),
                "orders": ("orders_cust", "orders_date"),
                "lineitem": ("lineitem_ship",)}


def _comment(rng: random.Random, lo: int, hi: int) -> str:
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))
    if rng.random() < 0.01:
        # an interior tab: the COPY encoder must escape it
        cut = len(text) // 2
        text = text[:cut] + "\t" + text[cut:]
    return text


def _date(rng: random.Random, span: int = 2400) -> dt.date:
    return EPOCH + dt.timedelta(days=rng.randrange(span))


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def lineitem_rows(seed: int, n_rows: int):
    """Rows of PostgreSQL text values (None = NULL), in file order."""
    rng = np.random.default_rng(seed)
    n = n_rows
    per_order = rng.integers(1, 8, size=n)
    starts = np.cumsum(per_order) - per_order
    order_keys = np.cumsum(rng.integers(1, 5, size=n))
    orderkey = np.repeat(order_keys, per_order)[:n]
    linenumber = (np.arange(int(per_order.sum())) - np.repeat(starts, per_order))[:n] + 1
    qty = rng.integers(1, 51, size=n)
    cols = {
        "partkey": rng.integers(1, 200_001, size=n),
        "suppkey": rng.integers(1, 10_001, size=n),
        "price": qty * rng.integers(90_000, 200_001, size=n),
        "discount": rng.integers(0, 11, size=n),
        "tax": rng.integers(0, 9, size=n),
        "flag": rng.integers(0, 3, size=n),
        "status": rng.integers(0, 2, size=n),
        "ship": rng.integers(0, 2400, size=n),
        "commit": rng.integers(-30, 61, size=n),
        "no_commit": rng.random(size=n) < 0.02,
        "receipt": rng.integers(1, 31, size=n),
        "instruct": rng.integers(0, len(INSTRUCT), size=n),
        "mode": rng.integers(0, len(SHIPMODES), size=n),
        "no_comment": rng.random(size=n) < 0.05,
        "n_words": rng.integers(2, 8, size=n),
        "tab": rng.random(size=n) < 0.01,
    }
    words = rng.integers(0, len(WORDS), size=(n, 7))
    days = [(EPOCH + dt.timedelta(days=d)).isoformat() for d in range(-30, 2400 + 61)]
    c = {k: v.tolist() for k, v in cols.items()}
    keys, lines, qtys, words = orderkey.tolist(), linenumber.tolist(), qty.tolist(), words.tolist()
    for i in range(n):
        ship = c["ship"][i]
        comment = None
        if not c["no_comment"][i]:
            comment = " ".join(WORDS[w] for w in words[i][: c["n_words"][i]])
            if c["tab"][i]:
                # an interior tab: the COPY encoder must escape it
                cut = len(comment) // 2
                comment = comment[:cut] + "\t" + comment[cut:]
        yield (
            str(keys[i]), str(c["partkey"][i]), str(c["suppkey"][i]), str(lines[i]),
            _money(qtys[i] * 100), _money(c["price"][i]), _money(c["discount"][i]),
            _money(c["tax"][i]), "ANR"[c["flag"][i]], "FO"[c["status"][i]],
            days[ship + 30],
            None if c["no_commit"][i] else days[ship + c["commit"][i] + 30],
            days[ship + c["receipt"][i] + 30],
            INSTRUCT[c["instruct"][i]], SHIPMODES[c["mode"][i]], comment,
        )


def row_hash(values) -> int:
    text = "|".join("\\N" if v is None else v for v in values)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


def checksum_sql(table: str, columns) -> str:
    """Server-side twin of ``row_hash`` summed over a table."""
    parts = ", ".join(f"coalesce({c}::text, '\\N')" for c in columns)
    return (
        f"SELECT count(*), coalesce(sum(('x' || substr(md5(concat_ws('|', {parts})),"
        f" 1, 15))::bit(60)::bigint::numeric), 0) FROM {table}"
    )


def write_lineitem_csv(path: str, seed: int, n_rows: int) -> dict:
    """Write the ``|``-separated file (empty field = NULL); returns the
    expected ``{"rows", "checksum", "bytes"}`` of the loaded table."""
    total, n = 0, 0
    tmp = path + ".part"
    with open(tmp, "w", encoding="utf-8", newline="") as fh:
        for row in lineitem_rows(seed, n_rows):
            fh.write("|".join("" if v is None else v for v in row) + "\n")
            total += row_hash(row)
            n += 1
    os.replace(tmp, path)
    return {"rows": n, "checksum": total, "bytes": os.path.getsize(path)}


def _pg_float(x: float) -> str:
    """PostgreSQL's float8 text output for the value ranges generated."""
    r = repr(x)
    return r[:-2] if r.endswith(".0") else r


def _tpch_rows(seed: int, n_orders: int):
    rng = random.Random(seed)
    n_cust = max(1, n_orders // 10)
    customer = [
        (k, f"Customer#{k:09d}", rng.randrange(25), rng.randint(-99_999, 999_999) / 100,
         rng.choice(SEGMENTS), None if rng.random() < 0.05 else _comment(rng, 3, 9))
        for k in range(1, n_cust + 1)
    ]
    orders, lineitem = [], []
    for k in range(1, n_orders + 1):
        okey = k * 4 - rng.randrange(4)  # sparse keys, like TPC-H
        odate = _date(rng)
        total = 0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = rng.randint(1, 50)
            price = qty * rng.randint(90_000, 200_000)
            total += price
            lineitem.append((
                okey, ln, rng.randint(1, 200_000), rng.randint(1, 10_000), qty,
                price / 100, rng.randint(0, 10) / 100,
                (odate + dt.timedelta(days=rng.randint(1, 120))).isoformat(),
                rng.choice(SHIPMODES),
                None if rng.random() < 0.05 else _comment(rng, 2, 6),
            ))
        orders.append((
            okey, rng.randint(1, n_cust), rng.choice("FOP"), total / 100,
            odate.isoformat(), rng.choice(PRIORITIES), _comment(rng, 3, 12),
        ))
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _pg_text(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, float):
        return _pg_float(v)
    return str(v)


def write_tpch_sqlite(path: str, seed: int, n_orders: int) -> dict:
    """Write the SQLite source; returns per-table expected
    ``{table: {"rows", "checksum", "columns"}}`` and the key objects."""
    tables = _tpch_rows(seed, n_orders)
    tmp = path + ".part"
    if os.path.exists(tmp):
        os.unlink(tmp)
    con = sqlite3.connect(tmp)
    try:
        expected = {}
        for name, spec in SQLITE_SCHEMA.items():
            con.execute(spec["ddl"])
            rows = tables[name]
            marks = ", ".join("?" * len(rows[0]))
            con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
            for iname, cols in zip(_INDEX_NAMES[name], spec["indexes"]):
                con.execute(f"CREATE INDEX {iname} ON {name} ({', '.join(cols)})")
            columns = [r[1] for r in con.execute(f"PRAGMA table_info({name})")]
            expected[name] = {
                "rows": len(rows),
                "checksum": sum(row_hash([_pg_text(v) for v in r]) for r in rows),
                "columns": columns,
            }
        con.commit()
    finally:
        con.close()
    os.replace(tmp, path)
    return expected
