"""Load-verification audits: FK-orphan reports and portable table
checksums.

pgloader's post-load phase creates the target's foreign keys and
aborts the whole index/constraint stage when a dangling reference
surfaces (ref: src/pg-copy/copy-db.lisp — after-load FK install), and
its summary reporting counts rows per table as the only completeness
signal (src/monitor.lisp stats).  At 100 TB a migration needs both
checks BEFORE constraint install, as restartable scans:

- ``fk_orphan_summary`` counts dangling child keys per FK edge with
  one map-side-combinable key aggregation + one key-partitioned (or
  broadcast) join per edge — no constraint-install-then-abort cycle.
- ``table_checksum`` reduces each table to (row count, distinct keys,
  order-independent key checksum).  Run against source and target and
  diff the two one-row-per-table frames to verify a load moved every
  row exactly once.  The checksum is a SUM of md5-prefix hashes
  (decimal accumulator, folded to 60 bits at the end), so it is
  commutative — partition order, shuffle order, and parallelism never
  change it — and DuckDB-reproducible for the oracle.

Everything is Column expressions inside whole-stage codegen; per edge
/ table the result is ONE row, so the union output is trivially
small no matter the input scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgloader_spark.operators.dedup import md5_hash64

CHECKSUM_SEED = 11
CHECKSUM_MOD = 1 << 60


def key_string(key_cols: list[str]) -> "F.Column":
    """Unambiguous composite-key rendering: each part escapes
    backslash then the separator BEFORE the '|' join, so
    ('a|b', 'c') and ('a', 'b|c') render differently — a plain
    concat_ws would checksum-collide them.  NULL parts render as the
    explicit sentinel ``\\N`` (unambiguous: a REAL backslash-N in the
    data escapes to ``\\\\N`` first), because both Spark's and
    DuckDB's concat_ws silently SKIP null arguments — without the
    sentinel ('a', NULL) and (NULL, 'a') would both render 'a' and
    checksum-collide, a false verify match on nullable unique-index
    keys.  Single-column keys skip the escaping (nothing to
    disambiguate) and stay NULL-on-NULL — count(DISTINCT) skips NULL
    identically in both engines, so the mirror holds.  Mirrored
    exactly by the oracle SQL (queries_audit._duck_key_string)."""
    if len(key_cols) == 1:
        return F.col(key_cols[0]).cast("string")
    parts = [
        F.coalesce(
            F.replace(
                F.replace(F.col(c).cast("string"), F.lit("\\"), F.lit("\\\\")),
                F.lit("|"),
                F.lit("\\|"),
            ),
            F.lit("\\N"),
        )
        for c in key_cols
    ]
    return F.concat_ws("|", *parts)


def fk_orphan_summary(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    edge: str,
    broadcast_parent: bool = False,
) -> DataFrame:
    """One-row referential-integrity report for child.key -> parent.key.

    Plan shape: aggregate the child to (key, n_rows) first — map-side
    combinable, so the shuffle carries distinct keys, not rows — then
    LEFT-join the parent's distinct key set (broadcast when the caller
    knows the parent is a dim) and fold to a single summary row.
    NULL child keys never match the join (SQL semantics) and are
    reported separately from orphans, mirroring how an FK constraint
    treats them (NULL passes, dangling aborts).
    """
    keys = child.groupBy(F.col(child_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__rows")
    )
    pkeys = parent.select(F.col(parent_key).alias("__k")).distinct()
    pkeys = pkeys.withColumn("__hit", F.lit(True))
    if broadcast_parent:
        pkeys = F.broadcast(pkeys)
    joined = keys.join(pkeys, "__k", "left")
    null_k = F.col("__k").isNull()
    orphan = (~null_k) & F.col("__hit").isNull()
    return joined.agg(
        F.lit(edge).alias("edge"),
        # coalesce: SUM over an EMPTY child yields NULL, not 0
        F.coalesce(F.sum("__rows"), F.lit(0)).cast("long").alias("n_child_rows"),
        F.count(F.when(~null_k, 1)).cast("long").alias("n_child_keys"),
        F.coalesce(F.sum(F.when(null_k, F.col("__rows"))), F.lit(0))
        .cast("long")
        .alias("n_null_keys"),
        F.count(F.when(orphan, 1)).cast("long").alias("n_orphan_keys"),
        F.coalesce(F.sum(F.when(orphan, F.col("__rows"))), F.lit(0))
        .cast("long")
        .alias("n_orphan_rows"),
    )


def fk_orphan_report(
    edges: list[tuple[DataFrame, str, DataFrame, str, str, bool]],
) -> DataFrame:
    """Union of ``fk_orphan_summary`` over (child, child_key, parent,
    parent_key, edge_name, broadcast_parent) tuples — one row per FK
    edge, evaluated as a single lazy plan."""
    parts = [fk_orphan_summary(*e[:5], broadcast_parent=e[5]) for e in edges]
    return reduce(DataFrame.unionByName, parts)


def table_checksum(
    df: DataFrame, table: str, key_cols: list[str], seed: int = CHECKSUM_SEED
) -> DataFrame:
    """One-row (table, n_rows, n_keys, key_checksum) completeness
    summary.

    The key string renders through ``key_string`` (PKs are non-null
    by contract; composite keys separator-escaped and joined in
    declared order).
    Each key hashes through the engine-portable md5-prefix hash
    (``dedup.md5_hash64`` == the oracle's ``_duck_hash64``); the sum
    of n 60-bit terms needs ~60+log2(n) bits, so it accumulates as
    three 20-bit-limb int64 sums recombined in decimal on the final
    row (value-identical to one decimal(38,0) running sum, measured
    far cheaper), and folds to 60 bits at the very end.
    Order-independent by construction: SUM is commutative, so any
    partitioning produces the same checksum.
    """
    key_str = key_string(key_cols)
    h = md5_hash64(key_str, seed=seed)
    # r10 opt: (a) project to the key columns before the per-row md5
    # (guide §2.3: project early); (b) count distinct over the RAW key
    # columns, not the rendered string — key_string is injective and
    # PKs are non-null by contract, so the count is identical while
    # the distinct-map hashes fixed-width values (single column:
    # the raw column, NULL-skipping like the un-coalesced string;
    # composite: a struct — never NULL even with NULL parts, exactly
    # like the sentinel-coalesced render); (c) accumulate the
    # 60-bit hash as three 20-bit-limb LONG sums (each bounded by
    # 2^20 * n_rows — overflow-safe past 10^12 rows/table) and
    # recombine in decimal on the final single row: a decimal(38,0)
    # running sum measured +0.7 s on 600k rows vs long sums.
    narrow = df.select(*key_cols)
    mask = (1 << 20) - 1
    distinct_key = (
        F.col(key_cols[0]) if len(key_cols) == 1 else F.struct(*key_cols)
    )
    return narrow.agg(
        F.lit(table).alias("table_name"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(distinct_key).cast("long").alias("n_keys"),
        F.sum(h.bitwiseAND(F.lit(mask))).alias("__s0"),
        F.sum(F.shiftright(h, 20).bitwiseAND(F.lit(mask))).alias("__s1"),
        F.sum(F.shiftright(h, 40)).alias("__s2"),
    ).select(
        "table_name",
        "n_rows",
        "n_keys",
        (
            (
                F.col("__s0").cast("decimal(38,0)")
                + F.col("__s1").cast("decimal(38,0)") * F.lit(1 << 20)
                + F.col("__s2").cast("decimal(38,0)") * F.lit(1 << 40)
            )
            % F.lit(CHECKSUM_MOD)
        )
        .cast("long")
        .alias("key_checksum"),
    )


def table_checksum_report(
    tables: list[tuple[DataFrame, str, list[str]]], seed: int = CHECKSUM_SEED
) -> DataFrame:
    """Union of ``table_checksum`` across tables — the whole catalog's
    completeness fingerprint as one tiny frame."""
    parts = [table_checksum(df, name, keys, seed=seed) for df, name, keys in tables]
    return reduce(DataFrame.unionByName, parts)


def bucket_checksums(
    df: DataFrame,
    table: str,
    key_cols: list[str],
    n_buckets: int = 256,
    seed: int = CHECKSUM_SEED,
) -> DataFrame:
    """Per-bucket drill-down of ``table_checksum``: rows hash into
    ``n_buckets`` stable buckets by key, each bucket carrying its own
    count + checksum.

    The operational pattern: when the whole-table checksums disagree
    between source and target, join the two bucket frames and the
    mismatching buckets localize the diff to 1/n_buckets of the data —
    repeat with a finer bucket count over just those keys to bisect
    down to rows without ever sorting or collecting the table.
    Bucket id derives from the SAME portable hash as the checksum
    (pmod over the md5-prefix), so source and target agree on bucket
    membership by construction.

    One map-side-combinable agg; output is n_buckets rows max.
    """
    key_str = key_string(key_cols)
    h = md5_hash64(key_str, seed=seed)
    # r10 opt: same rewrites as table_checksum (see there) — narrow
    # input, raw-key distinct, 20-bit-limb long sums folded to
    # decimal only on the n_buckets output rows.
    mask = (1 << 20) - 1
    distinct_key = (
        F.col(key_cols[0]) if len(key_cols) == 1 else F.struct(*key_cols)
    )
    return (
        df.select(*key_cols)
        .select(
            F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
            h.alias("__h"),
            distinct_key.alias("__k"),
        )
        .groupBy("bucket")
        .agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("__k").cast("long").alias("n_keys"),
            F.sum(F.col("__h").bitwiseAND(F.lit(mask))).alias("__s0"),
            F.sum(F.shiftright("__h", 20).bitwiseAND(F.lit(mask))).alias("__s1"),
            F.sum(F.shiftright("__h", 40)).alias("__s2"),
        )
        .select(
            "table_name",
            "bucket",
            "n_rows",
            "n_keys",
            (
                (
                    F.col("__s0").cast("decimal(38,0)")
                    + F.col("__s1").cast("decimal(38,0)") * F.lit(1 << 20)
                    + F.col("__s2").cast("decimal(38,0)") * F.lit(1 << 40)
                )
                % F.lit(CHECKSUM_MOD)
            )
            .cast("long")
            .alias("key_checksum"),
        )
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Heavy-hitter pre-flight for a join/agg key: the top_k most
    frequent key values with count, share of all rows, and the ratio
    to a uniform key's expected count.

    At 100 TB this report is what decides the physical strategy
    BEFORE the expensive job runs: a top key holding 10% of rows
    means the plain shuffle join will straggle on one task (use
    ``skew.salted_agg`` / AQE skew join / broadcast instead).  One
    map-side-combinable count agg; the top-k selection is a k-bounded
    TakeOrdered, never a full sort.

    The two ratio columns are EXACT integers (share in ppm, skew
    ratio x100), computed with decimal integral division — float
    rounding at a representation boundary (1.275 -> 1.28 vs 1.27)
    differs between engines, so a report meant for cross-engine
    comparison must never emit a rounded double.  Decimal accumulators
    keep n_rows * n_keys exact past the int64 range a petabyte-scale
    corpus would overflow.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    dec = "decimal(38,0)"
    share_ppm = F.expr(
        f"CAST((CAST(n_rows AS {dec}) * 1000000) DIV __total AS BIGINT)"
    )
    skew_x100 = F.expr(
        f"CAST((CAST(n_rows AS {dec}) * __nkeys * 100) DIV __total AS BIGINT)"
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("n_rows").cast("long").alias("n_rows"),
            share_ppm.alias("row_share_ppm"),
            skew_x100.alias("skew_vs_uniform_x100"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_k)
    )
