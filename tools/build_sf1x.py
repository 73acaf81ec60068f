"""Build the full-table sf1x replica (10x of sf0.1) so bench.py can run
unmodified against it — the committed larger-SF scale point the r10
verdict asked for (next-round #4: "a scale point that can witness
parallelism"; every 8c/32c ratio at sf0.1 is ~1 because the corpus is
17 MB).

Construction (organic-growth rules, applied to every table):

- documents: 10 shards, shard k rotates every [a-zA-Z0-9] char by k
  (disjoint vocabularies — preserves per-shard token/shingle/df
  statistics, manufactures NO cross-shard near-duplicates) and offsets
  doc_id by k*10M.
- lineitem / orders / customer / supplier / part: 10 shards with every
  PRIMARY/FOREIGN key offset by k*10M consistently, so each shard is a
  self-contained TPC-H instance: join selectivities, group
  cardinalities and FK-orphan counts scale exactly 10x.
- nation / region: verbatim (bounded dimension tables; the small
  nationkey domain is shared by all shards, like a real multi-tenant
  load).
- events: event_id/user_id offset per shard (10x users, identical
  per-user session structure).
- embeddings: vec_id offset; each shard's vectors are the originals
  with dimensions rotated (np.roll) by k — norms and intra-shard
  geometry identical, so per-shard ANN work is exactly the original's.

Output: /tmp/pgloader_spark_sf1x (one parquet dir per table,
32 files each so scans can actually fan out).  Idempotent via _DONE.

Usage: python tools/build_sf1x.py [out_dir]
Then:  SPARK_GRAFT_SF_DIR=/tmp/pgloader_spark_sf1x python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pgloader_spark.session import get_spark, read_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
OFF = 10_000_000
N_SHARDS = 10
_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def _rot(s: str, k: int) -> str:
    k %= len(s)
    return s[k:] + s[:k]


def shift_text(col, k: int):
    """Rotate every [a-z], [A-Z] and [0-9] char of COL by K within its
    class: shard K's vocabulary is disjoint from the others."""
    if k == 0:
        return col
    return F.translate(
        col, _ALNUM, _rot(_ALNUM[:26], k) + _rot(_ALNUM[26:52], k) + _rot(_ALNUM[52:], k)
    )


def _shards(df, cols_offset, text_cols=(), roll_col=None):
    out = None
    for k in range(N_SHARDS):
        s = df
        for c in cols_offset:
            s = s.withColumn(c, F.col(c) + F.lit(k * OFF))
        for c in text_cols:
            s = s.withColumn(c, shift_text(F.col(c), k))
        if roll_col is not None and k:
            # rotate array dims by k: concat(tail_from_k, head_k)
            s = s.withColumn(
                roll_col,
                F.concat(
                    F.slice(F.col(roll_col), k + 1, F.size(roll_col) - k),
                    F.slice(F.col(roll_col), 1, k),
                ),
            )
        out = s if out is None else out.unionByName(s)
    return out


TABLES = {
    "documents": dict(cols_offset=["doc_id"], text_cols=["text"]),
    "lineitem": dict(cols_offset=["l_orderkey", "l_partkey", "l_suppkey"]),
    "orders": dict(cols_offset=["o_orderkey", "o_custkey"]),
    "customer": dict(cols_offset=["c_custkey"]),
    "supplier": dict(cols_offset=["s_suppkey"]),
    "part": dict(cols_offset=["p_partkey"]),
    "events": dict(cols_offset=["event_id", "user_id"]),
    "embeddings": dict(cols_offset=["vec_id"], roll_col="embedding"),
}
VERBATIM = ("nation", "region")


def build(spark, out_dir: str) -> None:
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, spec in TABLES.items():
        df = read_table(spark, SRC, name)
        _shards(df, **spec).repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"built {name}", flush=True)
    for name in VERBATIM:
        read_table(spark, SRC, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"copied {name}", flush=True)
    open(done, "w").close()


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pgloader_spark_sf1x"
    spark = get_spark("build_sf1x")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, out_dir)
    print(out_dir)
    spark.stop()


if __name__ == "__main__":
    main()
