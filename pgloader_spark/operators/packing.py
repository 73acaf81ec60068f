"""Sequence packing: assign documents to fixed-token-budget bins.

LLM pretraining consumes fixed-length sequences; feeding one short
document per sequence wastes the budget on padding.  Packing
concatenates documents until the next one would overflow, then opens a
new bin — the "greedy sequential" policy (ESM/T5-style; within ~5% of
optimal fill for natural document-length distributions and, unlike
first-fit-decreasing, needs no global sort).

Packing is inherently SEQUENTIAL — bin state depends on every earlier
document — so the scale design shards first and packs within shards:

- ``hash_bucket(id) % n_shards`` splits the corpus into independent
  streams; each shard packs alone, so parallelism = ``n_shards``
  (set it to O(cluster cores); only bin *count*, not fill quality,
  depends on it).
- Within a shard the order is (hash, id) — deterministic and
  engine-portable, so reruns and the DuckDB oracle (a recursive CTE)
  reproduce the exact bin assignment.
- The per-shard loop is an ``applyInPandas`` pass: one shuffle on the
  shard key, then O(rows) Python per shard on already-Arrow-batched
  columns.  This is the documented slow path, used because a running
  "close bin on overflow" fold is genuinely not expressible as a
  window function (bin boundaries depend on prior *assignment*, not
  prior rows alone).
- Oversized documents (weight > budget) get a bin of their own rather
  than being dropped — the caller decides whether to truncate.

The reference (dimitri/pgloader) batches rows by count for COPY
(src/utils/batch.lisp) — same shape of problem, driver-side there;
distributed and deterministic here.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgloader_spark.operators.sampling import hash_bucket

_OUT_SCHEMA = (
    "doc_id bigint, shard int, bin_id int, bin_offset bigint, weight bigint"
)


def pack_greedy(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    budget: int = 512,
    n_shards: int | None = None,
    seed: int = 0,
    rows_per_shard: int = 250_000,
) -> DataFrame:
    """(doc_id, shard, bin_id, bin_offset, weight) greedy-packed bins.

    ``bin_offset`` is the token position where the document starts inside
    its bin — what a sequence-builder needs to slice the concatenated
    stream back apart.

    Each shard materializes as ONE pandas frame inside a task, so shard
    size — not cluster size — is the memory bound.  When ``n_shards``
    is not given it is derived from the row count so no shard exceeds
    ``rows_per_shard`` rows (a 3-column frame of 250k rows is ~6 MB)
    while still covering the cluster's parallelism; the count() costs
    one extra narrow job.  Callers fixing ``n_shards`` explicitly (e.g.
    for a deterministic oracle) take on that bound themselves.
    """
    if n_shards is None:
        n_rows = df.count()
        n_shards = max(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-n_rows // rows_per_shard),  # ceil
            1,
        )
    keyed = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(weight_col).cast("long").alias("weight"),
        hash_bucket(id_col, seed).alias("__hb"),
    ).withColumn("shard", (F.col("__hb") % n_shards).cast("int"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__hb", "doc_id"], kind="mergesort")
        bins, offs = [], []
        bin_id, fill = 0, 0
        for w in pdf["weight"]:
            if fill > 0 and fill + w > budget:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            offs.append(fill)
            fill += w
        out = pdf[["doc_id", "shard", "weight"]].copy()
        out["bin_id"] = pd.array(bins, dtype="int32")
        out["bin_offset"] = pd.array(offs, dtype="int64")
        return out[["doc_id", "shard", "bin_id", "bin_offset", "weight"]]

    return keyed.groupBy("shard").applyInPandas(pack, _OUT_SCHEMA)
