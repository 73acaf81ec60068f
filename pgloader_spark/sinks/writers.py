"""File sinks: COPY-format text files (``psql \\copy`` bulk loads
and reject files), parquet, and JSONL corpus exports.

The PostgreSQL COPY sink is ``sources.pg_live.write_pg_copy``; a file
``LOAD`` lands through ``sources.pg_live.file_load_sink``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_copy_files(df: DataFrame, path: str, num_files: int | None = None) -> None:
    """COPY-format text files: `psql \\copy table from 'part-*'` loads
    them; also the reject-file format (reject.lisp)."""
    from pgloader_spark.sources.copytext import to_copy_lines

    lines = to_copy_lines(df)
    if num_files:
        lines = lines.repartition(num_files)
    lines.write.mode("overwrite").text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """The lake-native sink (not in the reference; the 100 TB path).
    Partition columns turn downstream filters into partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def export_shuffled(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Epoch-reproducible shuffled corpus export: one `shard=K/`
    directory per shard, rows inside each file in the deterministic
    shuffle order (`pos` ascending; the column is kept so loaders can
    verify).  Same (df, seed) -> byte-identical shard contents on any
    cluster layout; bump the seed per epoch for a fresh permutation.

    Plan shape (operators/sampling.py:shuffle_shard_plan): whole
    shards co-locate via ONE repartition on the shard column placed
    BEFORE the position window (which reuses that clustering — the
    corpus shuffles once, not twice; r7 review), rows sort within
    tasks, and partitionBy splits each task's rows into its shard
    directory — per-shard file order IS pos order, with no
    corpus-wide sort."""
    from pgloader_spark.operators.sampling import shuffle_shard_plan

    plan = shuffle_shard_plan(
        df, n_shards, seed=seed, id_col=id_col, shard_partitions=n_shards
    )
    w = (
        plan.sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """JSONL corpus export (not in the reference): the interchange
    format training pipelines consume.  ``n_shards`` repartitions to a
    fixed shard count (downstream loaders want even, bounded files);
    gzip per shard by default — JSONL compresses ~5-10x and every
    consumer streams .jsonl.gz natively."""
    out = df.repartition(n_shards) if n_shards else df
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
