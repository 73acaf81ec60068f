"""Reference dedup paths — TEST FIXTURES.

The package builds its dedup queries from narrower kernels; these are
the straightforward formulations the tests pin those kernels against:

- ``shingle_rows`` + ``minhash_signature_df``: the explode-and-groupBy
  minhash signature that ``dedup.minhash_bands``'s per-row band
  expression must reproduce byte for byte;
- ``token_jaccard_pairs``: exact token-set Jaccard pairs through the
  package's prefix-filtered PPJoin core (``_jaccard_pairs_ppjoin``),
  without the identical-set collapse of ``token_jaccard_clusters``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgloader_spark.operators.dedup import (
    MERSENNE_P,
    N_MINHASH,
    SHINGLE_K,
    _jaccard_pairs_ppjoin,
    _seeded_hash,
    base_hash40,
    hash_family,
    shingles,
)
from pgloader_spark.operators.text import tokens


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """(id, sh) — one row per k-word shingle.

    Uses the array higher-order ``shingles()`` expression + explode:
    zero shuffles, embarrassingly parallel — the per-row HOF cost is
    interpreted, but it scales linearly with cores while the
    window-lead alternative pays a shuffle + per-key sort that
    dominates at any scale (measured 2x slower at sf0.1 with equal
    parallelism). Callers must hand in a well-partitioned ``df``.

    Documents with fewer than k tokens contribute their whole token
    stream as a single shingle.
    """
    toks = tokens(text_col)
    if k == 1:
        return df.select(F.col(id_col), F.explode(toks).alias("sh"))
    return df.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("sh"))


def minhash_signature_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """(id, s0..s{n-1}) minhash signature via explode + partial agg.

    One md5 per shingle (the N seeded variants are integer
    arithmetic); map-side partial aggregation reduces everything
    before the (tiny: n_hashes longs per doc) shuffle.
    """
    ex = shingle_rows(df, id_col, text_col).select(
        F.col(id_col), base_hash40(F.col("sh")).alias("h")
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"s{i}")
        for i, (a, b) in enumerate(hash_family(n_hashes))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-set Jaccard via prefix filtering (PPJoin-style).

    A naive token self-join is quadratic in document frequency: a
    stopword shared by every document emits |corpus|^2/2 pairs.  The
    shared prefix-filtered core keeps the join EXACT while pruning it
    (see ``_prefix_candidates``).

    Tokens are hashed to 60-bit integers (the DuckDB oracle hashes
    identically): Jaccard is invariant under an injective item map,
    and 8-byte longs shuffle/compare far cheaper than strings.
    """
    toks = F.array_distinct(F.transform(tokens(text_col), _seeded_hash(0)))
    return _jaccard_pairs_ppjoin(
        df.select(F.col(id_col).alias("id"), toks.alias("items")), threshold
    )
