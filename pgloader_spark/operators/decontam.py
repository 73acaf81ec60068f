"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

Standard pretraining hygiene (GPT-3 appendix C, The Pile, FineWeb all
ship a variant): any training document containing an n-gram that also
appears in a held-out benchmark is suspect — it can leak test answers
into the model.  Production pipelines use 8–13-gram overlap; the
operator takes ``k`` as a parameter (the toy corpus' 31-token
vocabulary needs k=3 to produce a meaningful overlap signal).

Scale design (100 TB corpus, benchmark ≪ corpus):
- The eval side reduces to a DISTINCT set of 64-bit n-gram hashes —
  even a 10M-question benchmark stays well under broadcast size, so
  the membership probe is a **broadcast hash join**: the corpus is
  never shuffled to meet the eval set.
- Corpus n-grams are generated narrowly (array HOFs, no UDF) and
  deduplicated per-document BEFORE the explode, bounding the join
  input to distinct-grams-per-doc.
- The only corpus shuffle is the final per-document count, which is a
  groupBy on ``doc_id`` with map-side partial aggregation.
- Joining on ``xxhash64`` of the gram (not the string) keeps the
  broadcast table and the shuffle rows at 8 bytes per gram; a false
  positive needs a 64-bit collision against the benchmark set
  (P ≈ n_eval·n_doc_grams / 2^64 — negligible, and it only ever
  *over*-flags).

The reference (dimitri/pgloader) has no analogue; this extends the
training-data surface alongside ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgloader_spark.operators.similarity import np_round_half_away
from pgloader_spark.operators.text import ngrams_of, tokens
from pgloader_spark.session import skip_unchanged_zip_rereads


def eval_ngram_hashes(
    eval_docs: DataFrame, k: int, text_col: str = "text"
) -> DataFrame:
    """Distinct 64-bit hashes of the eval corpus' word k-grams.

    One column (``gh`` long) so the broadcast stays compact.
    """
    return (
        eval_docs.select(
            F.explode(ngrams_of(tokens(text_col), k)).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Returns (id, n_grams, n_overlap, overlap_frac, contaminated):
    distinct k-grams in the document, how many also occur in
    ``eval_docs``, their ratio, and the any-overlap flag most
    pipelines filter on.  Documents shorter than ``k`` tokens have no
    grams and are never flagged.
    """
    ev = F.broadcast(
        eval_ngram_hashes(eval_docs, k, text_col).withColumn("hit", F.lit(1))
    )
    grams = docs.select(
        F.col(id_col),
        F.array_distinct(ngrams_of(tokens(text_col), k)).alias("gs"),
    )
    flat = grams.select(
        F.col(id_col),
        F.size("gs").alias("n_grams"),
        F.explode_outer("gs").alias("g"),
    ).withColumn(
        # guard: xxhash64(NULL) would hash the seed, not miss the join
        "gh",
        F.when(F.col("g").isNotNull(), F.xxhash64("g")),
    )
    per_doc = (
        flat.join(ev, "gh", "left")
        .groupBy(id_col, "n_grams")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"))
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_grams").cast("int").alias("n_grams"),
        F.col("n_overlap").cast("int").alias("n_overlap"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_overlap") / F.col("n_grams").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
        (F.col("n_overlap") > 0).alias("contaminated"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float = 0.90,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination: drop every corpus row whose
    vector lies within cosine ``tau`` of ANY eval-set vector — the
    semantic complement of :func:`ngram_decontaminate`, catching
    paraphrased/reformatted eval contamination that token matching
    misses (the standard second pass in modern pretraining hygiene).

    Scale shape mirrors ``similarity.cosine_topk_blas``: the eval set
    is the operator's BOUNDED side (collected and broadcast as one
    E x dim float64 matrix); each Arrow batch of the corpus scores
    against it with a single gemm and emits only a boolean — corpus
    embeddings never shuffle, driver traffic is the eval set once.
    Cosines round to 6 dp before the threshold compare, so membership
    is engine- and partition-invariant.
    """
    import numpy as np

    erows = (
        eval_df.select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    if not erows:
        return corpus
    Em = np.stack([np.asarray(r[0], dtype=np.float64) for r in erows])
    e_n2 = (Em * Em).sum(axis=1)
    sc = corpus.sparkSession.sparkContext
    be = sc.broadcast((Em, e_n2))

    schema = "id long, contaminated boolean"

    def flag(batches):
        skip_unchanged_zip_rereads()
        import pandas as pd

        Em, e_n2 = be.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            n2 = (V * V).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = V @ Em.T / np.sqrt(np.outer(n2, e_n2))
            cos = np_round_half_away(cos, 6)
            hit = np.nanmax(cos, axis=1) >= tau if cos.size else np.zeros(len(ids), bool)
            yield pd.DataFrame({"id": ids, "contaminated": hit})

    from pgloader_spark.session import ensure_parallelism

    # CPU-dense Python stage over a raw scan: floor its parallelism
    # (see session.ensure_parallelism — the r8 one-partition lesson)
    flags = ensure_parallelism(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).mapInPandas(flag, schema)
    return corpus.join(
        flags.filter("contaminated").select(F.col("id").alias(id_col)),
        id_col,
        "left_anti",
    )
