"""Training-data pipeline queries: repetition signals, TF-IDF,
deterministic sampling, redaction/normalization.

Extends the dedup/similarity/text surface with the remaining
operations a pretraining-corpus pipeline runs at 100 TB — each as a
(Spark callable, DuckDB oracle) pair. All per-document math is pure
Column/array-HOF expressions (narrow, no Python); corpus-level steps
(document frequency, stratified ranks) budget one keyed shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgloader_spark.operators import dedup
from pgloader_spark.operators import text as txt
from pgloader_spark.operators.sampling import hash_bucket, hash_sample, stratified_take
from pgloader_spark.queries import (
    _DUCK_COS,
    _DUCK_IVF_ASSIGN,
    _DUCK_TOKENS,
    _duck_bands_select,
    _duck_jaccard_sql,
    _duck_minhash_sig_cte,
    query,
)
from pgloader_spark.session import read_table

_TOKS = _DUCK_TOKENS.format(c="text")


def _duck_ngrams(n: int) -> str:
    """DuckDB word-n-gram list over the token list (empty if < n tokens)."""
    return (
        f"CASE WHEN len(tk) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(1, len(tk) - {n} + 2), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) END"
    )


@query(
    "text_repetition",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
grams AS (
  SELECT doc_id, tk,
         {_duck_ngrams(2)} AS g2,
         {_duck_ngrams(3)} AS g3
  FROM toks)
SELECT doc_id,
  CASE WHEN len(g2) > 0
       THEN round(1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6)
       ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN len(g3) > 0
       THEN round(1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
       ELSE 0.0 END AS dup_trigram_frac,
  CASE WHEN len(g2) > 0
       THEN round(list_max(list_transform(list_distinct(g2),
                    d -> len(list_filter(g2, x -> x = d))))
                  / CAST(len(g2) AS DOUBLE), 6)
       ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN len(tk) > 0
       THEN round(-list_sum(list_transform(list_sort(list_distinct(tk)),
                    d -> (len(list_filter(tk, x -> x = d))
                          / CAST(len(tk) AS DOUBLE))
                         * ln(len(list_filter(tk, x -> x = d))
                              / CAST(len(tk) AS DOUBLE)))), 6)
       ELSE 0.0 END AS token_entropy
FROM grams
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity signals: duplicate-n-gram
    fractions, most-frequent-bigram share, token entropy — the cheap
    filters that kill templated/spam documents before expensive dedup.
    Narrow per-row array math, no shuffle."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.repetition_stats(docs)


@query(
    "text_tfidf_topk",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         round(tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.tfidf_topk(docs, k=3)


@query(
    "text_redact_normalize",
    oracle=r"""
SELECT doc_id,
       md5(trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(text),
               '[a-za-z0-9._%+-]+@[a-za-z0-9.-]+\.[a-za-z]{2,}', '<email>', 'g'),
             'https?://[^\s]+', '<url>', 'g'),
           '[0-9]{6,}', '<num>', 'g'),
         '\s+', ' ', 'g'))) AS norm_md5
FROM documents
""",
)
def text_redact_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction (emails/URLs/long digit runs -> typed tags)
    then whitespace/case normalization; emitted as an md5 so the oracle
    row stays narrow. Pure regexp_replace chain — JVM-side, narrow."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id",
        # lower FIRST (both engines), then redact, then normalize — the
        # tag text itself is case-folded by normalize_text
        F.md5(txt.normalize_text(txt.redact(F.lower(F.col("text"))))).alias(
            "norm_md5"
        ),
    )


@query(
    "sample_hash_10pct",
    oracle="""
SELECT doc_id,
       CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12))
            AS BIGINT) % 1000000 AS bucket
FROM documents
WHERE CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12))
           AS BIGINT) % 1000000 < 100000
""",
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample: membership is a pure function of
    the key, so the subset is identical across engines, reruns, and
    partitionings — and nested within any larger-fraction sample of
    the same seed (what ablation pipelines need)."""
    docs = read_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1, seed=7).select(
        "doc_id", hash_bucket("doc_id", seed=7).alias("bucket")
    )


@query(
    "export_shuffle_plan",
    oracle="""
WITH plan AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) % 8 AS INT) AS shard,
         CAST(('0x' || substr(md5('12:' || CAST(doc_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS ord
  FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
            AS BIGINT) AS pos
FROM plan
""",
)
def export_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle for training export (r7):
    (shard, pos) realize one fixed pseudo-random permutation of the
    corpus — same seed reproduces shard contents AND order on any
    cluster layout or rerun; the next epoch's seed gives an
    independent permutation.  Pure hash functions of the id (no RNG
    state, no zipWithIndex): one shuffle on shard + a per-shard
    window, n_shards scales with corpus so each numbering task stays
    file-sized (operators/sampling.py:shuffle_shard_plan)."""
    from pgloader_spark.operators.sampling import shuffle_shard_plan

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shard_plan(docs, n_shards=8, seed=11).select(
        "doc_id", "shard", "pos"
    )


@query(
    "pipeline_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v0' ELSE text END) AS h
  FROM documents WHERE doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, md5('ghost') AS h
  FROM documents WHERE doc_id % 13 = 0),
new AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h = n.h THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
""",
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version delta (r7): per-document added/removed/changed/
    unchanged between two snapshots — the audit report an incremental
    curation run publishes.  The 'previous' snapshot is planted
    deterministically (every 11th doc absent = added, every 7th
    text-perturbed = changed, ghosts beyond the id range = removed);
    content compares by md5 so wide text never crosses the full-outer
    join's shuffle (plans/corpus.py:snapshot_diff)."""
    from pgloader_spark.plans.corpus import snapshot_diff

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v0"))
        ).otherwise(F.col("text")),
    )
    ghosts = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.lit("ghost").alias("text"),
    )
    return snapshot_diff(old.unionByName(ghosts), docs)


@query(
    "sample_weighted_topk",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, n_chars AS weight,
       round(n_chars / ln((h + 1) / 281474976710657.0), 6) AS sample_key
FROM t
ORDER BY sample_key ASC, doc_id
LIMIT 100
""",
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized A-ES weighted sampling (Efraimidis-Spirakis):
    100 documents drawn with probability proportional to length, as a
    pure hash function of the id — rerun/engine/layout-reproducible,
    no RNG state; ranked on the weight-scaled reciprocal log key (see
    the operator docstring for why rounding demands that form); one
    narrow projection + a k-bounded TakeOrdered, no corpus sort
    (operators/sampling.py:weighted_hash_sample)."""
    from pgloader_spark.operators.sampling import weighted_hash_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(docs, "n_chars", k=100, seed=5)


@query(
    "sample_stratified_lang",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT) % 1000000, doc_id) AS rn
  FROM documents)
SELECT lang, doc_id FROM ranked WHERE rn <= 20
""",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-docs-per-language stratified sample (hash-order
    rank inside each stratum; one window shuffle on the stratum key)."""
    docs = read_table(spark, sf_dir, "documents")
    return stratified_take(docs, "lang", "doc_id", 20).select("lang", "doc_id")


@query(
    "stream_windowed_stats",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       round(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming tumbling-window rollup on bounded input: identical
    semantics batch vs stream (same operator powers both), which is the
    correctness argument for the streaming path — the oracle checks the
    batch side, the streaming test checks state/watermark behavior."""
    from pgloader_spark.streaming.stateful import windowed_event_stats

    ev = read_table(spark, sf_dir, "events")
    return windowed_event_stats(ev, window="1 hour")


_DCOS = (
    "round(list_dot_product({a}::DOUBLE[], {b}) / "
    "sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]) * "
    "list_dot_product({b}, {b})), 6)"
)


def _duck_lloyd_iter(n: int) -> str:
    """One unrolled Lloyd iteration: assign to cent{n-1}, emit cent{n}."""
    p = n - 1
    return f"""
sc{n} AS (
  SELECT e.vec_id, c.cid, {_DCOS.format(a="e.embedding", b="c.cvec")} AS s
  FROM embeddings e CROSS JOIN cent{p} c),
a{n} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sc{n}) WHERE rn = 1),
m{n} AS (
  SELECT a.cell, r.i,
         round(CAST(SUM(CAST(e.embedding[r.i + 1] AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*), 9) AS m
  FROM embeddings e JOIN a{n} a USING (vec_id) CROSS JOIN range(64) r(i)
  GROUP BY 1, 2),
cent{n} AS (
  SELECT c0.cid, COALESCE(mm.vec, c0.cvec) AS cvec
  FROM cent{p} c0
  LEFT JOIN (SELECT cell, list(m ORDER BY i) AS vec FROM m{n} GROUP BY cell) mm
    ON mm.cell = c0.cid)"""


@query(
    "similarity_ivf_kmeans_topk",
    oracle=f"""
WITH cent0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
{_duck_lloyd_iter(1)},
{_duck_lloyd_iter(2)},
scf AS (
  SELECT e.vec_id, c.cid, {_DCOS.format(a="e.embedding", b="c.cvec")} AS s
  FROM embeddings e CROSS JOIN cent2 c),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM scf) WHERE rn = 1),
c AS (SELECT e.vec_id AS n_id, e.embedding AS n_vec, a.cell
      FROM embeddings e JOIN asg a USING (vec_id)),
q AS (SELECT e.vec_id AS q_id, e.embedding AS q_vec, a.cell
      FROM embeddings e JOIN asg a USING (vec_id) WHERE e.vec_id % 50 = 0),
s AS (
  SELECT q_id, n_id,
         round(list_dot_product(q.q_vec::DOUBLE[], c.n_vec::DOUBLE[]) /
               sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[]) *
                    list_dot_product(c.n_vec::DOUBLE[], c.n_vec::DOUBLE[])), 6)
           AS cos_sim
  FROM c JOIN q USING (cell) WHERE n_id <> q_id),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rank FROM s)
SELECT q_id, n_id, cos_sim, rank FROM r WHERE rank <= 10
""",
)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over Lloyd-refined centroids (2 iterations, exact
    decimal means) — better-balanced cells than first-K seeding, and
    still bit-identical to the DuckDB mirror of the same training."""
    from pgloader_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    cents = similarity.ivf_centroids_kmeans(emb, n_centroids=8, n_iters=2)
    return similarity.ivf_topk(emb, queries_df, k=10, centroids=cents)


@query(
    "etl_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
           AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
""",
)
def etl_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ETL: parse a JSON props column with a TYPED
    from_json schema (not get_json_object string-plucking) and
    aggregate — the Spark-idiomatic path keeps the parse inside
    codegen and lets Catalyst prune unparsed fields at 100 TB."""
    from pyspark.sql import types as T

    ev = read_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    k = F.from_json(F.col("props"), schema)["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "embedding_quantize_int8",
    oracle="""
WITH q AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS lo,
         list_max(embedding::DOUBLE[]) AS hi
  FROM embeddings),
enc AS (
  SELECT vec_id, v, lo, hi,
         CASE WHEN hi > lo
              THEN list_transform(v, x -> CAST(round((x - lo) * 255.0 / (hi - lo), 0) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
  FROM q)
SELECT vec_id,
       round(lo, 6) AS qmin,
       round(hi, 6) AS qmax,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_sum(list_transform(range(1, len(v) + 1),
               i -> abs(v[i] - (lo + codes[i] * (hi - lo) / 255.0))))
             / len(v), 6) AS mean_abs_err
FROM enc
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (per-vector min/max
    range coding) + reconstruction error — the storage-side operator
    that makes a 100 TB embedding corpus 4x smaller before ANN.
    Pure array HOFs, narrow, no shuffle."""
    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    v = F.col("embedding").cast("array<double>")
    staged = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_min(v).alias("lo"),
        F.array_max(v).alias("hi"),
    )
    span = F.col("hi") - F.col("lo")
    codes = F.when(
        F.col("hi") > F.col("lo"),
        F.transform(
            F.col("v"),
            lambda x: F.round((x - F.col("lo")) * 255.0 / span, 0).cast("long"),
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0).cast("long")))
    enc = staged.withColumn("codes", codes)
    recon_err = (
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("codes"),
                lambda x, c: F.abs(x - (F.col("lo") + c * span / 255.0)),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / F.size("v")
    )
    return enc.select(
        "vec_id",
        F.round("lo", 6).alias("qmin"),
        F.round("hi", 6).alias("qmax"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.round(recon_err, 6).alias("mean_abs_err"),
    )


@query(
    "agg_salted_user_totals",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
)
def agg_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation: identical RESULTS to a plain
    groupBy (the oracle is the plain SQL) but the hot-key work spreads
    over 16 sub-keys in stage 1 — the straggler-proof form of a
    skewed 100 TB GROUP BY. Decimal partials keep the two-stage sum
    exact, so salting cannot perturb float ordering."""
    from pgloader_spark.operators.skew import salted_agg

    ev = read_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["user_id"],
        {
            "c": F.count(F.lit(1)),
            "s": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        {
            "n_events": F.sum("c"),
            "total_value": F.sum("s").cast("double"),
        },
        n_salts=16,
    )


@query(
    "dedup_keep_canonical",
    oracle=f"""
WITH RECURSIVE jac AS (
  SELECT id_a, id_b FROM ({_duck_jaccard_sql(k=3, threshold=0.5)}) jp),
edges AS (SELECT id_a AS u, id_b AS v FROM jac
          UNION SELECT id_b, id_a FROM jac),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS did, MIN(v) AS mn FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS component
  FROM documents d LEFT JOIN comp c ON c.did = d.doc_id)
SELECT doc_id, lang, n_chars,
       (SELECT COUNT(*) FROM labeled l2 WHERE l2.component = l1.component)
         AS cluster_size
FROM labeled l1
WHERE doc_id = component
""",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT: one canonical document per
    near-dup cluster (min doc_id wins), with the cluster size it
    represents. collapsed pairs -> components -> keep-one — what
    actually ships to training
    (dedup.shingle_jaccard_components)."""
    from pgloader_spark.operators.components import component_stats

    docs = read_table(spark, sf_dir, "documents", widen=True)
    mapping = dedup.shingle_jaccard_components(docs, threshold=0.5, k=3)
    sizes = component_stats(mapping)
    return (
        mapping.filter(F.col("id") == F.col("component"))
        .join(docs, mapping.id == docs.doc_id)
        .join(sizes, "component")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("n_members").alias("cluster_size"),
        )
    )


@query(
    "pipeline_decontam",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
evg AS (
  SELECT DISTINCT unnest({_duck_ngrams(3)}) AS g
  FROM toks WHERE doc_id % 20 = 0),
cg AS (
  SELECT doc_id, list_distinct({_duck_ngrams(3)}) AS gs
  FROM toks WHERE doc_id % 20 <> 0),
flat AS (
  SELECT doc_id, len(gs) AS n_grams,
         unnest(CASE WHEN len(gs) = 0
                     THEN [CAST(NULL AS VARCHAR)] ELSE gs END) AS g
  FROM cg),
per AS (
  SELECT f.doc_id, f.n_grams,
         SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
  FROM flat f LEFT JOIN evg e ON f.g = e.g
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(n_grams AS INT) AS n_grams,
       CAST(n_overlap AS INT) AS n_overlap,
       CASE WHEN n_grams > 0
            THEN round(n_overlap / CAST(n_grams AS DOUBLE), 6)
            ELSE 0.0 END AS overlap_frac,
       n_overlap > 0 AS contaminated
FROM per
""",
)
def pipeline_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th document plays the held-out
    eval set; the rest is the training corpus.  The eval side reduces to
    a broadcast set of 64-bit gram hashes, so the corpus is probed
    without shuffling it (operators/decontam.py; the oracle joins on the
    gram string — identical up to 64-bit collisions)."""
    from pgloader_spark.operators.decontam import ngram_decontaminate

    docs = read_table(spark, sf_dir, "documents", widen=True)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_decontaminate(corpus, ev, k=3)


@query(
    "pipeline_pack_sequences",
    oracle="""
WITH RECURSIVE base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 12))
              AS BIGINT) % 1000000 AS hb
  FROM documents),
sharded AS (
  SELECT doc_id, weight, CAST(hb % 8 AS INT) AS shard, hb,
         ROW_NUMBER() OVER (PARTITION BY hb % 8 ORDER BY hb, doc_id) AS rn
  FROM base),
packed(shard, rn, doc_id, weight, bin_id, bin_offset, fill) AS (
  SELECT shard, rn, doc_id, weight, 0, CAST(0 AS BIGINT), weight
  FROM sharded WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.weight,
         CASE WHEN p.fill > 0 AND p.fill + s.weight > 2048
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill > 0 AND p.fill + s.weight > 2048
              THEN CAST(0 AS BIGINT) ELSE p.fill END,
         CASE WHEN p.fill > 0 AND p.fill + s.weight > 2048
              THEN s.weight ELSE p.fill + s.weight END
  FROM packed p JOIN sharded s ON s.shard = p.shard AND s.rn = p.rn + 1)
SELECT doc_id, shard, CAST(bin_id AS INT) AS bin_id, bin_offset, weight
FROM packed
""",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 2048-char bins, sharded 8 ways for
    parallelism (operators/packing.py).  The oracle replays the same
    greedy fold as a recursive CTE over the identical (hash, id)
    order, so bin assignment matches row-for-row."""
    from pgloader_spark.operators.packing import pack_greedy

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_greedy(docs, "n_chars", budget=2048, n_shards=8, seed=0)


@query(
    "sample_mix_to_target",
    oracle="""
WITH fr(lang, frac) AS (
  VALUES ('en', 0.4), ('es', 0.25), ('de', 0.2), ('fr', 0.15)),
cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
j AS (SELECT c.lang, c.n, f.frac FROM cnt c JOIN fr f USING (lang)),
scale AS (SELECT MIN(CAST(floor(n / frac) AS BIGINT)) AS s FROM j),
quotas AS (
  SELECT lang, LEAST(n, CAST(floor(frac * s) AS BIGINT)) AS q
  FROM j CROSS JOIN scale),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT) % 1000000, doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.lang
FROM ranked r JOIN quotas USING (lang)
WHERE rn <= q
""",
)
def sample_mix_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixing: largest subsample matching the target
    mixture 40/25/20/15 en/es/de/fr (zh absent from the target -> quota
    0, dropped).  Quotas ride a broadcast; the data-sized work is one
    window rank per stratum (operators/sampling.py:mix_to_target)."""
    from pgloader_spark.operators.sampling import mix_to_target

    docs = read_table(spark, sf_dir, "documents")
    picked = mix_to_target(
        docs, "lang", "doc_id",
        {"en": 0.4, "es": 0.25, "de": 0.2, "fr": 0.15},
        seed=0,
    )
    return picked.select("doc_id", "lang")


@query(
    "sample_mix_temperature",
    oracle="""
WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
powed AS (SELECT lang, n, round(pow(n::DOUBLE, 0.25), 9) AS w FROM cnt),
tot AS (SELECT round(SUM(w), 9) AS tot FROM powed),
fr AS (SELECT lang, n, round(w / tot, 9) AS frac FROM powed CROSS JOIN tot),
scale AS (SELECT MIN(CAST(floor(n / frac) AS BIGINT)) AS s FROM fr),
quotas AS (
  SELECT lang, LEAST(n, CAST(floor(frac * s) AS BIGINT)) AS q
  FROM fr CROSS JOIN scale),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT) % 1000000, doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.lang
FROM ranked r JOIN quotas USING (lang)
WHERE rn <= q
""",
)
def sample_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled rebalancing (T=4): stratum share is
    n^(1/T) / sum n^(1/T) — flattens the natural language mix toward
    uniform, the standard multilingual-training move (XLM-R style).
    Shares are a stratum-sized aggregate on broadcasts; data-sized
    work is one window rank per stratum
    (operators/sampling.py:mix_with_temperature)."""
    from pgloader_spark.operators.sampling import mix_with_temperature

    docs = read_table(spark, sf_dir, "documents")
    picked = mix_with_temperature(
        docs, "lang", "doc_id", temperature=4.0, seed=0
    )
    return picked.select("doc_id", "lang")


@query(
    "text_unigram_logprob",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
model AS (
  SELECT term, round(ln(cnt / CAST(total AS DOUBLE)), 6) AS logp
  FROM vocab CROSS JOIN tot),
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(logp AS DECIMAL(18,6))) AS slp
  FROM toks JOIN model USING (term)
  GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS INT) AS n_tokens,
       CASE WHEN p.n_tokens > 0
            THEN round(CAST(p.slp AS DOUBLE) / p.n_tokens, 6)
            ELSE 0.0 END AS avg_logprob
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document — the cheap perplexity
    proxy (CCNet-style quality filter).  Vocabulary-sized model rides a
    broadcast; decimal partial sums keep the result order-independent
    (operators/text.py:unigram_logprob)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.unigram_logprob(docs)


@query(
    "text_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
s AS (SELECT doc_id, tk,
             unnest(range(1, len(tk) + 1, 48)) AS start_tok
      FROM t)
SELECT doc_id,
       CAST((start_tok - 1) / 48 AS INT) AS chunk_ix,
       CAST(start_tok AS INT) AS start_tok,
       CAST(least(64, len(tk) - start_tok + 1) AS INT) AS n_tok,
       md5(array_to_string(tk[start_tok:start_tok + 63], ' ')) AS chunk_md5
FROM s
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token windows every 48): the
    context-window prep step between cleaning and packing.  Narrow
    sequence+explode+slice — chunks at scan speed
    (operators/text.py:chunk_windows)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.chunk_windows(docs, window=64, stride=48)


@query(
    "sample_global_shuffle",
    oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) % 1000000, doc_id) AS BIGINT) AS shuffle_rank
FROM documents
""",
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-data shuffle order.  The oracle
    is the naive single-window ROW_NUMBER; the Spark side is the
    scale-correct two-phase bucket rank (hash-range buckets ->
    parallel within-bucket windows + broadcast offsets) that emits
    the IDENTICAL ranking without ever sorting the corpus in one task
    (operators/sampling.py:global_shuffle_rank)."""
    from pgloader_spark.operators.sampling import global_shuffle_rank

    docs = read_table(spark, sf_dir, "documents")
    return global_shuffle_rank(docs, "doc_id", seed=42).select(
        "doc_id", "shuffle_rank"
    )


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id,
       CAST(4 AS INT) AS width,
       CAST(4 AS INT) AS height,
       lower(repeat(lpad(hex(doc_id % 256), 2, '0'), 48)) AS pixels_hex
FROM documents
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-resize stage round trip: solid-color RGB bitmaps of
    per-doc dimensions are synthesized JVM-side (repeat/unhex), resized
    4x4 by the numpy nearest-neighbor stage (operators/multimodal.py:
    resize_bitmap), and the oracle states the exact output bytes a
    solid color must produce.  Plumbing (Arrow binary in/out, batch
    shape, error column) is fully exercised; the sampling math is
    unit-tested on checkerboards."""
    from pgloader_spark.operators.multimodal import resize_bitmap

    docs = read_table(spark, sf_dir, "documents", widen=True)
    w = (F.col("doc_id") % 8 + 2).cast("int")
    h = (F.col("n_chars") % 8 + 2).cast("int")
    color_hex = F.lpad(F.hex(F.col("doc_id") % 256), 2, "0")
    bitmap = F.unhex(F.repeat(color_hex, w * h * 3))
    src = docs.select(
        "doc_id", bitmap.alias("pixels"), w.alias("width"), h.alias("height")
    )
    return resize_bitmap(src, 4, 4).select(
        "doc_id",
        "width",
        "height",
        F.lower(F.hex("pixels")).alias("pixels_hex"),
    )


@query(
    "text_c4_clean",
    oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines
           FROM documents),
k AS (SELECT doc_id, text, lines,
             list_filter(lines, l ->
               len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(l, '{')) AS kept
      FROM t)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS cleaned_len,
       (len(kept) >= 1 AND NOT contains(lower(text), 'lorem ipsum'))
         AS keep_doc
FROM k
""",
)
def text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning: terminal-punctuation + min-words
    + code/boilerplate line filters, then a document-level keep
    decision — all narrow Column/HOF expressions
    (operators/text.py:c4_line_clean)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    # the synthetic corpus is single-line prose without sentence
    # punctuation, so the terminal-punct rule is exercised in the unit
    # test and relaxed here (min_kept_lines=1 for the same reason)
    return txt.c4_line_clean(
        docs, min_kept_lines=1, require_terminal_punct=False
    )


@query(
    "dedup_semantic",
    oracle=f"""
WITH {_DUCK_IVF_ASSIGN},
v AS (SELECT e.vec_id, e.embedding, a.cell
      FROM embeddings e JOIN asg a USING (vec_id)),
drp AS (
  SELECT DISTINCT b.vec_id
  FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({_DUCK_COS.format(a="a.embedding", b="b.embedding")}, 4) >= 0.35)
SELECT vec_id, CAST(cell AS INTEGER) AS cell
FROM v WHERE vec_id NOT IN (SELECT vec_id FROM drp)
""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cell-blocked embedding dedup, keep the
    lowest-id representative per near-duplicate neighborhood
    (operators/semdedup.py — cluster assignment is a shuffle-free
    literal-centroid map; the only wide op is the within-cell join).

    K is derived from the corpus (``suggest_n_centroids``: constant
    ~1024-vector cells, so pair work stays linear and the cell join
    keeps one task per cell).  At the oracle scales (sf0.01/0.1 the
    floor K=8 applies, which is exactly the oracle CTE's first-8
    centroid set — the 10x probe measured the fixed-K=8 alternative
    at >30 min on ONE task vs seconds with K=N/1024."""
    from pgloader_spark.operators import similarity
    from pgloader_spark.operators.semdedup import (
        semantic_dedup,
        suggest_n_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    k = suggest_n_centroids(emb.count())
    cents = similarity.ivf_centroids(emb, n_centroids=k)
    return semantic_dedup(emb, cents, tau=0.35)


@query(
    "sample_dsir_weights",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(tk, {_duck_ngrams(2)})) AS g
  FROM toks),
db AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('7:' || g), 1, 12)) AS BIGINT) % 256 AS bkt,
         COUNT(*) AS c,
         MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt
  FROM grams GROUP BY 1, 2),
dist AS (
  SELECT bkt, SUM(c) AS call, SUM(c * tgt) AS ctgt FROM db GROUP BY 1),
tot AS (SELECT SUM(call) AS tall, SUM(ctgt) AS ttgt FROM dist),
lr AS (
  SELECT bkt,
         CAST(round(ln((ctgt + 1.0) / (ttgt + 256))
                    - ln((call + 1.0) / (tall + 256)), 6)
              AS DECIMAL(18,6)) AS lrat
  FROM dist CROSS JOIN tot),
per AS (
  SELECT doc_id, CAST(SUM(c) AS INT) AS n_grams, SUM(c * lrat) AS w
  FROM db JOIN lr USING (bkt) GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS INT) AS n_grams,
       COALESCE(round(CAST(p.w AS DOUBLE), 6), 0.0) AS dsir_logw
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (log p_target - log p_raw over
    hashed uni+bigrams, target = lang='en') — the data-selection
    scorer between quality filtering and mixture sampling
    (operators/sampling.py:dsir_weights)."""
    from pgloader_spark.operators.sampling import dsir_weights

    docs = read_table(spark, sf_dir, "documents", widen=True)
    return dsir_weights(docs, is_target=F.col("lang") == "en")


@query(
    "pipeline_quality_funnel",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS} AS tk, md5(text) AS h FROM documents),
g AS (
  SELECT doc_id, lang, tk, {_duck_ngrams(2)} AS g2,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS occ
  FROM t),
f AS (
  SELECT doc_id,
         (occ = 1) AS g_dedup,
         (len(tk) BETWEEN 10 AND 2000 AND
          (CASE WHEN len(g2) > 0
                THEN round(1.0 - len(list_distinct(g2))
                           / CAST(len(g2) AS DOUBLE), 6)
                ELSE 0.0 END) < 0.5) AS g_quality,
         (lang = 'en') AS g_lang,
         (CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT) % 1000000 < 500000) AS g_sample
  FROM g)
SELECT stage, n_docs FROM (
  SELECT 1 AS ord, 'ingest' AS stage, COUNT(*) AS n_docs FROM f
  UNION ALL
  SELECT 2, 'exact_dedup', COUNT(*) FROM f WHERE g_dedup
  UNION ALL
  SELECT 3, 'quality', COUNT(*) FROM f WHERE g_dedup AND g_quality
  UNION ALL
  SELECT 4, 'lang_en', COUNT(*) FROM f WHERE g_dedup AND g_quality AND g_lang
  UNION ALL
  SELECT 5, 'sample_50pct', COUNT(*) FROM f
   WHERE g_dedup AND g_quality AND g_lang AND g_sample) s
ORDER BY ord
""",
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel in ONE corpus pass: per-doc
    gate flags (exact-dedup first-occurrence, token-count + repetition
    quality, language, deterministic hash sample) computed together,
    then a tiny conditional-count aggregate — the per-stage survivor
    report every 100 TB curation run starts from.  One window shuffle
    (the dedup hash) + one scalar agg; no per-stage rescan of the
    corpus (5 stages never means 5 jobs).
    """
    docs = read_table(spark, sf_dir, "documents", widen=True)
    from pyspark.sql.window import Window as W

    from pgloader_spark.operators.sampling import hash_bucket

    tk = txt.tokens(F.col("text"))
    staged = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text")).alias("h"),
        F.size(tk).alias("n_tok"),
        txt.dup_ngram_fraction("text", 2).alias("rep2"),
    )
    flags = staged.select(
        "doc_id",
        (F.row_number().over(W.partitionBy("h").orderBy("doc_id")) == 1).alias(
            "g_dedup"
        ),
        (F.col("n_tok").between(10, 2000) & (F.col("rep2") < 0.5)).alias(
            "g_quality"
        ),
        (F.col("lang") == "en").alias("g_lang"),
        (hash_bucket(F.col("doc_id"), seed=42) < 500_000).alias("g_sample"),
    )

    def cnt(*gates: str):
        c = F.lit(True)
        for gname in gates:
            c = c & F.col(gname)
        return F.sum(F.when(c, 1).otherwise(0))

    agg = flags.agg(
        cnt().alias("ingest"),
        cnt("g_dedup").alias("exact_dedup"),
        cnt("g_dedup", "g_quality").alias("quality"),
        cnt("g_dedup", "g_quality", "g_lang").alias("lang_en"),
        cnt("g_dedup", "g_quality", "g_lang", "g_sample").alias("sample_50pct"),
    )
    stages = ["ingest", "exact_dedup", "quality", "lang_en", "sample_50pct"]
    unpivoted = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("ord"),
                        F.lit(s).alias("stage"),
                        F.col(s).alias("n_docs"),
                    )
                    for i, s in enumerate(stages)
                ]
            )
        ).alias("r")
    )
    return (
        unpivoted.select("r.ord", "r.stage", "r.n_docs")
        .orderBy("ord")
        .select("stage", "n_docs")
    )


# --- sketches: constant-memory answers at corpus scale ---------------------


from pgloader_spark.operators.sketches import duck_hll_sql as _duck_hll_sql


@query(
    "sketch_hll_distinct",
    oracle=(
        "SELECT grp AS event_type, est_distinct FROM (\n"
        + _duck_hll_sql("CAST(user_id AS VARCHAR)", "event_type", "events")
        + "\n) ORDER BY event_type"
    ),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type — the
    fixed-memory COUNT DISTINCT (4096 integer registers per group, two
    map-side-combined aggregations; no per-key shuffle).  The DuckDB
    oracle computes the IDENTICAL estimate via the shared md5 hash, so
    the gate checks the sketch math exactly; the error bound vs the
    exact count is asserted in tests/test_sketches.py.
    """
    from pgloader_spark.operators.sketches import hll_distinct

    ev = read_table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", ["event_type"]).orderBy("event_type")


@query(
    "sketch_cms_tokens",
    oracle=f"""
WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
items AS (SELECT unnest(tk) AS item FROM toks),
counters AS (
  SELECT seed, bucket, COUNT(*) AS c FROM (
    SELECT s.seed,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || item),
                 1, 15)) AS BIGINT) % 8192 AS bucket
    FROM items, (SELECT unnest([101, 102, 103, 104]) AS seed) s)
  GROUP BY seed, bucket),
exact AS (SELECT item, COUNT(*) AS n_exact FROM items GROUP BY item),
cand AS (SELECT item, n_exact FROM exact
         ORDER BY n_exact DESC, item LIMIT 20),
probes AS (
  SELECT c2.item, s.seed,
         CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || c2.item),
               1, 15)) AS BIGINT) % 8192 AS bucket
  FROM cand c2, (SELECT unnest([101, 102, 103, 104]) AS seed) s),
est AS (
  SELECT p.item, MIN(ct.c) AS est_count
  FROM probes p JOIN counters ct USING (seed, bucket)
  GROUP BY p.item)
SELECT cand.item AS token, cand.n_exact, est.est_count
FROM cand JOIN est ON cand.item = est.item
ORDER BY token
""",
)
def sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency estimates for the corpus's top tokens.

    The 4x8192 counter table is a constant-size aggregate of the full
    token stream (map-side combined — the shuffle carries counter
    partials, never tokens); estimates broadcast-join against it.
    est >= exact always (collisions only add); the candidate list here
    is the exact top-20 for oracle determinism — at 100 TB candidates
    come from a sample, the sketch itself never changes size.
    """
    from pgloader_spark.operators import text as _txt
    from pgloader_spark.operators.sketches import cms_counters, cms_estimate

    docs = read_table(spark, sf_dir, "documents")
    items = docs.select(F.explode(_txt.tokens("text")).alias("item"))
    counters = cms_counters(items)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
    cand = exact.orderBy(F.desc("n_exact"), F.asc("item")).limit(20)
    est = cms_estimate(counters, cand.select("item"))
    return (
        cand.join(est, "item")
        .select(F.col("item").alias("token"), "n_exact", "est_count")
        .orderBy("token")
    )


@query(
    "sketch_quantile_thresholds",
    oracle="""
WITH base AS (SELECT CAST(length(text) AS DOUBLE) AS x FROM documents),
stats AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n FROM base),
binned AS (
  SELECT CASE WHEN hi > lo
              THEN least(CAST(floor((x - lo) / (hi - lo) * 1024) AS INT), 1023)
              ELSE 0 END AS bin, lo, hi, n
  FROM base, stats),
hist AS (SELECT bin, lo, hi, n, COUNT(*) AS cnt
         FROM binned GROUP BY bin, lo, hi, n),
cum AS (SELECT *, SUM(cnt) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
probs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
picked AS (SELECT p, lo, hi, MIN(bin) AS bin
           FROM cum, probs
           WHERE CAST(cum AS DOUBLE) >= p * n
           GROUP BY p, lo, hi)
SELECT p, round(lo + (bin + 1) * (hi - lo) / 1024, 6) AS threshold
FROM picked ORDER BY p
""",
)
def sketch_quantile_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile thresholds over document length (p50/p90/p99)
    — the one-pass, no-global-sort way to pick 'drop the bottom decile'
    cutoffs at corpus scale.  The histogram is a constant 1024-bin
    aggregate; only those bins ride the final (single-partition,
    constant-size) cumulative window.
    """
    from pgloader_spark.operators.sketches import histogram_quantiles

    docs = read_table(spark, sf_dir, "documents")
    return histogram_quantiles(docs, F.length("text"), [0.5, 0.9, 0.99])


# --- round-3 additions: incremental dedup, cross-source overlap, ----------
# --- cluster-balanced diversity sampling ----------------------------------


@query(
    "dedup_incremental",
    oracle=f"""
WITH {_duck_minhash_sig_cte()},
bands AS ({_duck_bands_select()}),
newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
exd AS (SELECT DISTINCT n.doc_id FROM newd n JOIN oldh o ON md5(n.text) = o.h),
nb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
ob AS (SELECT DISTINCT band_ix, bucket FROM bands WHERE doc_id % 2 = 0),
neard AS (SELECT DISTINCT nb.doc_id FROM nb JOIN ob USING (band_ix, bucket))
SELECT n.doc_id,
       (e.doc_id IS NOT NULL) AS exact_dup,
       (r.doc_id IS NOT NULL) AS near_dup,
       (e.doc_id IS NOT NULL OR r.doc_id IS NOT NULL) AS dup_any
FROM newd n
LEFT JOIN exd e ON n.doc_id = e.doc_id
LEFT JOIN neard r ON n.doc_id = r.doc_id
""",
)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-frozen-corpus dedup (odd doc_ids are 'today's
    crawl', even are the existing snapshot): exact content-digest
    semi-join + MinHash band-bucket probe against the old side's
    bucket index (operators/dedup.py:incremental_dedup).  The recurring
    ingest shape: incremental cost is the new batch's signatures plus
    one band-keyed join, independent of corpus size."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.incremental_dedup(old, new)


@query(
    "dedup_source_overlap",
    oracle=f"""
WITH {_duck_minhash_sig_cte()},
bands AS ({_duck_bands_select()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_ix = b.band_ix AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       COUNT(*) AS n_dup_pairs
FROM pairs p
JOIN documents sa ON p.id_a = sa.doc_id
JOIN documents sb ON p.id_b = sb.doc_id
GROUP BY 1, 2
""",
)
def dedup_source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix — which sources share
    content (two crawl snapshots, a dataset and its re-release) and so
    should not both carry full mixture weight
    (operators/dedup.py:source_overlap_matrix).  LSH candidate pairs
    (never all-pairs) + two narrow (id, source) joins."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return dedup.source_overlap_matrix(docs)


@query(
    "sample_cluster_balanced",
    oracle=f"""
WITH {_DUCK_IVF_ASSIGN},
rk AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (
           PARTITION BY cell
           ORDER BY md5('11:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM asg)
SELECT vec_id, CAST(cell AS INTEGER) AS cell, CAST(rn AS INTEGER) AS rk
FROM rk WHERE rn <= 16
""",
)
def sample_cluster_balanced_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: 16 vectors per IVF cell,
    chosen in deterministic hash order (operators/sampling.py:
    cluster_balanced_sample).  Uniform sampling over-represents dense
    embedding regions; per-cluster quotas keep the tail.  Narrow
    centroid-literal assignment + one per-cell window shuffle."""
    from pgloader_spark.operators import similarity
    from pgloader_spark.operators.sampling import cluster_balanced_sample

    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    return cluster_balanced_sample(emb, cents, per_cell=16)


# --- time-series / CDC surface: hypertable rollup, SCD2, gap-fill ---------


@query(
    "events_hypertable_rollup",
    oracle="""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       CAST(grouping(date_trunc('hour', ts)) AS INTEGER) AS g_hour,
       COUNT(*) AS n_events,
       round(SUM(value), 6) AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (event_type, date_trunc('day', ts), date_trunc('hour', ts)),
  (event_type, date_trunc('day', ts)))
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly buckets per event
    type PLUS their daily rollup in ONE grouping-sets pass — the
    two-level time_bucket materialization TimescaleDB keeps per
    hypertable, as a single Spark aggregation (one shuffle, map-side
    partial aggregation at both granularities; no second pass over the
    raw events for the coarser level)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    )
    return (
        ev.groupingSets(
            [["event_type", "day", "hour"], ["event_type", "day"]],
            "event_type",
            "day",
            "hour",
        )
        .agg(
            F.grouping("hour").cast("int").alias("g_hour"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("event_type", "day", "hour", "g_hour", "n_events", "sum_value")
    )


@query(
    "etl_scd2_intervals",
    oracle="""
SELECT user_id, event_id,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC collapse to SCD2 validity intervals: each user's change
    stream becomes versioned rows with [valid_from, valid_to) ranges
    and an is_current flag — the slowly-changing-dimension build every
    warehouse load runs after a pgloader-style migration.  One window
    shuffle on the entity key; AQE skew handling covers hot entities."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "events_gapfill_hourly",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, h.hour FROM types t CROSS JOIN hours h),
agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         COUNT(*) AS n, round(SUM(value), 6) AS sv
  FROM events GROUP BY 1, 2)
SELECT g.event_type, g.hour,
       COALESCE(a.n, 0) AS n_events,
       COALESCE(a.sv, 0.0) AS sum_value,
       (a.n IS NULL) AS gap_filled
FROM grid g LEFT JOIN agg a
  ON g.event_type = a.event_type AND g.hour = a.hour
""",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with explicit zero rows for
    silent hours — the gap-fill every monitoring/metrics rollup needs
    (a missing hour must chart as 0, not as absent).  The hour spine is
    sequence() over the corpus min/max (a 1-row aggregate that rides a
    broadcast; the spine explode is bounded by hours x types, never by
    event count); the only data-sized shuffle is the hourly
    aggregation itself."""
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sv"))
    return grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
        F.col("n").isNull().alias("gap_filled"),
    )


# --- data layout: z-order clustering keys ---------------------------------

_ZBITS = 10


def _duck_quant(col: str, lo: str, hi: str) -> str:
    cells = (1 << _ZBITS) - 1
    return (
        f"CAST(floor(least(greatest(CASE WHEN {hi} > {lo} "
        f"THEN ({col} - {lo}) / CAST({hi} - {lo} AS DOUBLE) ELSE 0.0 END,"
        f" 0.0), 1.0) * {cells}) AS BIGINT)"
    )


def _duck_interleave(a: str, b: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({a} >> {i}) % 2) << {2 * i})")
        terms.append(f"((({b} >> {i}) % 2) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "layout_zorder_keys",
    oracle=f"""
WITH b AS (
  SELECT MIN(user_id) AS alo, MAX(user_id) AS ahi,
         MIN(value) AS blo, MAX(value) AS bhi
  FROM events),
q AS (
  SELECT event_id,
         {_duck_quant("user_id", "alo", "ahi")} AS qa,
         {_duck_quant("value", "blo", "bhi")} AS qb
  FROM events CROSS JOIN b)
SELECT event_id, ({_duck_interleave("qa", "qb")}) AS z,
       (({_duck_interleave("qa", "qb")}) >> 12) AS z_bucket
FROM q
""",
)
def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (user_id, value) — the
    multi-dimensional layout key behind Delta/Iceberg OPTIMIZE ZORDER:
    rows close in BOTH dimensions share a z prefix, so a range-
    partitioned write by z gives parquet footer stats that prune scans
    on either column (operators/layout.py).  Bounds are a 1-row
    broadcast aggregate; the interleave is a constant-folded
    shift/mask chain, fully narrow."""
    from pgloader_spark.operators.layout import zorder_keys

    ev = read_table(spark, sf_dir, "events")
    return zorder_keys(ev, "user_id", "value", bits=_ZBITS).select(
        "event_id",
        "z",
        F.shiftright(F.col("z"), 12).cast("long").alias("z_bucket"),
    )


@query(
    "sketch_hll_merge",
    oracle=(
        "SELECT source, est_distinct FROM (\n"
        "SELECT grp AS source, est_distinct FROM (\n"
        + _duck_hll_sql("CAST(doc_id % 97 AS VARCHAR)", "source", "documents")
        + ")\nUNION ALL\nSELECT 'ALL', est_distinct FROM (\n"
        + _duck_hll_sql("CAST(doc_id % 97 AS VARCHAR)", "'ALL'", "documents")
        + ")\n)"
    ),
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY witness: per-source HLL estimates plus an
    'ALL' row whose registers are max-merged from the per-source
    register tables, never re-touching the raw keys.  The oracle
    computes the ALL row directly over the union — register max being
    associative, both paths are bit-identical, which is exactly the
    property that lets per-executor/per-day sketch state roll up at
    100 TB (operators/sketches.py:hll_merged_rollup)."""
    from pgloader_spark.operators.sketches import hll_merged_rollup

    docs = read_table(spark, sf_dir, "documents").select(
        "source", (F.col("doc_id") % 97).cast("string").alias("k")
    )
    return hll_merged_rollup(docs, "k", "source")


# shared CTE chain: per-document bigram-model stats (used by the
# logprob query and the CCNet-style bucket query — identical text so
# both oracles score identically)
_DUCK_BIGRAM_PER = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
big AS (
  SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)),
c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
c1 AS (SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT cur) AS v FROM c2),
model AS (SELECT prev, cur, c2 FROM c2 WHERE c2 >= 2),
scored AS (
  SELECT b.doc_id,
         round(ln((COALESCE(m.c2, 0) + 0.5) / (c1.c1 + 0.5 * v.v)), 6) AS logp
  FROM big b
  LEFT JOIN model m USING (prev, cur)
  JOIN c1 USING (prev)
  CROSS JOIN v),
per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(logp AS DECIMAL(18,6))) AS slp
  FROM scored GROUP BY 1)
"""


@query(
    "text_bigram_logprob",
    oracle=f"""{_DUCK_BIGRAM_PER}
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS INT) AS n_bigrams,
       CASE WHEN p.n_bigrams > 0
            THEN round(CAST(p.slp AS DOUBLE) / p.n_bigrams, 6)
            ELSE 0.0 END AS avg_bigram_logprob
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k bigram-model mean log-prob per document — the perplexity
    filter one rung above the unigram proxy: transition rarity catches
    shuffled/boilerplate text whose unigrams look fluent.  Model build
    is one bigram-keyed groupBy; scoring co-locates on the same key;
    the context table rides a broadcast
    (operators/text.py:bigram_logprob)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.bigram_logprob(docs)


@query(
    "sample_ccnet_buckets",
    oracle=f"""{_DUCK_BIGRAM_PER},
lp AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN p.n_bigrams > 0
              THEN round(CAST(p.slp AS DOUBLE) / p.n_bigrams, 6)
              ELSE 0.0 END AS avg_lp
  FROM documents d LEFT JOIN per p USING (doc_id)),
t AS (
  SELECT doc_id, lang, avg_lp,
         CAST(NTILE(3) OVER (PARTITION BY lang
                             ORDER BY avg_lp DESC, doc_id) AS INTEGER) AS tercile
  FROM lp)
SELECT doc_id, lang, avg_lp,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM t
""",
)
def sample_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per LANGUAGE, documents rank
    by bigram-model mean log-prob and split into head / middle / tail
    terciles — the classic curation move (keep head+middle, drop or
    re-sample tail).  One model build + one window per language
    partition; the rank never leaves its language's partition, and
    ties break on doc_id so the split is deterministic across engines
    (operators/text.py:bigram_logprob + ntile)."""
    from pyspark.sql.window import Window as W

    docs = read_table(spark, sf_dir, "documents", widen=True)
    lp = (
        txt.bigram_logprob(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("n_bigrams") > 0, F.col("avg_bigram_logprob"))
            .otherwise(F.lit(0.0))
            .alias("avg_lp"),
        )
    )
    w = W.partitionBy("lang").orderBy(F.desc("avg_lp"), F.asc("doc_id"))
    tercile = F.ntile(3).over(w)
    return lp.select(
        "doc_id",
        "lang",
        "avg_lp",
        F.when(tercile == 1, "head")
        .when(tercile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(
    "text_classifier_score",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('h0:' || term), 1, 12)) AS BIGINT) % 4096 AS j
  FROM toks),
w AS (
  SELECT doc_id,
         round((CAST(('0x' || substr(md5('w0:' || CAST(j AS VARCHAR)), 1, 12))
                     AS BIGINT) % 2001 - 1000) / 1000.0, 6) AS wj
  FROM b),
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(wj AS DECIMAL(28,6))) AS sw
  FROM w GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS INT) AS n_tokens,
       round(1.0 / (1.0 + exp(-(CASE WHEN p.n_tokens > 0
                                     THEN CAST(p.sw AS DOUBLE) / p.n_tokens
                                     ELSE 0.0 END))), 6) AS score
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference: token ->
    4096-bucket hash -> weight lookup -> sigmoid(mean).  One narrow
    Column expression, zero shuffles — a 100 TB corpus classifies at
    scan speed (operators/text.py:hashed_linear_score)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.hashed_linear_score(docs)


@query(
    "pipeline_decontam_semantic",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ev AS (SELECT v FROM q WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, v FROM q WHERE vec_id % 50 <> 0),
hits AS (
  SELECT DISTINCT c.vec_id
  FROM c JOIN ev ON {_DUCK_COS.format(a="c.v", b="ev.v")} >= 0.55)
SELECT c.vec_id FROM c
WHERE c.vec_id NOT IN (SELECT vec_id FROM hits)
ORDER BY c.vec_id
""",
)
def pipeline_decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: corpus vectors within cosine
    tau of ANY held-out eval vector are dropped — catches paraphrased
    eval contamination n-gram matching misses.  Eval side broadcasts
    as one matrix, each corpus Arrow batch scores with a single gemm
    and emits a boolean; corpus embeddings never shuffle
    (operators/decontam.py:semantic_decontaminate)."""
    from pgloader_spark.operators.decontam import semantic_decontaminate

    emb = read_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return (
        semantic_decontaminate(corpus, ev, tau=0.55)
        .select("vec_id")
        .orderBy("vec_id")
    )


@query("text_classifier_train")  # iterative GD: no SQL oracle (driver
# records the rows-only check); correctness is pinned by
# test_lm_ops.py's python-model, held-out, and partition-invariance
# tests instead
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the hashed linear classifier on-cluster (full-batch
    logistic GD; labels: is-the-document-English from the langid
    gate), returning the learned model as (bucket, weight) rows plus
    the bias at bucket -1.  Each epoch is two model-sized-output
    aggregations; only dim floats ever reach the driver
    (operators/text.py:train_hashed_classifier)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    labeled = docs.withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    w, b = txt.train_hashed_classifier(
        labeled, "label", dim=256, epochs=3, lr=2.0, seed=1
    )
    rows = [(-1, float(b))] + [(j, float(wj)) for j, wj in enumerate(w)]
    return spark.createDataFrame(rows, "bucket int, weight double").orderBy(
        "bucket"
    )


@query(
    "sample_leakage_split",
    oracle=f"""
WITH RECURSIVE jac AS (
  SELECT id_a, id_b FROM ({_duck_jaccard_sql(k=3, threshold=0.5)}) jp),
edges AS (SELECT id_a AS u, id_b AS v FROM jac
          UNION SELECT id_b, id_a FROM jac),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS did, MIN(v) AS mn FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id,
         CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.did = d.doc_id)
SELECT doc_id, cluster_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             CAST(('0x' || substr(md5('0:' || CAST(cluster_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS b
      FROM labeled) t
""",
)
def sample_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup clusters
    (identical-set-collapsed PPJoin -> connected components) hash
    into a split as a UNIT, so a document and its 95%-identical twin
    can never straddle the train/eval fence
    (operators/sampling.py:leakage_safe_split, clusters= mode)."""
    from pgloader_spark.operators.sampling import leakage_safe_split

    docs = read_table(spark, sf_dir, "documents", widen=True)
    clusters = dedup.shingle_jaccard_components(docs, threshold=0.5, k=3)
    return leakage_safe_split(docs, clusters=clusters)


@query(
    "sample_leakage_split_bands",
    oracle=f"""
WITH RECURSIVE {_duck_minhash_sig_cte()},
bands AS ({_duck_bands_select()}),
jp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bands a JOIN bands b
         ON a.band_ix = b.band_ix AND a.bucket = b.bucket
        AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS u, id_b AS v FROM jp
          UNION SELECT id_b, id_a FROM jp),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS did, MIN(v) AS mn FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id,
         CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.did = d.doc_id)
SELECT doc_id, cluster_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             CAST(('0x' || substr(md5('0:' || CAST(cluster_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS b
      FROM labeled) t
""",
)
def sample_leakage_split_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE leakage-safe split — the 100 TB fast path: clusters
    come straight from MinHash band co-membership (star edges per
    bucket, operators/dedup.py:band_link_edges) with no exact-Jaccard
    verification, so the whole split costs two band-keyed exchanges
    plus CC instead of the full PPJoin.  Over-grouping from LSH false
    positives is safe for a leakage fence (it only moves whole groups
    to one side); the exact variant remains sample_leakage_split."""
    from pgloader_spark.operators.sampling import leakage_safe_split

    docs = read_table(spark, sf_dir, "documents", widen=True)
    return leakage_safe_split(docs, dedup.band_link_edges(docs))


@query(
    "embedding_dim_stats",
    oracle="""
WITH ex AS (
  SELECT d, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM (SELECT embedding, unnest(range(len(embedding))) AS d FROM embeddings)),
agg AS (
  SELECT d AS dim, COUNT(*) AS n,
         SUM(CASE WHEN isnan(x) THEN 1 ELSE 0 END) AS n_nan,
         COUNT(CASE WHEN NOT isnan(x) THEN 1 END) AS n_ok,
         SUM(CASE WHEN NOT isnan(x)
                  THEN CAST(x AS DECIMAL(38,12)) END) AS s,
         SUM(CASE WHEN NOT isnan(x)
                  THEN CAST(x * x AS DECIMAL(38,12)) END) AS s2,
         MIN(CASE WHEN NOT isnan(x) THEN x END) AS mn,
         MAX(CASE WHEN NOT isnan(x) THEN x END) AS mx
  FROM ex GROUP BY 1)
SELECT CAST(dim AS INT) AS dim,
       CAST(n AS BIGINT) AS n,
       CAST(n_nan AS BIGINT) AS n_nan,
       CASE WHEN n_ok > 0
            THEN round(CAST(s AS DOUBLE) / n_ok, 6) ELSE 0.0 END AS mean,
       CASE WHEN n_ok > 0
            THEN round(sqrt(greatest(
                   CAST(s2 AS DOUBLE) / n_ok
                   - (CAST(s AS DOUBLE) / n_ok) * (CAST(s AS DOUBLE) / n_ok),
                   0.0)), 6)
            ELSE 0.0 END AS std,
       round(mn, 6) AS min_x,
       round(mx, 6) AS max_x
FROM agg
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution audit (collapsed dims, NaN
    poisoning, mean drift) — the QA gate before any ANN/semantic
    stage.  Narrow posexplode; the only shuffle carries ``dim``
    distinct keys with map-side partials
    (operators/similarity.py:embedding_dim_stats)."""
    from pgloader_spark.operators.similarity import embedding_dim_stats as dim_stats

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    return dim_stats(emb)


@query(
    "embedding_health",
    oracle="""
WITH per AS (
  SELECT len(embedding) AS d,
         list_sum(list_transform(embedding,
                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq,
         CASE WHEN len(list_filter(embedding,
                                   x -> isnan(CAST(x AS DOUBLE)))) > 0
              THEN 1 ELSE 0 END AS hn
  FROM embeddings)
SELECT COUNT(*) AS n_vecs,
       CAST(COUNT(DISTINCT d) AS INT) AS n_dims_distinct,
       CAST(MAX(d) AS INT) AS max_dim,
       CAST(SUM(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       CAST(SUM(hn) AS BIGINT) AS n_with_nan
FROM per
""",
)
def embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus embedding health summary: vector count, distinct
    dimensionalities (must be 1), zero-norm vectors, NaN carriers.
    Five counters per partition are all that leave the scan
    (operators/similarity.py:embedding_health)."""
    from pgloader_spark.operators.similarity import embedding_health as health

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    return health(emb)


@query(
    "dedup_span_remove",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) < 20
              THEN [struct_pack(p := 1, s := array_to_string(tk, ' '))]
              ELSE [struct_pack(p := i, s := array_to_string(tk[i:i+19], ' '))
                    for i in range(1, len(tk) - 18)] END AS wins
  FROM toks),
occ AS (
  SELECT doc_id, w.p AS p,
         CAST(('0x' || substr(md5('7:' || w.s), 1, 15)) AS BIGINT) AS h,
         doc_id * 1048576 + w.p AS pk
  FROM (SELECT doc_id, unnest(wins) AS w FROM sh)),
agg AS (SELECT h, COUNT(*) AS cnt, MIN(pk) AS canon FROM occ GROUP BY h),
pos AS (
  SELECT o.doc_id, unnest(range(o.p, least(o.p + 20, len(t.tk) + 1))) AS i
  FROM occ o JOIN agg USING (h) JOIN toks t USING (doc_id)
  WHERE cnt >= 2 AND pk != canon),
rem AS (SELECT doc_id, list_sort(list(DISTINCT i)) AS rs FROM pos GROUP BY doc_id)
SELECT t.doc_id AS id,
       CAST(len(t.tk) AS INT) AS n_tokens,
       CAST(COALESCE(len(r.rs), 0) AS INT) AS n_removed,
       md5(COALESCE(array_to_string(
         list_filter(
           list_transform(range(1, len(t.tk) + 1),
                          j -> CASE WHEN list_contains(COALESCE(r.rs, []), j)
                               THEN NULL ELSE t.tk[j] END),
           x -> x IS NOT NULL), ' '), '')) AS clean_md5
FROM toks t LEFT JOIN rem r USING (doc_id)
""",
)
def dedup_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL: every token covered
    by a corpus-duplicated 20-token window is dropped except in the
    span's canonical (lowest doc,pos) occurrence — the rewrite stage
    of Lee et al. 2022 dedup, not just the measurement
    (operators/dedup.py:dup_span_remove)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return dedup.dup_span_remove(docs, w=20)


_BM25_QUERIES = [
    (1, "spark window agg"),
    (2, "hash join table"),
    (3, "stream batch filter sort"),
    (4, "customer query vector"),
]

_BM25_Q_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _BM25_QUERIES)


@query(
    "text_bm25_topk",
    oracle=f"""
WITH q(query_id, query_text) AS (VALUES {_BM25_Q_VALUES}),
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
qt AS (
  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
         unnest(list_filter(regexp_split_to_array(lower(query_text),
                                                  '[^a-z0-9]+'),
                            t -> t <> '')) AS term
  FROM q),
qdf AS (
  SELECT term, COUNT(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * CAST(dl AS DOUBLE) / avgdl))),
               6) AS score
  FROM qt
  JOIN tf USING (term)
  JOIN qdf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval over the corpus: top-5 documents
    for a fixed 4-query batch. The lexical complement to the embedding
    ANN surface — posting-list pruning means only documents sharing a
    query term are ever scored (operators/text.py:bm25_topk)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id long, query_text string")
    return txt.bm25_topk(docs, qdf, k=5)


@query("text_bpe_merges")  # iterative (argmax per round): no SQL oracle —
# the driver records the rows-only check; correctness is pinned by
# test_pipeline_ops.py's exact match against a textbook in-memory BPE
# on randomized corpora, plus partition-invariance
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE tokenizer: the corpus collapses to the bounded
    word-frequency table in ONE map-side-combinable shuffle, then the
    classic incremental-pair-count merge loop runs in driver memory —
    one Spark job total regardless of merge count
    (operators/text.py:bpe_learn / bpe_train_from_freqs)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    merges = txt.bpe_learn(docs, n_merges=24)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    ).orderBy("merge_rank")


@query("text_bpe_tokenize")  # depends on the learned (data-dependent)
# merge table, so no static SQL oracle — rows-only driver check;
# value-correctness is pinned by test_pipeline_ops.py's exact match
# against the textbook segmenter
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 16 BPE merges, then SEGMENT the corpus with them:
    per-document token/subword counts and compression ratio. The
    per-word fold runs once per distinct word, never per occurrence
    (operators/text.py:bpe_segment_counts)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    merges = txt.bpe_learn(docs, n_merges=16)
    return txt.bpe_segment_counts(docs, merges).orderBy("doc_id")


def _duck_bpe_frozen_sql() -> str:
    """DuckDB oracle for segmentation with the FROZEN merge list.

    ``bpe_segment_counts`` applies each merge rank as one greedy
    left-to-right pass over the word's symbol array.  With symbols
    rendered as a \\x1f-delimited string — single-\\x1f guards at the
    ends, double-\\x1f between symbols — that pass is EXACTLY one
    non-overlapping ``replace('<s>L<s><s>R<s>' -> '<s>LR<s>')``: the
    match consumes one separator from each double boundary, leaving
    the other to guard the next match (so 'a a a a' merges twice,
    like the fold), and full delimiting means a rule can never match
    a symbol's substring.  Tokens are [a-z0-9]+ so \\x1f never
    collides.  Segment count = split on the double separator.
    """
    from pgloader_spark.frozen_models import BPE_MERGES

    s1, s2 = chr(31), chr(31) * 2
    expr = "s"
    for _rank, left, right, merged, _pc in BPE_MERGES:
        expr = (
            f"replace({expr}, '{s1}{left}{s2}{right}{s1}', "
            f"'{s1}{merged}{s1}')"
        )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
seg0 AS (
  SELECT word,
         '{s1}' || array_to_string(
             list_transform(range(1, length(word) + 1),
                 i -> CASE WHEN i = length(word)
                      THEN substr(word, i, 1) || '</w>'
                      ELSE substr(word, i, 1) END),
             '{s2}') || '{s1}' AS s
  FROM (SELECT DISTINCT word FROM tok)),
ws AS (
  SELECT word, CAST(len(str_split({expr}, '{s2}')) AS BIGINT) AS n_sub
  FROM seg0),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(n_sub) AS BIGINT) AS n_subwords
  FROM tok JOIN ws USING (word) GROUP BY doc_id)
SELECT doc_id, n_tokens, n_subwords,
       round(n_subwords / CAST(n_tokens AS DOUBLE), 6) AS subwords_per_token
FROM agg ORDER BY doc_id
"""


@query("text_bpe_frozen_segment", oracle=_duck_bpe_frozen_sql())
def text_bpe_frozen_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT the corpus with the committed frozen merge list
    (frozen_models.BPE_MERGES, trained once by the production trainer
    — the deployment shape: a tokenizer is trained once and applied
    to every corpus thereafter).  Same distributed kernel as
    text_bpe_tokenize (operators/text.py:bpe_segment_counts: the
    per-rank fold runs on the DISTINCT-WORD table, one word-keyed
    join carries counts back), but with the merges fixed the whole
    computation is deterministic and the DuckDB oracle replicates it
    with nested replace() — this is the hash-green gate row for the
    BPE family (r8 verdict ask #1)."""
    from pgloader_spark.frozen_models import BPE_MERGES

    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.bpe_segment_counts(docs, BPE_MERGES).orderBy("doc_id")


@query(
    "text_passage_bm25",
    oracle=f"""
WITH q(query_id, query_text) AS (VALUES {_BM25_Q_VALUES}),
t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
p AS (
  SELECT doc_id * 1024 + CAST((start_tok - 1) / 32 AS BIGINT) AS pid,
         tk[start_tok:start_tok + 31] AS ptk
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 32)) AS start_tok
        FROM t)),
toks AS (SELECT pid, unnest(ptk) AS term FROM p),
tf AS (SELECT pid, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT pid, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
qt AS (
  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
         unnest(list_filter(regexp_split_to_array(lower(query_text),
                                                  '[^a-z0-9]+'),
                            t -> t <> '')) AS term
  FROM q),
qdf AS (
  SELECT term, COUNT(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
scored AS (
  SELECT qt.query_id, tf.pid,
         round(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * CAST(dl AS DOUBLE) / avgdl))),
               6) AS score
  FROM qt
  JOIN tf USING (term)
  JOIN qdf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, pid, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, pid) AS rnk
  FROM scored)
SELECT query_id,
       CAST(pid // 1024 AS BIGINT) AS doc_id,
       CAST(pid % 1024 AS INT) AS chunk_ix,
       score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def text_passage_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-shaped passage retrieval: chunk every document into
    non-overlapping 32-token passages, BM25-rank passages against the
    query batch, return the top-3 passages per query with (doc,
    chunk) attribution.  Chunking is narrow (sequence+slice at scan
    speed); ranking inherits bm25_topk's posting-list pruning.  The
    packed pid (doc*1024+chunk) is safe: chunk_ix < 1024 for any
    document under 32k tokens at stride 32."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    tk = txt.tokens("text")
    starts = F.when(
        F.size(tk) >= 1, F.sequence(F.lit(1), F.size(tk), F.lit(32))
    ).otherwise(F.array().cast("array<int>"))
    passages = (
        docs.select(
            F.col("doc_id"), tk.alias("__tk"), F.explode(starts).alias("s")
        )
        .select(
            (
                F.col("doc_id") * 1024
                + ((F.col("s") - 1) / 32).cast("long")
            ).alias("pid"),
            F.array_join(F.slice("__tk", F.col("s"), 32), " ").alias("text"),
        )
    )
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id long, query_text string")
    out = txt.bm25_topk(passages, qdf, k=3, id_col="pid")
    return out.select(
        "query_id",
        (F.col("pid") / 1024).cast("long").alias("doc_id"),
        (F.col("pid") % 1024).cast("int").alias("chunk_ix"),
        "score",
        "rnk",
    )


@query(
    "similarity_hard_negatives",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_vec
           FROM embeddings WHERE vec_id % 50 = 0),
s AS (
  SELECT q_id, e.vec_id AS n_id, e.label AS n_label,
         {{cos}} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.q_label),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rank
      FROM s)
SELECT q_id, n_id, n_label, cos_sim, rank FROM r WHERE rank <= 3
""".format(cos=_DUCK_COS.format(a="q.q_vec", b="e.embedding")),
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-3 nearest vectors of a DIFFERENT label — label mismatch is
    applied before ranking so pruning can't drop a valid negative
    (operators/similarity.py:hard_negatives)."""
    from pgloader_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.hard_negatives(emb, anchors, k=3)


@query(
    "corpus_stats_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, source, md5(text) AS digest,
         len({_TOKS}) AS n_tok
  FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
       round(AVG(CAST(n_tok AS DOUBLE)), 6) AS avg_tokens,
       COUNT(*) - COUNT(DISTINCT digest) AS n_exact_dup_docs
FROM t GROUP BY lang
""",
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus card: per-language document counts, source spread,
    token totals/extremes/mean, and exact-duplicate surplus — one
    map-side-combinable groupBy over the scan (the dataset summary a
    curation run reports before and after each stage)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    n_tok = txt.token_count("text")
    return (
        docs.select(
            "lang",
            "source",
            F.md5("text").alias("digest"),
            n_tok.alias("n_tok"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("n_tok").cast("long").alias("min_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
            F.round(F.avg(F.col("n_tok").cast("double")), 6).alias("avg_tokens"),
            (F.count(F.lit(1)) - F.countDistinct("digest")).alias(
                "n_exact_dup_docs"
            ),
        )
    )


@query(
    "dedup_minhash_quality",
    oracle=f"""
WITH {_duck_minhash_sig_cte()},
bands AS ({_duck_bands_select()}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_ix = b.band_ix AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id),
truth AS (SELECT id_a, id_b FROM ({_duck_jaccard_sql(k=3, threshold=0.5)}) j),
tp AS (SELECT COUNT(*) AS n FROM cand JOIN truth USING (id_a, id_b)),
nc AS (SELECT COUNT(*) AS n FROM cand),
nt AS (SELECT COUNT(*) AS n FROM truth)
SELECT CAST(nc.n AS BIGINT) AS n_candidates,
       CAST(nt.n AS BIGINT) AS n_truth,
       CAST(tp.n AS BIGINT) AS n_true_pos,
       CAST(nc.n - tp.n AS BIGINT) AS n_false_pos,
       CAST(nt.n - tp.n AS BIGINT) AS n_false_neg,
       round(CASE WHEN nc.n > 0 THEN tp.n / CAST(nc.n AS DOUBLE)
                  ELSE 1.0 END, 6) AS prec,
       round(CASE WHEN nt.n > 0 THEN tp.n / CAST(nt.n AS DOUBLE)
                  ELSE 1.0 END, 6) AS rec
FROM tp, nc, nt
""",
)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the approximate path against exact truth: LSH band
    candidate pairs vs PPJoin exact Jaccard >= 0.5 (same shingles),
    emitting the confusion counts and precision/recall.  This is the
    evaluation a curation team runs before trusting MinHash at 100 TB
    — and it is itself distributed (one full-outer pair join + one
    global agg; no driver-side set math)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    cand = dedup.minhash_candidate_pairs(docs).withColumn("in_c", F.lit(1))
    truth = (
        dedup.shingle_jaccard_pairs(docs, threshold=0.5, k=3)
        .select("id_a", "id_b")
        .withColumn("in_t", F.lit(1))
    )
    joined = cand.join(truth, ["id_a", "id_b"], "full")
    n_c = F.sum(F.coalesce(F.col("in_c"), F.lit(0)))
    n_t = F.sum(F.coalesce(F.col("in_t"), F.lit(0)))
    n_tp = F.sum(
        F.coalesce(F.col("in_c"), F.lit(0)) * F.coalesce(F.col("in_t"), F.lit(0))
    )
    return joined.agg(
        n_c.cast("long").alias("n_candidates"),
        n_t.cast("long").alias("n_truth"),
        n_tp.cast("long").alias("n_true_pos"),
        (n_c - n_tp).cast("long").alias("n_false_pos"),
        (n_t - n_tp).cast("long").alias("n_false_neg"),
        F.round(
            F.when(n_c > 0, n_tp / n_c.cast("double")).otherwise(F.lit(1.0)), 6
        ).alias("prec"),
        F.round(
            F.when(n_t > 0, n_tp / n_t.cast("double")).otherwise(F.lit(1.0)), 6
        ).alias("rec"),
    )


@query(
    "text_bm25_incremental",
    oracle=f"""
WITH q(query_id, query_text) AS (VALUES {_BM25_Q_VALUES}),
corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
ctoks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM corpus),
cdl AS (SELECT doc_id, COUNT(*) AS dl FROM ctoks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM cdl),
qt AS (
  SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
         unnest(list_filter(regexp_split_to_array(lower(query_text),
                                                  '[^a-z0-9]+'),
                            t -> t <> '')) AS term
  FROM q),
qdf AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM ctoks
  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
btoks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM batch),
btf AS (SELECT doc_id, term, COUNT(*) AS tf FROM btoks GROUP BY 1, 2),
bdl AS (SELECT doc_id, COUNT(*) AS dl FROM btoks GROUP BY 1),
scored AS (
  SELECT qt.query_id, btf.doc_id,
         round(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * (1.0 - 0.75
                                  + 0.75 * CAST(dl AS DOUBLE) / avgdl))),
               6) AS score
  FROM qt
  JOIN btf USING (term)
  JOIN qdf USING (term)
  JOIN bdl ON btf.doc_id = bdl.doc_id
  CROSS JOIN stats
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored)
SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
""",
)
def text_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental retrieval: score an arriving batch (odd doc_ids)
    with a FROZEN BM25 model snapshotted from the corpus (even
    doc_ids) — scoring costs O(batch); the corpus is read once for
    the model and never joined against the batch
    (operators/text.py:bm25_topk_incremental)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id long, query_text string")
    return txt.bm25_topk_incremental(corpus, batch, qdf, k=5)


@query(
    "embedding_covariance",
    oracle="""
WITH ex AS (
  SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS d
        FROM embeddings)),
prods AS (
  SELECT a.d AS i, b.d AS j, a.x * b.x AS xy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.d <= b.d),
sums AS (
  SELECT i, j, COUNT(*) AS n,
         SUM(CAST(xy AS DECIMAL(38,12))) AS sxy
  FROM prods GROUP BY 1, 2),
dims AS (SELECT d, SUM(CAST(x AS DECIMAL(38,12))) AS s FROM ex GROUP BY 1)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       round(CAST(sxy AS DOUBLE) / n
             - (CAST(si.s AS DOUBLE) / n) * (CAST(sj.s AS DOUBLE) / n),
             6) + 0.0 AS cov
FROM sums JOIN dims si ON si.d = i JOIN dims sj ON sj.d = j
""",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle covariance of the embedding corpus —
    decimal partial sums keyed by (i, j), bit-stable across
    partitionings (operators/similarity.py:embedding_covariance)."""
    from pgloader_spark.operators.similarity import embedding_covariance as cov

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    return cov(emb, dim=64)


@query("embedding_pca_project")  # eigendecomposition is not
# SQL-expressible: rows-only driver check; value-correctness pinned by
# test_embedding_audit.py's numpy cross-check + partition invariance
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening/dim-reduction before the ANN stage: project every
    embedding onto the corpus' top-8 principal components.  Only the
    dim x dim covariance ever reaches the driver; the projection is a
    narrow literal-matrix expression
    (operators/similarity.py:embedding_pca_project)."""
    from pgloader_spark.operators.similarity import embedding_pca_project as pca

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    return pca(emb, k=8, dim=64).orderBy("vec_id")


@query(
    "text_top_tokens",
    oracle=f"""
WITH items AS (SELECT unnest({_TOKS}) AS token FROM documents)
SELECT token, COUNT(*) AS n
FROM items GROUP BY token
ORDER BY n DESC, token LIMIT 50
""",
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide heavy hitters: top-50 tokens by occurrence.
    One map-side-combinable groupBy; the global top-k is a
    TakeOrderedAndProject over vocabulary-sized partials, never a full
    sort (the exact companion to sketch_cms_tokens' estimates)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return (
        docs.select(F.explode(txt.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


@query(
    "text_pii_counts",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT)
         AS n_urls,
       CAST(len(regexp_extract_all(text,
         '\+?[0-9][0-9() .-]{7,}[0-9]')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text,
         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT)
         AS n_ipv4
FROM documents
""",
)
def text_pii_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII exposure counts (emails, URLs, phone-shaped
    digit runs, IPv4 literals) — the measurement pass that decides
    whether a document goes to redaction (text_redact_normalize) or is
    dropped.  Pure regexp_count columns: scan-speed, no shuffle."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_count(
            t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        ).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(r"https?://[^\s]+")).cast("int").alias("n_urls"),
        F.regexp_count(t, F.lit(r"\+?[0-9][0-9() .-]{7,}[0-9]"))
        .cast("int")
        .alias("n_phones"),
        F.regexp_count(
            t, F.lit(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}")
        ).cast("int").alias("n_ipv4"),
    )


@query(
    "events_funnel",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY 1),
p AS (SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
       round((SELECT COUNT(*) FROM c) /
             CAST(greatest((SELECT COUNT(*) FROM v), 1) AS DOUBLE), 6)
         AS view_to_click,
       round((SELECT COUNT(*) FROM p) /
             CAST(greatest((SELECT COUNT(*) FROM c), 1) AS DOUBLE), 6)
         AS click_to_purchase
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each
    stage requires an event strictly AFTER the user's previous-stage
    entry time.  Three user-keyed min-aggregations + two user-keyed
    joins — every step map-side combinable; no window over the full
    event stream.

    Exchange shape (the r6 plan-audit flag, fixed r7): the three
    stage aggs and two joins all key on user_id, so the funnel-event
    projection (3 columns, 3 event types — smaller than input,
    referenced by all three stages: inside the README pin policy) is
    repartitioned on user_id ONCE and pinned; every downstream
    groupBy/join reuses that partitioning with no further shuffle.
    14 -> 10 static exchanges (same-session A/B at sf0.1, equal
    timings): what remains is the one repartition (appearing once
    per static cache reference; runtime reuses the materialization),
    the three 1-row COUNT aggregates, and their broadcast crossJoin
    — nothing corpus-sized shuffles more than once."""
    from pyspark.storagelevel import StorageLevel

    ev = read_table(spark, sf_dir, "events", widen=True)
    base = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
        .repartition("user_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        base.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )
    return counts.select(
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        F.round(
            F.col("n_click_after_view")
            / F.greatest(F.col("n_view"), F.lit(1)).cast("double"),
            6,
        ).alias("view_to_click"),
        F.round(
            F.col("n_purchase_after_click")
            / F.greatest(F.col("n_click_after_view"), F.lit(1)).cast("double"),
            6,
        ).alias("click_to_purchase"),
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH wk AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events),
cohort AS (SELECT user_id, MIN(week) AS w0 FROM wk GROUP BY 1),
active AS (
  SELECT DISTINCT wk.user_id, wk.week - c.w0 AS offset_weeks
  FROM wk JOIN cohort c ON wk.user_id = c.user_id),
base AS (SELECT COUNT(*) AS n0 FROM cohort)
SELECT CAST(offset_weeks AS INT) AS offset_weeks,
       COUNT(*) AS n_users,
       round(COUNT(*) / CAST(n0 AS DOUBLE), 6) AS retention
FROM active CROSS JOIN base
GROUP BY offset_weeks, n0
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by their first active epoch
    week; per week offset, how many are still active.  Two user-keyed
    aggs + one distinct — epoch-week math keeps both engines on the
    identical integer buckets (no calendar-week semantics drift)."""
    ev = read_table(spark, sf_dir, "events", widen=True)
    wk = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("double") / 604800).cast("long").alias("week"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("w0"))
    active = (
        wk.join(cohort, "user_id")
        .select("user_id", (F.col("week") - F.col("w0")).alias("offset_weeks"))
        .distinct()
    )
    base = cohort.agg(F.count(F.lit(1)).alias("n0"))
    return (
        active.crossJoin(F.broadcast(base))
        .groupBy("offset_weeks", "n0")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("offset_weeks").cast("int").alias("offset_weeks"),
            "n_users",
            F.round(F.col("n_users") / F.col("n0").cast("double"), 6).alias(
                "retention"
            ),
        )
    )


@query(
    "window_lead_lag_delta",
    oracle="""
SELECT event_id, user_id,
       round(value - LAG(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta_prev,
       round(LEAD(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id) - value, 6)
         AS delta_next
FROM events
""",
)
def window_lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive value deltas (lead/lag window pair over
    one ordering — a single per-user sort serves both)."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events", widen=True)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 6).alias("delta_next"),
    )


@query(
    "similarity_ivf_quality",
    oracle=f"""
WITH {{ivf_assign}},
c AS (SELECT e.vec_id AS n_id, e.embedding AS n_vec, a.cell
      FROM embeddings e JOIN asg a USING (vec_id)),
q AS (SELECT e.vec_id AS q_id, e.embedding AS q_vec, a.cell
      FROM embeddings e JOIN asg a USING (vec_id) WHERE e.vec_id % 50 = 0),
ivf_s AS (
  SELECT q_id, n_id, {{cos_cq}} AS cos_sim
  FROM c JOIN q USING (cell) WHERE n_id <> q_id),
ivf_r AS (SELECT q_id, n_id, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rnk FROM ivf_s),
ivf10 AS (SELECT q_id, n_id FROM ivf_r WHERE rnk <= 10),
b_s AS (
  SELECT q_id, e.vec_id AS n_id, {{cos_eq}} AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
b_r AS (SELECT q_id, n_id, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rnk FROM b_s),
b10 AS (SELECT q_id, n_id FROM b_r WHERE rnk <= 10),
hits AS (
  SELECT b10.q_id, COUNT(ivf10.n_id) AS n_hits
  FROM b10 LEFT JOIN ivf10
    ON b10.q_id = ivf10.q_id AND b10.n_id = ivf10.n_id
  GROUP BY b10.q_id)
SELECT q_id, CAST(n_hits AS INT) AS n_hits,
       round(n_hits / 10.0, 6) AS recall_at_10
FROM hits
""".format(
        ivf_assign=_DUCK_IVF_ASSIGN,
        cos_cq=_DUCK_COS.format(a="q.q_vec", b="c.n_vec"),
        cos_eq=_DUCK_COS.format(a="q.q_vec", b="e.embedding"),
    ),
)
def similarity_ivf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the ANN shortcut against exact truth: per query,
    recall@10 of IVF (n_probe=1, 8 cells) vs brute-force cosine — the
    evaluation that decides n_probe before trusting IVF at scale.
    Both sides run distributed; the overlap count is one keyed join
    (the similarity twin of dedup_minhash_quality)."""
    from pgloader_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    cents = sim.ivf_centroids(emb, n_centroids=8)
    ivf10 = sim.ivf_topk(emb, queries_df, k=10, centroids=cents).select(
        "q_id", "n_id"
    )
    b10 = sim.cosine_topk_blas(emb, queries_df, k=10).select(
        "q_id", "n_id", F.lit(1).alias("in_truth")
    )
    hits = (
        b10.join(ivf10.withColumn("in_ivf", F.lit(1)), ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce(F.col("in_ivf"), F.lit(0))).alias("n_hits"))
    )
    return hits.select(
        "q_id",
        F.col("n_hits").cast("int").alias("n_hits"),
        F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_10"),
    )


@query(
    "window_cum_distinct_users",
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events),
firsts AS (SELECT day, COUNT(*) AS new_users FROM d WHERE rn = 1 GROUP BY 1),
days AS (SELECT DISTINCT day FROM d)
SELECT days.day,
       CAST(COALESCE(new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(new_users, 0)) OVER (
         ORDER BY days.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_distinct_users
FROM days LEFT JOIN firsts USING (day)
""",
)
def window_cum_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per epoch-day WITHOUT a distinct-
    accumulating window (unsupported everywhere): each user
    contributes once at their FIRST event (row_number = 1), then a
    running sum over the per-day firsts — the standard scale rewrite;
    the running window runs over day-count rows, never events."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events", widen=True)
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day")
    w_first = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(day, "user_id", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w_first)
    )
    firsts = d.filter(F.col("rn") == 1).groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = d.select("day").distinct()
    joined = days.join(firsts, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return joined.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w_cum).cast("long").alias("cum_distinct_users"),
    )


@query(
    "agg_exact_median",
    oracle="""
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type,
       round(AVG(value), 6) AS median_value,
       CAST(MAX(n) AS BIGINT) AS n
FROM r
WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY event_type
""",
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median without a global sort: rank within the
    group, keep the middle one or two rows, average them.  The sort is
    per-group (parallel across groups); only 1-2 rows per group
    survive to the final agg — the scale-correct exact-median shape
    (approximate quantiles live in sketch_quantile_thresholds)."""
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events", widen=True)
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = r.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("median_value"),
        F.max("n").cast("long").alias("n"),
    )


@query(
    "text_novelty_score",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
grams AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, unnest({_duck_ngrams(3)}) AS g
        FROM (SELECT doc_id, tk FROM toks) t)),
dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       round(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM grams JOIN dfreq USING (g)
GROUP BY doc_id
""",
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty signal: the fraction of a document's distinct
    3-grams that appear in NO other document — high novelty marks
    original content, low novelty boilerplate/near-dups.  One
    gram-keyed document-frequency agg + one doc-keyed fold; both
    map-side combinable (the per-doc complement to the corpus-level
    dup_ngram signals)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(txt.word_ngrams(F.col("text"), 3))
        ).alias("g"),
    ).distinct()
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("int")).cast("long").alias(
                "n_unique"
            ),
            F.round(
                F.sum((F.col("df") == 1).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "text_length_pct_rank",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, len({_TOKS}) AS n_tok FROM documents)
SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
       round(PERCENT_RANK() OVER (
         PARTITION BY lang ORDER BY n_tok, doc_id), 6) AS len_pct_rank
FROM t
""",
)
def text_length_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentile rank — the input to
    length-outlier trimming policies (keep the 5th..95th band per
    language).  One per-language window, sort parallel across
    languages."""
    from pyspark.sql.window import Window as W

    docs = read_table(spark, sf_dir, "documents", widen=True)
    t = docs.select(
        "doc_id", "lang", txt.token_count("text").cast("long").alias("n_tok")
    )
    w = W.partitionBy("lang").orderBy("n_tok", "doc_id")
    return t.select(
        "doc_id",
        "lang",
        "n_tok",
        F.round(F.percent_rank().over(w), 6).alias("len_pct_rank"),
    )


@query(
    "events_zscore_anomalies",
    oracle="""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         round(AVG(value), 6) AS mu,
         round(CASE WHEN COUNT(*) > 1
                    THEN stddev_samp(value) ELSE 0.0 END, 6) AS sigma
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       round(e.value, 6) AS value,
       round(CASE WHEN sigma > 0
                  THEN (e.value - mu) / sigma ELSE 0.0 END, 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE sigma > 0 AND abs((e.value - mu) / sigma) > 3
""",
)
def events_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-grade outlier flagging: events whose value sits more
    than 3 sample-stddevs from their type's mean.  The per-type model
    is a group-count-sized aggregate riding a broadcast back onto the
    scan — two passes, no window over the full stream.  Moments are
    rounded to 6dp before the z-score so both engines threshold the
    identical boundary."""
    ev = read_table(spark, sf_dir, "events", widen=True)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(
            F.when(F.count(F.lit(1)) > 1, F.stddev_samp("value")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


from pgloader_spark.queries import _EN_STOP  # noqa: E402


@query(
    "text_gopher_rules",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
m AS (
  SELECT doc_id,
         len(tk) AS n,
         CASE WHEN len(tk) > 0
              THEN list_sum(list_transform(tk, x -> length(x)))
                   / CAST(len(tk) AS DOUBLE)
              ELSE 0.0 END AS mwl,
         len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
             / CAST(greatest(len(tk), 1) AS DOUBLE) AS alpha,
         len(list_intersect(list_distinct(tk), {_EN_STOP})) AS nstop,
         len(regexp_extract_all(text, '#|\\.\\.\\.'))
             / CAST(greatest(len(tk), 1) AS DOUBLE) AS symr,
         string_split(text, chr(10)) AS ln
  FROM t),
r AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS n_words,
         n >= 20 AND n <= 100000 AS rule_word_count,
         mwl >= 3.0 AND mwl <= 10.0 AS rule_mean_word_len,
         alpha >= 0.80 AS rule_alpha_words,
         nstop >= 2 AS rule_stopwords,
         symr <= 0.10 AS rule_symbol_ratio,
         len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]')))
             / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.90
             AS rule_bullet_lines,
         len(list_filter(ln, l -> regexp_matches(l, '\\.\\.\\.\\s*$')))
             / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.30
             AS rule_ellipsis_lines
  FROM m)
SELECT *,
       rule_word_count AND rule_mean_word_len AND rule_alpha_words
       AND rule_stopwords AND rule_symbol_ratio AND rule_bullet_lines
       AND rule_ellipsis_lines AS keep
FROM r
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate: 7 rule booleans + the
    AND-of-all keep flag, one narrow scan-speed pass — the filter
    pretraining pipelines run BEFORE any shuffle-bearing stage
    (operators/text.py:gopher_quality_rules)."""
    docs = read_table(spark, sf_dir, "documents", widen=True)
    return txt.gopher_quality_rules(docs)


_DUCK_HASH_SCORE = f"""
toksb AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
bkt AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('h0:' || term), 1, 12)) AS BIGINT) % 4096 AS j
  FROM toksb),
wts AS (
  SELECT doc_id,
         round((CAST(('0x' || substr(md5('w0:' || CAST(j AS VARCHAR)), 1, 12))
                     AS BIGINT) % 2001 - 1000) / 1000.0, 6) AS wj
  FROM bkt),
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(wj AS DECIMAL(28,6))) AS sw
  FROM wts GROUP BY 1),
scored AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(1.0 / (1.0 + exp(-(CAST(sw AS DOUBLE) / n_tokens))), 6) AS score
  FROM per WHERE n_tokens > 0)
"""


@query(
    "sample_token_budget",
    oracle=f"""
WITH {_DUCK_HASH_SCORE},
o AS (
  SELECT doc_id, n_tokens, score,
         SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored)
SELECT doc_id, n_tokens, score, CAST(cum AS BIGINT) AS cum_tokens
FROM o WHERE cum <= 6000
""",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation: the highest-quality documents (hashed linear
    classifier score) whose running token total fits a 6000-token
    budget.  No corpus-wide sort — the score buckets to 3 decimals,
    one combinable aggregate resolves which buckets fit on the driver,
    and only the budget-sized candidate prefix flows through the exact
    cumulative window (operators/sampling.py:token_budget_take)."""
    from pgloader_spark.operators.sampling import token_budget_take

    docs = read_table(spark, sf_dir, "documents", widen=True)
    scored = txt.hashed_linear_score(docs)
    return token_budget_take(scored, budget=6000)


@query("similarity_pq_topk")  # PQ codebooks come from iterative Lloyd
# training — not SQL-expressible; checked value-exact against the
# independent numpy reference in tools/py_oracles.py
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): the corpus
    compresses 32x to 8 one-byte codes (pq_encode, one narrow Arrow
    stage), each query's m x ks distance table inlines as array
    literals, and the ADC scan is m element_at lookups per row — pure
    JVM, one corpus pass for ALL queries, no shuffle before the
    per-query rank (operators/similarity.py:pq_train/pq_encode/
    pq_topk)."""
    from pgloader_spark.operators.similarity import pq_topk, pq_train

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    cbs = pq_train(emb, m=16, ks=64, sample_n=500, iters=5, dim=64)
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_topk(emb, queries_df, cbs, k=10)


@query(
    "pipeline_budget_admission",
    oracle=f"""
WITH RECURSIVE t AS MATERIALIZED (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
arr AS MATERIALIZED (
  SELECT list(doc_id ORDER BY doc_id) AS ids,
         list(n_tokens ORDER BY doc_id) AS toks,
         COUNT(*) AS n
  FROM t WHERE n_tokens > 0),
walk(rn, doc_id, n_tokens, spent, admitted) AS (
  SELECT 1, ids[1], toks[1],
         CASE WHEN toks[1] <= 4000 THEN toks[1] ELSE CAST(0 AS BIGINT) END,
         toks[1] <= 4000
  FROM arr
  UNION ALL
  SELECT w.rn + 1, a.ids[w.rn + 1], a.toks[w.rn + 1],
         CASE WHEN w.spent + a.toks[w.rn + 1] <= 4000
              THEN w.spent + a.toks[w.rn + 1] ELSE w.spent END,
         w.spent + a.toks[w.rn + 1] <= 4000
  FROM walk w, arr a WHERE w.rn < a.n)
SELECT CAST(0 AS BIGINT) AS shard, doc_id, n_tokens,
       spent AS cum_tokens
FROM walk WHERE admitted
""",
)
def pipeline_budget_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy budget-capped admission in arrival (id) order — the
    batch twin of streaming_budget_admission's checkpointed state
    machine: a doc is admitted iff the tokens ADMITTED so far plus its
    own fit the 4000-token cap; rejected docs never spend.  Oracle:
    DuckDB recursive-CTE walk of the same greedy fold
    (streaming/stateful.py:streaming_budget_admission)."""
    from pgloader_spark.streaming.stateful import streaming_budget_admission

    docs = read_table(spark, sf_dir, "documents", widen=True).select(
        "doc_id", txt.token_count("text").alias("n_tokens")
    )
    return streaming_budget_admission(docs, budget=4000)


@query("similarity_ivfpq_topk")  # Lloyd-trained coarse + residual
# codebooks are iterative — checked value-exact against the
# independent numpy reference in tools/py_oracles.py
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN, the full FAISS-style query path: L2 coarse
    quantizer prunes each query to its 2 nearest cells, PQ codebooks
    trained on RESIDUALS score candidates via per-(query, cell)
    lookup tables riding one broadcast equi-join on cell — rows
    outside the probed cells are never scored, which is what makes
    the scan sub-linear at 100 TB (operators/similarity.py:
    ivfpq_train/ivfpq_encode/ivfpq_topk)."""
    from pgloader_spark.operators.similarity import ivfpq_topk, ivfpq_train

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    coarse, cbs = ivfpq_train(
        emb, n_cells=8, m=16, ks=64, sample_n=500, iters=5, dim=64
    )
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return ivfpq_topk(emb, queries_df, coarse, cbs, k=10, n_probe=2)


def _duck_ivfpq_frozen_sql() -> str:
    """DuckDB oracle for the FROZEN integer-quantized IVF-PQ scan.

    With the trained artifacts committed as integer literals
    (frozen_models.IVFPQ_*) and vectors quantized round(x*1000),
    every distance is an exact int64 (max ~2^35, far under 2^53), so
    numpy's expanded-form d2 and SQL's (a-b)^2 sum are the SAME
    number — argmin/tie-break/hash cannot drift across engines.
    Replicates ivfpq_encode (coarse argmin -> residual PQ codes, ties
    to the low index) and ivfpq_topk (2-probe, per-(query,cell) LUT,
    ADC sum, rank by (adist, n_id)).
    """
    from pgloader_spark.frozen_models import (
        IVFPQ_CODEBOOKS,
        IVFPQ_COARSE,
        IVFPQ_QUANT_SCALE,
    )

    m = len(IVFPQ_CODEBOOKS)
    dsub = len(IVFPQ_CODEBOOKS[0][0])
    dim = len(IVFPQ_COARSE[0])
    cells_vals = ", ".join(
        f"({ci}, CAST({c!r} AS BIGINT[]))" for ci, c in enumerate(IVFPQ_COARSE)
    )
    cb_vals = ", ".join(
        f"({s}, {j}, CAST({code!r} AS BIGINT[]))"
        for s, cb in enumerate(IVFPQ_CODEBOOKS)
        for j, code in enumerate(cb)
    )
    # exact-int L2^2 between vector slice (v - c as residual) and a code
    sub_d2 = (
        f"CAST(list_sum(list_transform(range(1, {dsub + 1}), d -> "
        f"(cb.cv[d] - (VV[cb.s * {dsub} + d] - CC[cb.s * {dsub} + d])) * "
        f"(cb.cv[d] - (VV[cb.s * {dsub} + d] - CC[cb.s * {dsub} + d]))"
        f")) AS BIGINT)"
    )
    cell_d2 = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}), i -> "
        f"(VV[i] - cells.c[i]) * (VV[i] - cells.c[i]))) AS BIGINT)"
    )
    return f"""
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {IVFPQ_QUANT_SCALE})
                       AS BIGINT)) AS v
  FROM embeddings),
cells(cell, c) AS (VALUES {cells_vals}),
cb(s, j, cv) AS (VALUES {cb_vals}),
asg AS (
  SELECT vec_id, v, cell, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
  FROM (SELECT qe.vec_id, qe.v, cells.cell, cells.c,
               {cell_d2.replace("VV", "qe.v")} AS d2
        FROM qe CROSS JOIN cells)),
enc AS (SELECT vec_id, v, cell, c FROM asg WHERE rn = 1),
codes AS (
  SELECT vec_id, cell, s, j FROM (
    SELECT e.vec_id, e.cell, cb.s, cb.j,
           row_number() OVER (PARTITION BY e.vec_id, cb.s
                              ORDER BY {sub_d2.replace("VV", "e.v").replace("CC", "e.c")},
                                       cb.j) AS rn
    FROM enc e CROSS JOIN cb)
  WHERE rn = 1),
qs AS (SELECT vec_id AS q_id, v AS qv FROM qe WHERE vec_id % 50 = 0),
probe AS (
  SELECT q_id, qv, cell, c FROM (
    SELECT q_id, qv, cell, c,
           row_number() OVER (PARTITION BY q_id ORDER BY d2, cell) AS rn
    FROM (SELECT qs.q_id, qs.qv, cells.cell, cells.c,
                 {cell_d2.replace("VV", "qs.qv")} AS d2
          FROM qs CROSS JOIN cells))
  WHERE rn <= 2),
lut AS (
  SELECT p.q_id, p.cell, cb.s, cb.j,
         {sub_d2.replace("VV", "p.qv").replace("CC", "p.c")} AS ld
  FROM probe p CROSS JOIN cb),
scored AS (
  SELECT l.q_id, cd.vec_id AS n_id, CAST(SUM(l.ld) AS BIGINT) AS adist
  FROM codes cd
  JOIN lut l ON l.cell = cd.cell AND l.s = cd.s AND l.j = cd.j
  WHERE cd.vec_id <> l.q_id
  GROUP BY l.q_id, cd.vec_id
  HAVING COUNT(*) = {m})
SELECT q_id, n_id, adist, rank FROM (
  SELECT q_id, n_id, adist,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY adist, n_id) AS INTEGER) AS rank
  FROM scored)
WHERE rank <= 10
"""


@query("similarity_ivfpq_frozen_topk", oracle=_duck_ivfpq_frozen_sql())
def similarity_ivfpq_frozen_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ scan with the trained index FROZEN as committed
    integer literals (frozen_models.IVFPQ_*) — the deployment shape:
    an ANN index is trained once, then queries run against the fixed
    artifact.  Same distributed kernels as similarity_ivfpq_topk
    (operators/similarity.py:ivfpq_encode/ivfpq_topk: cell-pruned
    broadcast LUT join, rows outside the 2 probed cells never
    scored); vectors are quantized round(x*1000) so ALL distance
    arithmetic is exact int64 and the DuckDB oracle hash-matches
    bit-for-bit — the hash-green gate row for the IVF-PQ family
    (r8 verdict ask #1)."""
    from pgloader_spark.frozen_models import (
        IVFPQ_CODEBOOKS,
        IVFPQ_COARSE,
        IVFPQ_QUANT_SCALE,
    )
    from pgloader_spark.operators.similarity import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    quant = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * IVFPQ_QUANT_SCALE, 0),
    )
    emb_q = emb.select("vec_id", quant.alias("embedding"))
    queries_df = emb_q.filter(F.col("vec_id") % 50 == 0)
    coarse = [[float(v) for v in c] for c in IVFPQ_COARSE]
    cbs = [[[float(v) for v in code] for code in cb] for cb in IVFPQ_CODEBOOKS]
    out = ivfpq_topk(emb_q, queries_df, coarse, cbs, k=10, n_probe=2)
    return out.select(
        "q_id", "n_id", F.col("adist").cast("long").alias("adist"), "rank"
    )


@query("similarity_pq_quality")  # the PQ arm is Lloyd-trained
# (iterative) — checked against the independent numpy reference in
# tools/py_oracles.py, like the other measurement tools
def similarity_pq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measurement tool: recall@10 of the PQ ADC ranking against the
    exact L2 top-10 truth, per query — the number an ANN deployment
    tunes (m, ks) against.  Runs BOTH paths by design; the exact arm
    is the same broadcast-query brute force as cosine_topk_blas, on L2."""
    from pgloader_spark.operators.similarity import dot, pq_topk, pq_train

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    cbs = pq_train(emb, m=16, ks=64, sample_n=500, iters=5, dim=64)
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    approx = pq_topk(emb, queries_df, cbs, k=10).select("q_id", "n_id")

    q = queries_df.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    )
    diff = F.zip_with("q_vec", "n_vec", lambda a, b: a - b)
    l2 = F.round(dot(diff, diff), 6)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("q_id").orderBy(F.asc("l2"), F.asc("n_id"))
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", l2.alias("l2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "n_id")
    )
    hits = approx.join(exact, ["q_id", "n_id"], "inner").groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(10.0), 4
            ).alias("recall_at_10"),
        )
    )


@query("similarity_ivfpq_quality")  # iterative training — numpy
# reference oracle in tools/py_oracles.py
def similarity_ivfpq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measurement tool: recall@10 of the cell-pruned IVF-PQ ranking
    vs the exact L2 truth — read together with similarity_pq_quality
    it prices the n_probe pruning (recall given up for never scanning
    unprobed cells)."""
    from pgloader_spark.operators.similarity import dot, ivfpq_topk, ivfpq_train

    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    coarse, cbs = ivfpq_train(
        emb, n_cells=8, m=16, ks=64, sample_n=500, iters=5, dim=64
    )
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    approx = ivfpq_topk(emb, queries_df, coarse, cbs, k=10, n_probe=2).select(
        "q_id", "n_id"
    )

    q = queries_df.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    )
    diff = F.zip_with("q_vec", "n_vec", lambda a, b: a - b)
    l2 = F.round(dot(diff, diff), 6)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("q_id").orderBy(F.asc("l2"), F.asc("n_id"))
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", l2.alias("l2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "n_id")
    )
    hits = approx.join(exact, ["q_id", "n_id"], "inner").groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(10.0), 4
            ).alias("recall_at_10"),
        )
    )
