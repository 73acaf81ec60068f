"""Round-3 operator tests: decontamination, sequence packing,
mixture sampling, unigram log-prob, WAV/PNG decode round-trips.

These are the operators the round-2 snapshot shipped untested; each
now has unit coverage here plus a DuckDB oracle entry in
queries_pipeline.py / queries.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pgloader_spark.operators.decontam import ngram_decontaminate
from pgloader_spark.operators.multimodal import (
    audio_envelope_hash64,
    decode_wav_samples,
    image_metadata,
    media_audio_fingerprint,
    png_payload,
)
from pgloader_spark.operators.packing import pack_greedy
from pgloader_spark.operators.sampling import mix_to_target
from pgloader_spark.operators.text import unigram_logprob
from tests.fixtures.media import make_wav


# ---------------------------------------------------------------- decontam


def test_decontam_flags_overlapping_docs(spark):
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox today"),  # shares 3-grams
            (2, "completely unrelated words here now"),
            (3, "to sh"),  # < 3 tokens -> no grams, never flagged
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in ngram_decontaminate(corpus, eval_docs, k=3).collect()
    }
    assert out[1]["contaminated"] is True
    assert out[1]["n_overlap"] == 2  # "the quick brown", "quick brown fox"
    assert out[2]["contaminated"] is False
    assert out[2]["n_overlap"] == 0
    assert out[3]["n_grams"] == 0
    assert out[3]["contaminated"] is False
    assert out[3]["overlap_frac"] == 0.0


def test_decontam_overlap_frac_ratio(spark):
    eval_docs = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )  # grams: "a b c", "b c d" -> 1 of 2 overlap
    row = ngram_decontaminate(corpus, eval_docs, k=3).collect()[0]
    assert row["n_grams"] == 2
    assert row["n_overlap"] == 1
    assert row["overlap_frac"] == 0.5


# ----------------------------------------------------------------- packing


def test_pack_greedy_respects_budget_and_offsets(spark):
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate([30, 40, 50, 20, 90, 10])],
        "doc_id long, w long",
    )
    packed = pack_greedy(df, "w", budget=100, n_shards=1).collect()
    by_bin: dict[int, list] = {}
    for r in packed:
        by_bin.setdefault(r["bin_id"], []).append(r)
    # every bin with >1 doc fits the budget; offsets are running sums
    for rows in by_bin.values():
        rows.sort(key=lambda r: r["bin_offset"])
        fill = 0
        for r in rows:
            assert r["bin_offset"] == fill
            fill += r["weight"]
        if len(rows) > 1:
            assert fill <= 100
    assert len(packed) == 6


def test_pack_greedy_oversized_doc_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(1, 500), (2, 10), (3, 10)], "doc_id long, w long"
    )
    packed = pack_greedy(df, "w", budget=100, n_shards=1).collect()
    big = next(r for r in packed if r["weight"] == 500)
    others = [r for r in packed if r["weight"] != 500]
    assert all(r["bin_id"] != big["bin_id"] for r in others)
    assert big["bin_offset"] == 0


def test_pack_greedy_derives_n_shards_when_unset(spark):
    df = spark.createDataFrame([(i, 10) for i in range(100)], "doc_id long, w long")
    packed = pack_greedy(df, "w", budget=50)
    shards = {r["shard"] for r in packed.collect()}
    # derived shard count covers the session parallelism
    assert len(shards) > 1
    fills = packed.groupBy("shard", "bin_id").agg(F.sum("weight").alias("fill"))
    assert all(r["fill"] <= 50 for r in fills.collect())


def test_pack_greedy_deterministic_across_runs(spark):
    df = spark.createDataFrame([(i, 7 + i % 13) for i in range(50)], "doc_id long, w long")
    a = sorted(map(tuple, pack_greedy(df, "w", budget=64, n_shards=4).collect()))
    b = sorted(map(tuple, pack_greedy(df, "w", budget=64, n_shards=4).collect()))
    assert a == b


# ----------------------------------------------------------- mix_to_target


def test_mix_to_target_shares_and_binding_stratum(spark):
    rows = [(i, "en") for i in range(80)] + [(i + 100, "de") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mix_to_target(df, "lang", "doc_id", {"en": 0.6, "de": 0.4})
    got = out.groupBy("lang").count().collect()
    n = {r["lang"]: r["count"] for r in got}
    # scale = min(floor(80/.6), floor(20/.4)) = min(133, 50) = 50
    assert n == {"en": 30, "de": 20}  # floor(.6*50), floor(.4*50)


def test_mix_to_target_drops_absent_strata_and_nests(spark):
    rows = (
        [(i, "en") for i in range(40)]
        + [(i + 100, "de") for i in range(40)]
        + [(i + 200, "zz") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mix_to_target(df, "lang", "doc_id", {"en": 0.5, "de": 0.5})
    langs = {r["lang"] for r in out.collect()}
    assert "zz" not in langs
    # determinism: same seed -> same exact membership
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mix_to_target(df, "lang", "doc_id", {"en": 0.5, "de": 0.5}).collect()
    )
    assert a == b


# -------------------------------------------------------- unigram_logprob


def test_unigram_logprob_rare_tokens_score_lower(spark):
    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rareword1 rareword2 rareword3 rareword4"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[3]["n_tokens"] == 0
    assert out[3]["avg_logprob"] == 0.0
    assert out[1]["n_tokens"] == 4


# ------------------------------------------------------- multimodal decode


def test_wav_decode_roundtrip_driver_side():
    data = make_wav(sample_rate=16000, n_channels=2, n_samples=8000)
    sr, ch, samples = decode_wav_samples(data)
    assert (sr, ch) == (16000, 2)
    assert len(samples) == 8000  # 500 ms @ 16 kHz, channels mixed to mono


def test_wav_decode_distributed(spark):
    payloads = [
        (1, make_wav(8000, 1, 4000)),   # 500 ms
        (2, make_wav(44100, 2, 44100)),  # 1000 ms
        (3, b"\x89PNG\r\n\x1a\nnot a wav"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in media_audio_fingerprint(df).collect()}
    for doc_id, payload in payloads[:2]:
        assert out[doc_id]["error"] is None
        assert out[doc_id]["fp"] == audio_envelope_hash64(payload)
    assert out[3]["error"] is not None
    assert out[3]["fp"] is None


def test_png_payload_jvm_side_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, 640, 480), (2, 1, 1), (3, 65535, 3)],
        "doc_id long, w int, h int",
    )
    built = df.select(
        "doc_id", png_payload(F.col("w"), F.col("h")).alias("payload")
    )
    out = {r["doc_id"]: r for r in image_metadata(built).collect()}
    assert (out[1]["width"], out[1]["height"]) == (640, 480)
    assert (out[2]["width"], out[2]["height"]) == (1, 1)
    assert (out[3]["width"], out[3]["height"]) == (65535, 3)
    assert all(r["mime"] == "image/png" and r["error"] is None for r in out.values())
    assert all(r["n_bytes"] == 33 for r in out.values())


# --------------------------------------------------- chunking / shuffling


def test_chunk_windows_boundaries(spark):
    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, "only three tokens"), (3, "")],
                               "doc_id long, text string")
    out = {}
    for r in __import__("pgloader_spark.operators.text", fromlist=["chunk_windows"]) \
            .chunk_windows(df, window=64, stride=48).collect():
        out.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(out[1], key=lambda r: r["chunk_ix"])
    # starts at 1, 49, 97; windows 64, 64, 4 tokens
    assert [(r["start_tok"], r["n_tok"]) for r in c1] == [(1, 64), (49, 52), (97, 4)]
    assert out[2][0]["n_tok"] == 3
    assert 3 not in out  # empty doc -> no chunks


def test_global_shuffle_rank_is_contiguous_and_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    from pgloader_spark.operators.sampling import global_shuffle_rank

    a = global_shuffle_rank(df, "doc_id", seed=7).collect()
    ranks = sorted(r["shuffle_rank"] for r in a)
    assert ranks == list(range(1, 501))  # contiguous 1..N, no gaps/dups
    b = global_shuffle_rank(df.repartition(13), "doc_id", seed=7).collect()
    # identical assignment regardless of input partitioning
    assert {r["doc_id"]: r["shuffle_rank"] for r in a} == \
           {r["doc_id"]: r["shuffle_rank"] for r in b}


def test_global_shuffle_rank_no_single_partition_window(spark):
    """The scale contract: no window over an unpartitioned corpus-
    sized frame — the only global (unpartitioned) window allowed is
    the one over the bucket-count table, whose row bound is
    n_buckets, not data size."""
    from pgloader_spark.operators.sampling import global_shuffle_rank

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = global_shuffle_rank(df, "doc_id")._jdf.queryExecution().toString()
    import re
    # rank window must be partitioned by the bucket key
    assert re.search(r"row_number.*windowspecdefinition\(__bkt", plan, re.S)


def test_resize_bitmap_nearest_neighbor(spark):
    import numpy as np
    from pgloader_spark.operators.multimodal import resize_bitmap

    # 4x4 checkerboard -> 2x2 keeps the top-left pixel of each block
    tile = np.zeros((4, 4, 3), dtype=np.uint8)
    tile[::2, ::2] = 255   # white at even (y, x)
    tile[1::2, 1::2] = 255
    df = spark.createDataFrame(
        [(1, bytearray(tile.tobytes()), 4, 4), (2, bytearray(b"xx"), 4, 4)],
        "doc_id long, pixels binary, width int, height int",
    )
    out = {r["doc_id"]: r for r in resize_bitmap(df, 2, 2).collect()}
    got = np.frombuffer(bytes(out[1]["pixels"]), dtype=np.uint8).reshape(2, 2, 3)
    # sampled ys=xs=[0,2] -> all white corners of the checkerboard
    assert (got == 255).all()
    assert (out[1]["width"], out[1]["height"]) == (2, 2)
    assert out[2]["error"] is not None and out[2]["pixels"] is None


def test_resize_bitmap_upscale_deterministic(spark):
    import numpy as np
    from pgloader_spark.operators.multimodal import resize_bitmap

    src = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    df = spark.createDataFrame(
        [(1, bytearray(src.tobytes()), 2, 2)],
        "doc_id long, pixels binary, width int, height int",
    )
    r = resize_bitmap(df, 4, 4).collect()[0]
    got = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(4, 4, 3)
    # each source pixel expands to a 2x2 block
    assert (got[0:2, 0:2] == src[0, 0]).all()
    assert (got[2:4, 2:4] == src[1, 1]).all()


# ---------------------------------------------------------------- semdedup


def _unit_vec(x: float, y: float) -> list[float]:
    n = (x * x + y * y) ** 0.5
    return [x / n, y / n]


def test_semantic_dedup_keeps_lowest_id_per_neighborhood(spark):
    from pgloader_spark.operators.semdedup import semantic_dedup

    # two clear directions; ids 1/2/3 nearly colinear, 10/11 orthogonal
    rows = [
        (1, _unit_vec(1.0, 0.00)),
        (2, _unit_vec(1.0, 0.01)),  # cos ~1 with 1 -> dropped
        (3, _unit_vec(1.0, 0.02)),  # cos ~1 with 1 AND 2 -> dropped
        (10, _unit_vec(0.0, 1.0)),
        (11, _unit_vec(0.01, 1.0)),  # near-dup of 10 -> dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    kept = {
        r["vec_id"]: r["cell"]
        for r in semantic_dedup(emb, cents, tau=0.95).collect()
    }
    assert kept == {1: 0, 10: 1}


def test_semantic_dedup_cross_cell_neighbors_not_compared(spark):
    from pgloader_spark.operators.semdedup import semantic_dedup

    # identical vectors forced into different cells survive both —
    # the documented approximation of cluster blocking
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    kept = sorted(
        r["vec_id"] for r in semantic_dedup(emb, cents, tau=0.0).collect()
    )
    assert kept == [1, 2]


# ---------------------------------------------------------------- dsir


def test_dsir_weights_target_like_docs_score_higher(spark):
    from pgloader_spark.operators.sampling import dsir_weights

    # target rows are full of "alpha beta", raw noise of "zed yak"
    rows = [
        (1, "alpha beta alpha beta alpha beta", "en"),
        (2, "alpha beta alpha beta", "en"),
        (3, "zed yak zed yak zed yak", "xx"),
        (4, "alpha beta zed yak", "xx"),
        (5, "", "xx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r
        for r in dsir_weights(docs, is_target=F.col("lang") == "en").collect()
    }
    # target-vocabulary docs score strictly higher than off-target ones
    assert out[1]["dsir_logw"] > out[4]["dsir_logw"] > out[3]["dsir_logw"]
    # doc 3 (pure off-target vocabulary) must be negative
    assert out[3]["dsir_logw"] < 0
    # empty doc: no grams, weight 0 by convention
    assert out[5]["n_grams"] == 0 and out[5]["dsir_logw"] == 0.0
    # gram count = unigrams + bigrams
    assert out[2]["n_grams"] == 4 + 3


def test_dsir_weights_order_invariant(spark):
    from pgloader_spark.operators.sampling import dsir_weights

    rows = [(i, f"tok{i % 7} tok{i % 3} filler word", "en" if i % 2 else "xx")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tgt = F.col("lang") == "en"
    a = {r["doc_id"]: r["dsir_logw"]
         for r in dsir_weights(docs, tgt).collect()}
    b = {r["doc_id"]: r["dsir_logw"]
         for r in dsir_weights(docs.repartition(13), tgt).collect()}
    assert a == b


def test_semdedup_suggest_n_centroids_keeps_pair_work_linear():
    from pgloader_spark.operators.semdedup import suggest_n_centroids

    assert suggest_n_centroids(4) == 8  # floor
    assert suggest_n_centroids(1_024_000) == 1000
    # constant cell size: total pair work N*(N/K)/2 grows LINEARLY,
    # i.e. per-row pair work (N/K)/2 is a constant regardless of N
    for n in (10_000, 1_000_000, 100_000_000):
        k = suggest_n_centroids(n)
        assert n / k < 2 * 1024  # floor-division slack


def _fold_cosine_topk(corpus, queries, k):
    """The Column-fold brute force: ``similarity.dot`` per pair,
    cosine rounded to 6 decimals, ranked by (cos desc, id asc)."""
    from pyspark.sql.window import Window

    from pgloader_spark.operators.similarity import dot

    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = corpus.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    )
    cos = dot(F.col("q_vec"), F.col("n_vec")) / F.sqrt(
        dot(F.col("q_vec"), F.col("q_vec")) * dot(F.col("n_vec"), F.col("n_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos_sim", "rank")
    )


def test_cosine_topk_blas_matches_fold_variant(spark):
    import random

    from pgloader_spark.operators.similarity import cosine_topk_blas

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    a = sorted(map(tuple, _fold_cosine_topk(emb, q, k=5).collect()))
    b = sorted(map(tuple, cosine_topk_blas(emb, q, k=5).collect()))
    assert a == b


def test_semdedup_rounding_matches_duckdb_half_away():
    """r10 regression: the semdedup kernels must round with DuckDB/
    Spark HALF-AWAY-FROM-ZERO semantics, not numpy's banker's
    half-even — at sf0.1 five of dedup_embedding_near's 391 oracle
    pairs sit exactly on a .xxxx50 boundary and np.round flipped them
    the other way (sf0.01's pair set contains no boundary case, so
    the gate never saw it).  Pin the function against DuckDB itself
    over a boundary grid, and record that np.round genuinely differs
    on it (if numpy ever changed, this documents why the helper
    exists)."""
    import duckdb
    import numpy as np

    from pgloader_spark.operators.semdedup import _round_half_away

    grid = [0.36305, -0.36305, 0.12345, 0.99995, -0.99995, 0.1234565,
            0.5, -0.5, 0.36315, 0.0, 1.0, -1.0, 0.70710678]
    for d in (4, 6):
        for v in grid:
            duck = duckdb.sql(
                f"select round({v!r}::DOUBLE, {d})"
            ).fetchall()[0][0]
            assert float(_round_half_away(np.float64(v), d)) == duck, (v, d)
    assert float(_round_half_away(np.float64(0.36305), 4)) == 0.3631
    assert float(np.round(0.36305, 4)) == 0.363  # the divergent mode


def test_blocked_near_pairs_matches_bruteforce(spark):
    import itertools
    import math
    import random

    from pgloader_spark.operators.semdedup import blocked_near_pairs

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(45)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in blocked_near_pairs(emb, tau=0.2, block_rows=7).collect()
    )
    # brute force in python over float32-cast vectors (matching the
    # DataFrame's array<float> storage)
    import numpy as np

    vecs = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v, _ in rows}
    want = []
    for (a, va, la), (b, vb, lb) in itertools.combinations(rows, 2):
        if la != lb:
            continue
        ca = vecs[a]; cb = vecs[b]
        cos = float(ca @ cb / math.sqrt((ca @ ca) * (cb @ cb)))
        cos = round(round(cos, 6), 4)
        if cos >= 0.2:
            want.append((min(a, b), max(a, b), cos))
    assert got == sorted(want)


# ------------------------------------------------- incremental dedup


def test_incremental_dedup_exact_and_near(spark):
    from pgloader_spark.operators.dedup import incremental_dedup

    # 120 distinct tokens -> ~118 distinct 3-shingles; the near-dup
    # tail changes only 3 of them (Jaccard ~0.97, so at least one of
    # the 4 LSH bands collides with overwhelming probability)
    base = " ".join(f"word{i}" for i in range(120))
    old = spark.createDataFrame(
        [(0, base), (2, "totally different content here entirely " * 5)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),                              # exact copy of 0
            (3, base + " tiny extra tail"),         # near-dup of 0
            (5, "nothing like anything in the snapshot " * 5),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_dedup(old, new).collect()}
    assert out[1]["exact_dup"] is True and out[1]["dup_any"] is True
    assert out[3]["exact_dup"] is False
    assert out[3]["near_dup"] is True  # shares nearly all shingles with 0
    assert out[5]["exact_dup"] is False and out[5]["near_dup"] is False
    assert out[5]["dup_any"] is False
    assert set(out) == {1, 3, 5}  # one row per new doc, old side absent


def test_incremental_dedup_empty_old_side_keeps_everything(spark):
    from pgloader_spark.operators.dedup import incremental_dedup

    old = spark.createDataFrame([], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "some words here"), (3, "other words there")],
        "doc_id long, text string",
    )
    rows = incremental_dedup(old, new).collect()
    assert len(rows) == 2
    assert all(not r["dup_any"] for r in rows)


# ------------------------------------------------- source overlap matrix


def test_source_overlap_matrix_counts_cross_source_pairs(spark):
    from pgloader_spark.operators.dedup import source_overlap_matrix

    dup = "shared duplicated content words repeated " * 8
    docs = spark.createDataFrame(
        [
            (1, dup, "crawlA"),
            (2, dup, "crawlB"),          # bridges A-B
            (3, dup, "crawlB"),          # B-internal pair with 2
            (4, "unique text one " * 10, "crawlA"),
            (5, "unique text two " * 10, "crawlB"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_dup_pairs"]
        for r in source_overlap_matrix(docs).collect()
    }
    # pairs: (1,2) A-B, (1,3) A-B, (2,3) B-B
    assert out[("crawlA", "crawlB")] == 2
    assert out[("crawlB", "crawlB")] == 1
    assert ("crawlA", "crawlA") not in out


# ------------------------------------------------- cluster-balanced sample


def test_cluster_balanced_sample_quota_and_determinism(spark):
    from pgloader_spark.operators.sampling import cluster_balanced_sample

    # two well-separated clusters in 2-d; 6 vectors each
    rows = [(i, [10.0 + (i % 6) * 0.01, 0.1]) for i in range(6)] + [
        (10 + i, [0.1, 10.0 + i * 0.01]) for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [10.0, 0.0]), (1, [0.0, 10.0])]
    out = cluster_balanced_sample(emb, cents, per_cell=4).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    assert set(by_cell) == {0, 1}
    assert all(len(v) == 4 for v in by_cell.values())  # quota met exactly
    assert all(1 <= r["rk"] <= 4 for r in out)
    again = cluster_balanced_sample(emb, cents, per_cell=4).collect()
    assert sorted((r["vec_id"], r["rk"]) for r in out) == sorted(
        (r["vec_id"], r["rk"]) for r in again
    )  # deterministic, no RNG


def test_mix_with_temperature_flattens_toward_uniform(spark):
    """T=1 reproduces the natural mix (quota = own count for every
    stratum); higher T narrows the gap between big and small strata;
    results are nested/deterministic; T<=0 rejects."""
    import pytest as _pytest

    from pgloader_spark.operators.sampling import mix_with_temperature

    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    def shares(t):
        out = (
            mix_with_temperature(df, "src", "doc_id", temperature=t)
            .groupBy("src")
            .count()
            .collect()
        )
        d = {r["src"]: r["count"] for r in out}
        return d.get("big", 0), d.get("small", 0)

    b1, s1 = shares(1.0)
    assert (b1, s1) == (900, 100)  # natural mix: everything kept
    b4, s4 = shares(4.0)
    # T=4: small stratum binds (kept near-whole — double floor may
    # shave one row), big downsampled hard
    assert s4 >= 99
    assert b4 < 900
    assert b4 / s4 < 900 / 100  # flatter than natural
    # determinism
    assert shares(4.0) == (b4, s4)
    with _pytest.raises(ValueError):
        mix_with_temperature(df, "src", "doc_id", temperature=0.0)
