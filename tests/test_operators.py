"""Operator semantics tests on tiny in-memory frames (fast, exact)."""

from __future__ import annotations

import pyspark.sql.functions as F

from pgloader_spark.operators import dedup, similarity
from pgloader_spark.operators import text as txt
from tests.fixtures import dedup_reference as ref


def docs_df(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "the quick brown fox leaps over the lazy dog"),  # near dup
            (4, "completely different content about spark engines"),
            (5, "ab"),  # shorter than shingle width
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(docs_df(spark)).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in out}
    assert by_canon[1] == 2  # docs 1+2 collapse
    assert by_canon[3] == 1


def test_shingle_rows_short_doc(spark):
    sh = ref.shingle_rows(docs_df(spark), k=3)
    got = {r["sh"] for r in sh.filter(F.col("doc_id") == 5).collect()}
    assert got == {"ab"}  # whole token stream as one shingle


def test_minhash_signature_deterministic(spark):
    sig1 = ref.minhash_signature_df(docs_df(spark)).collect()
    sig2 = ref.minhash_signature_df(docs_df(spark)).collect()
    assert sorted(map(tuple, sig1)) == sorted(map(tuple, sig2))
    # identical docs -> identical signatures
    by_id = {r["doc_id"]: tuple(r)[1:] for r in sig1}
    assert by_id[1] == by_id[2]


def test_minhash_pairs_find_near_dup(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(docs_df(spark)).collect()
    }
    assert (1, 2) in pairs  # exact dup always a candidate
    assert all(a < b for a, b in pairs)


def test_jaccard_threshold(spark):
    out = dedup.shingle_jaccard_pairs(docs_df(spark), threshold=0.5, k=1)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 4) not in got


def test_prefix_filter_prunes_hot_item(spark):
    """The PPJoin pruning contract: a boilerplate item shared by every
    document never enters any prefix, so it generates ZERO candidate
    pairs (a naive item self-join would emit n*(n-1)/2 on it)."""
    n = 40
    # each doc: 9 unique tokens + the hot token "boilerplate"
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(9)) + " boilerplate")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    items = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split("text", " ")).alias("items"),
    )
    cand = dedup._prefix_candidates(items, threshold=0.8)
    # pairwise Jaccard is 1/19 — but the point is the prefix join
    # never even PRODUCES the candidates: n=10, prefix=10-8+1=3
    # rarest-first tokens, and the hot token sorts last everywhere.
    assert cand.count() == 0
    # pruning is exact: true near-dups above threshold still survive
    dup = spark.createDataFrame(
        [(100, "x1 x2 x3 x4 x5"), (101, "x1 x2 x3 x4 x5")],
        "doc_id long, text string",
    )
    out = ref.token_jaccard_pairs(docs.union(dup), threshold=0.8).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(100, 101)}


def test_shingle_jaccard_matches_naive_on_random_corpus(spark):
    """Exactness of the prefix-filtered shingle path vs a brute-force
    all-pairs computation on a corpus WITH hot boilerplate shingles."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(24):
        base = rng.choices(vocab, k=rng.randint(4, 12))
        rows.append((i, " ".join(base) + " common tail here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.shingle_jaccard_pairs(docs, threshold=0.3, k=3).collect()
    }

    def sh_set(text, k=3):
        toks = [t for t in text.split() if t]
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    want = {}
    sets = {i: sh_set(t) for i, t in rows}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = round(inter / len(sets[a] | sets[b]), 6)
            if j >= 0.3:
                want[(a, b)] = j
    assert got == want


def test_simhash_identical_docs_same_bucket(spark):
    out = dedup.simhash_duplicates(docs_df(spark)).collect()
    assert any(r["n_docs"] == 2 for r in out)


def test_cosine_topk_self_excluded_and_ranked(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk_blas(emb, q, k=2).collect()
    assert [r["n_id"] for r in out] == [1, 2]
    assert out[0]["rank"] == 1 and out[0]["cos_sim"] > 0.99


def test_ivf_assign_and_probe(spark):
    # two obvious clusters around x-axis and y-axis
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),
            (3, [0.1, 0.9]),
            (4, [1.0, 0.05]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.ivf_centroids(emb, n_centroids=2)
    assert [cid for cid, _ in cents] == [0, 1]
    assign = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", similarity.ivf_assign(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    assert assign[2] == assign[4] == assign[0] == 0
    assert assign[3] == assign[1] == 1
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.ivf_topk(emb, q, k=5, n_centroids=2).collect()
    # probe stays inside cell 0: neighbors 2 and 4 only, never 1/3
    assert {r["n_id"] for r in out} == {2, 4}
    assert out[0]["rank"] == 1
    # n_probe=2 widens the probe to both cells -> full recall here,
    # sharing the precomputed centroid list (one driver collect)
    out2 = similarity.ivf_topk(emb, q, k=5, centroids=cents, n_probe=2).collect()
    assert {r["n_id"] for r in out2} == {1, 2, 3, 4}


def test_ivf_zero_norm_vector_gets_deterministic_cells(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.ivf_centroids(emb, n_centroids=2)
    rows = emb.select(
        "vec_id",
        similarity.ivf_cells(F.col("embedding"), cents, n_probe=2).alias("cells"),
        similarity.ivf_assign(F.col("embedding"), cents).alias("cell"),
    ).collect()
    got = {r["vec_id"]: (r["cells"], r["cell"]) for r in rows}
    assert got[2] == ([0, 1], 0)  # zero-norm: deterministic fallback
    assert got[0][1] == 0 and got[1][1] == 1


def test_lang_id_english(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog are in the house with a mouse")],
        "doc_id long, text string",
    )
    out = df.select(txt.lang_id("text").alias("lang")).collect()
    assert out[0]["lang"] == "en"


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(txt.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_hof_let_binds_once(spark):
    """hof.let: body sees the bound value; scalar and array results."""
    from pyspark.sql import functions as F

    from pgloader_spark.operators.hof import let

    df = spark.createDataFrame([(1, "a b c")], "id long, s string")
    toks = F.split("s", " ")
    scalar = df.select(let(toks, lambda t: F.size(t)).alias("n")).collect()
    assert scalar[0]["n"] == 3
    arr = df.select(
        let(toks, lambda t: F.transform(t, F.upper)).alias("u")
    ).collect()
    assert arr[0]["u"] == ["A", "B", "C"]


def test_minhash_bands_narrow_equals_signature_path(spark):
    """The per-row band_buckets_expr (the shuffle-free path that
    minhash_bands now uses, and the one Structured Streaming can run)
    emits byte-identical (id, band_ix, bucket) rows to the
    explode+groupBy signature construction."""
    from pyspark.sql import functions as F

    docs = docs_df(spark)
    rows_n = dedup.N_MINHASH // dedup.N_BANDS
    base = ref.minhash_signature_df(docs)
    legacy = set()
    for r in base.collect():
        for b in range(dedup.N_BANDS):
            import hashlib

            slice_txt = ",".join(
                str(r[f"s{b * rows_n + k}"]) for k in range(rows_n)
            )
            legacy.add(
                (r["doc_id"], b, hashlib.md5(slice_txt.encode()).hexdigest())
            )
    narrow = {
        (r["doc_id"], r["band_ix"], r["bucket"])
        for r in dedup.minhash_bands(docs).collect()
    }
    assert narrow == legacy


def test_minhash_bands_drops_null_text_docs(spark):
    """NULL-text docs emit NO band rows (the signature path's behavior:
    zero exploded shingles -> no groupBy row). A shared md5('') bucket
    across null docs would create one hot bucket and O(n^2) false
    candidate pairs."""
    docs = spark.createDataFrame(
        [(1, "real words here again"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    bands = dedup.minhash_bands(docs)
    assert {r["doc_id"] for r in bands.collect()} == {1}
    assert dedup.minhash_candidate_pairs(docs).count() == 0


def test_token_jaccard_clusters_match_raw_pipeline(spark):
    """Identical-set collapse is a pure physical rewrite: clusters and
    min-labels from token_jaccard_clusters equal the raw-document
    pairs -> components -> count pipeline on a corpus mixing exact
    clones, near-dups (>=0.8), permuted-token clones (same SET), and
    singletons."""
    from pgloader_spark.operators.components import connected_components

    base = " ".join(f"tok{i}" for i in range(20))
    near = " ".join(f"tok{i}" for i in range(19)) + " other"  # J = 19/21 > 0.8
    perm = " ".join(f"tok{i}" for i in reversed(range(20)))  # same set as base
    rows = [
        (1, base),
        (2, base),  # exact clone
        (3, perm),  # identical set, different order
        (4, near),  # near-dup of the base group
        (5, "totally different words entirely unrelated content"),
        (6, "x1 x2 x3"),
        (7, "x1 x2 x3"),  # isolated exact-clone pair = its own cluster
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["canonical_id"], r["n_docs"])
        for r in dedup.token_jaccard_clusters(docs, threshold=0.8).collect()
    }
    raw = (
        connected_components(ref.token_jaccard_pairs(docs, threshold=0.8))
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    want = {(r["component"], r["n_docs"]) for r in raw}
    assert got == want == {(1, 4), (6, 2)}


def test_token_jaccard_clusters_empty_and_all_singletons(spark):
    """Empty corpus and a corpus with no duplicates both yield zero
    cluster rows with the stable (long, long) schema."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = dedup.token_jaccard_clusters(empty)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]
    assert out.count() == 0
    uniq = spark.createDataFrame(
        [(i, f"totally unique doc {i} alpha{i} beta{i}") for i in range(6)],
        "doc_id long, text string",
    )
    assert dedup.token_jaccard_clusters(uniq).count() == 0


def test_token_jaccard_clusters_empty_token_docs_stay_singletons(spark):
    """J(empty, empty) = 0/0 is NOT a duplicate in the pairwise
    formulation (no items -> no pairs; the DuckDB oracle agrees), so
    empty-token documents must not collapse into a spurious cluster."""
    rows = [
        (1, "...!!!"),       # tokenizes to nothing
        (2, "???"),          # tokenizes to nothing
        (3, "same words here"),
        (4, "same words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["canonical_id"], r["n_docs"])
        for r in dedup.token_jaccard_clusters(docs, threshold=0.8).collect()
    }
    assert got == {(3, 2)}
