"""Round-7 additions: load-verification audits (FK orphans, table
checksums) and the order-aware / asymmetric dedup kernels
(edit-distance pairs, exact shingle containment)."""

from __future__ import annotations

import hashlib
import re

import pytest

from pgloader_spark.operators import audit, dedup


# ---------------------------------------------------------------- audit


def test_fk_orphan_summary_counts(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, 99), (6, None), (7, 42)],
        "row_id long, fk int",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    row = audit.fk_orphan_summary(
        child, "fk", parent, "pk", "child.fk->parent.pk", broadcast_parent=True
    ).collect()[0]
    assert row.edge == "child.fk->parent.pk"
    assert row.n_child_rows == 7
    assert row.n_child_keys == 4  # 10, 20, 99, 42 (distinct non-null)
    assert row.n_null_keys == 1
    assert row.n_orphan_keys == 2  # 99, 42
    assert row.n_orphan_rows == 3  # two 99s + one 42


def test_fk_orphan_clean_edge(spark):
    child = spark.createDataFrame([(1, 10), (2, 20)], "row_id long, fk int")
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    row = audit.fk_orphan_summary(child, "fk", parent, "pk", "e").collect()[0]
    assert (row.n_orphan_keys, row.n_orphan_rows, row.n_null_keys) == (0, 0, 0)


def test_table_checksum_order_independent(spark):
    rows = [(i, f"name-{i}") for i in range(200)]
    a = spark.createDataFrame(rows, "k long, v string").repartition(7)
    b = spark.createDataFrame(list(reversed(rows)), "k long, v string").coalesce(1)
    ra = audit.table_checksum(a, "t", ["k"]).collect()[0]
    rb = audit.table_checksum(b, "t", ["k"]).collect()[0]
    assert ra.key_checksum == rb.key_checksum
    assert ra.n_rows == rb.n_rows == 200
    assert ra.n_keys == 200


def test_table_checksum_detects_one_row_diff(spark):
    rows = [(i,) for i in range(100)]
    a = spark.createDataFrame(rows, "k long")
    b = spark.createDataFrame(rows[:-1] + [(999,)], "k long")
    ca = audit.table_checksum(a, "t", ["k"]).collect()[0].key_checksum
    cb = audit.table_checksum(b, "t", ["k"]).collect()[0].key_checksum
    assert ca != cb


def test_table_checksum_matches_python_reference(spark):
    """Pin the portable hash: sum of md5-prefix hashes mod 2^60,
    computed independently in pure Python."""
    rows = [(i, i * 3) for i in range(50)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = audit.table_checksum(df, "t", ["a", "b"]).collect()[0]
    expect = (
        sum(
            int(
                hashlib.md5(
                    f"{audit.CHECKSUM_SEED}:{a}|{b}".encode()
                ).hexdigest()[:15],
                16,
            )
            for a, b in rows
        )
        % audit.CHECKSUM_MOD
    )
    assert got.key_checksum == expect


def test_table_checksum_composite_key_distinct(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 1)], "a long, b long"
    )
    row = audit.table_checksum(df, "t", ["a", "b"]).collect()[0]
    assert row.n_rows == 4
    assert row.n_keys == 3  # (1,1) repeated


# ------------------------------------------------------- edit distance


_BASE = (
    "spark shuffles data between stages using hash partitioning on the join "
    "keys and the adaptive query engine coalesces small partitions at runtime "
    "to keep task overhead low across the whole cluster during execution"
)


def test_edit_distance_finds_aligned_rewrite(spark):
    docs = spark.createDataFrame(
        [
            (1, _BASE),
            (2, _BASE.replace("low", "high")),  # one aligned word edit
            (3, "completely unrelated text about catalyst logical planning"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.edit_distance_pairs(docs, threshold=0.8).collect()
    pairs = {(r.id_a, r.id_b): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.lev_dist == 4  # low -> high
    assert r.edit_sim > 0.97
    assert all(3 not in p for p in pairs)


def test_edit_distance_is_order_aware(spark):
    """Block-swapped text (Y+X vs X+Y): almost all shingles shared, so
    the LSH bands make the pair a candidate and Jaccard would call it
    a near-dup — but edit similarity collapses.  The order-aware
    signal Jaccard cannot provide."""
    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    y = "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    docs = spark.createDataFrame(
        [(1, x + " " + y), (2, y + " " + x)], "doc_id long, text string"
    )
    high = dedup.edit_distance_pairs(docs, threshold=0.8).collect()
    assert high == []
    low = dedup.edit_distance_pairs(docs, threshold=0.0).collect()
    assert len(low) == 1 and low[0].edit_sim < 0.5


def test_edit_distance_identical_and_empty(spark):
    docs = spark.createDataFrame(
        [(1, "same words here exactly"), (2, "same words here exactly")],
        "doc_id long, text string",
    )
    rows = dedup.edit_distance_pairs(docs, threshold=0.8).collect()
    assert len(rows) == 1
    assert rows[0].lev_dist == 0 and rows[0].edit_sim == 1.0


# --------------------------------------------------------- containment


def _py_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


def _py_shingles(s: str, k: int = 3) -> set[str]:
    tk = _py_tokens(s)
    if len(tk) < k:
        return {" ".join(tk)}
    return {" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)}


def _py_containment_pairs(texts: dict[int, str], threshold: float, k: int = 3):
    sets = {i: _py_shingles(t, k) for i, t in texts.items()}
    out = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            inter = len(sa & sb)
            c = inter / len(sa)
            if c >= threshold:
                out[(a, b)] = (inter, round(c, 6))
    return out


def test_containment_subset_document(spark):
    inner = "data pipelines shuffle keys across executors every stage"
    outer = (
        "as the paper observes " + inner + " which motivates partition pruning "
        "and broadcast joins in modern engines"
    )
    docs = spark.createDataFrame(
        [(1, inner), (2, outer)], "doc_id long, text string"
    )
    rows = dedup.containment_pairs(docs, threshold=0.9).collect()
    got = {(r.id_in, r.id_out): r.containment for r in rows}
    # every shingle of the inner doc appears verbatim in the outer doc
    assert got == {(1, 2): 1.0}


def test_containment_matches_bruteforce(spark):
    """Exactness of the asymmetric prefix filter: the operator must
    find EVERY qualifying directed pair a brute-force set scan finds
    (shared phrases engineered so frequent shingles exist)."""
    common = "the shared boilerplate header used by many documents"
    texts = {
        1: common + " alpha beta gamma delta",
        2: common + " epsilon zeta eta theta",
        3: common,
        4: "unique content without any overlap whatsoever in this one",
        5: common + " alpha beta gamma delta extra tail words appended here",
        6: "tiny doc",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for thr in (0.4, 0.6, 0.9):
        got = {
            (r.id_in, r.id_out): (r.n_common, r.containment)
            for r in dedup.containment_pairs(docs, threshold=thr).collect()
        }
        assert got == _py_containment_pairs(texts, thr), f"threshold {thr}"


def test_containment_asymmetry(spark):
    """A ⊂ B must report containment(A in B)=1.0 while B in A < 1."""
    a = "one two three four five six seven"
    b = a + " eight nine ten eleven twelve thirteen fourteen fifteen"
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = {
        (r.id_in, r.id_out): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.1).collect()
    }
    assert rows[(1, 2)] == 1.0
    assert rows[(2, 1)] < rows[(1, 2)]


@pytest.mark.parametrize("n_docs", [40])
def test_containment_random_corpus_bruteforce(spark, n_docs):
    """Clone-dense random corpus (deterministic seed) vs brute force."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = {}
    for i in range(n_docs):
        n = rng.randint(4, 18)
        texts[i] = " ".join(rng.choice(vocab) for _ in range(n))
    # plant subset relations
    texts[n_docs] = texts[0] + " " + texts[1]
    texts[n_docs + 1] = texts[2]
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.id_in, r.id_out): (r.n_common, r.containment)
        for r in dedup.containment_pairs(docs, threshold=0.5).collect()
    }
    assert got == _py_containment_pairs(texts, 0.5)


# ---------------------------------------------- bucket checksums / skew


def test_bucket_checksums_roll_up_to_table_checksum(spark):
    rows = [(i, f"v{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k long, v string")
    whole = audit.table_checksum(df, "t", ["k"]).collect()[0]
    buckets = audit.bucket_checksums(df, "t", ["k"], n_buckets=16).collect()
    assert sum(b.n_rows for b in buckets) == whole.n_rows
    assert sum(b.n_keys for b in buckets) == whole.n_keys  # disjoint buckets
    assert sum(b.key_checksum for b in buckets) % audit.CHECKSUM_MOD == whole.key_checksum
    assert all(0 <= b.bucket < 16 for b in buckets)


def test_bucket_checksums_localize_a_diff(spark):
    rows = [(i,) for i in range(500)]
    a = spark.createDataFrame(rows, "k long")
    b = spark.createDataFrame(rows[:-1] + [(9999,)], "k long")
    ba = {r.bucket: r.key_checksum for r in audit.bucket_checksums(a, "t", ["k"], 32).collect()}
    bb = {r.bucket: r.key_checksum for r in audit.bucket_checksums(b, "t", ["k"], 32).collect()}
    diff = {k for k in set(ba) | set(bb) if ba.get(k) != bb.get(k)}
    # one changed row touches at most the two buckets (old key's, new key's)
    assert 1 <= len(diff) <= 2


def test_key_skew_profile_exact_integers(spark):
    # 60 rows: key 0 x30, key 1 x20, key 2 x10 -> 3 keys, total 60
    data = [(0,)] * 30 + [(1,)] * 20 + [(2,)] * 10
    df = spark.createDataFrame(data, "uid int")
    rows = audit.key_skew_profile(df, "uid", top_k=2).collect()
    assert [(r.key, r.n_rows) for r in rows] == [("0", 30), ("1", 20)]
    assert rows[0].row_share_ppm == 500000  # 30/60 exactly
    assert rows[0].skew_vs_uniform_x100 == 150  # 30*3/60 = 1.5x uniform
    assert rows[1].skew_vs_uniform_x100 == 100  # exactly uniform


def test_key_skew_profile_deterministic_tie_order(spark):
    data = [(5,)] * 3 + [(30,)] * 3 + [(2,)] * 3
    df = spark.createDataFrame(data, "uid int")
    rows = audit.key_skew_profile(df, "uid", top_k=3).collect()
    # equal counts -> string-ordered keys
    assert [r.key for r in rows] == ["2", "30", "5"]


def test_fk_orphan_empty_child_reports_zeros(spark):
    child = spark.createDataFrame([], "row_id long, fk int")
    parent = spark.createDataFrame([(10,)], "pk int")
    row = audit.fk_orphan_summary(child, "fk", parent, "pk", "e").collect()[0]
    assert (row.n_child_rows, row.n_child_keys, row.n_null_keys,
            row.n_orphan_keys, row.n_orphan_rows) == (0, 0, 0, 0, 0)


def test_composite_key_separator_disambiguation(spark):
    """('a|b','c') and ('a','b|c') must NOT checksum-collide (the
    plain concat_ws rendering collided them); backslashes in key
    parts escape too."""
    a = spark.createDataFrame([("a|b", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b|c")], "x string, y string")
    ca = audit.table_checksum(a, "t", ["x", "y"]).collect()[0].key_checksum
    cb = audit.table_checksum(b, "t", ["x", "y"]).collect()[0].key_checksum
    assert ca != cb
    c = spark.createDataFrame([("a\\", "|b")], "x string, y string")
    d = spark.createDataFrame([("a", "\\|b")], "x string, y string")
    cc = audit.table_checksum(c, "t", ["x", "y"]).collect()[0].key_checksum
    cd = audit.table_checksum(d, "t", ["x", "y"]).collect()[0].key_checksum
    assert cc != cd
    # and n_keys sees them as distinct composite keys too
    both = a.unionByName(b)
    row = audit.table_checksum(both, "t", ["x", "y"]).collect()[0]
    assert row.n_keys == 2
