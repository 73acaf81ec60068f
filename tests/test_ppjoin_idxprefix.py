"""Focused tests for the r11 PPJoin index-prefix asymmetry in
``dedup._prefix_candidates``: the smaller side of each (n, id)-ordered
pair joins on only its first n - ceil(2t/(1+t)*n) + 1 items.

The randomized brute-force property tests (test_properties.py,
test_operators.py) cover the filters broadly; these cases pin the
boundaries that specifically stress the new prefix:

- a containment pair whose small side's index prefix is ONE item
  (the minimum; any over-shortening loses the pair);
- pairs sitting exactly at J = t with n*t integral (the ceil float
  boundary the 1e-9 epsilon guards);
- equal-length pairs (the id tiebreak arm of the pair ordering);
- the canonical output contract (id_a < id_b) now that the join
  orientation is by (n, id), not id.
"""

from __future__ import annotations

import itertools

from tests.fixtures.dedup_reference import token_jaccard_pairs


def _brute(docs, threshold):
    sets = {i: {t.lower() for t in txt.split()} for i, txt in docs}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and round(inter / union, 6) >= threshold:
            out.add((a, b))
    return out


def _run(spark, docs, threshold):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = token_jaccard_pairs(df, threshold=threshold).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    # output contract: id_a < id_b regardless of the (n, id) join order
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert got == _brute(docs, threshold), f"threshold={threshold}"
    return got


def test_idxprefix_one_item_prefix_containment(spark):
    """|A|=8 subset of |B|=10 at t=0.8: A's index prefix is exactly
    8 - ceil(2*0.8/1.8*8) + 1 = 1 item. The pair must still be found."""
    a_toks = [f"t{i}" for i in range(8)]
    b_toks = a_toks + ["x1", "x2"]
    docs = [(1, " ".join(a_toks)), (2, " ".join(b_toks))]
    got = _run(spark, docs, 0.8)
    assert (1, 2) in got  # J = 8/10 = 0.8 exactly


def test_idxprefix_exact_threshold_integral_nt(spark):
    """J exactly = t where n*t is an integer (ceil boundary): equal
    9-sets sharing 8 tokens -> J = 8/10 = 0.8."""
    shared = [f"s{i}" for i in range(8)]
    docs = [
        (10, " ".join(shared + ["only_a"])),
        (20, " ".join(shared + ["only_b"])),
        # a third doc below threshold: 6 shared of 9/9 -> J = 6/12 = 0.5
        (30, " ".join(shared[:6] + ["c1", "c2", "c3"])),
    ]
    got = _run(spark, docs, 0.8)
    assert (10, 20) in got and not {(10, 30), (20, 30)} & got


def test_idxprefix_equal_length_id_tiebreak(spark):
    """Equal n on both sides exercises the id tiebreak arm of the
    (n, id) pair ordering; ids deliberately descend with content."""
    shared = [f"w{i}" for i in range(9)]
    docs = [
        (7, " ".join(shared + ["za"])),
        (3, " ".join(shared + ["zb"])),  # smaller id listed second
    ]
    got = _run(spark, docs, 0.8)
    assert got == {(3, 7)}  # J = 9/11 ≈ 0.818


def test_idxprefix_repeating_fraction_threshold(spark):
    """t = 2/3: 2t/(1+t) = 0.8 with a repeating-binary t — stresses
    the epsilon in ceil(n * idx_frac) across several sizes."""
    docs = []
    did = 0
    for n in (3, 5, 6, 9, 12, 15):
        base = [f"n{n}x{i}" for i in range(n)]
        docs.append((did, " ".join(base)))
        # partner drops one token and adds one -> J = (n-1)/(n+1)
        docs.append((did + 1, " ".join(base[:-1] + [f"n{n}xalt"])))
        did += 2
    _run(spark, docs, 2.0 / 3.0)
