"""Embedding QA audit operators: per-dimension stats and corpus health.

The oracle queries cover the clean-testdata path; these tests cover
what the testdata can't — NaN poisoning, zero-norm vectors, mixed
dimensionalities — plus the shuffle-shape plan contracts.
"""

from __future__ import annotations

import math
import re

import pytest

from pgloader_spark.operators.similarity import embedding_dim_stats, embedding_health


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_dim_stats_moments_match_python(spark):
    data = [(1, [1.0, 2.0]), (2, [3.0, 6.0]), (3, [5.0, 10.0])]
    out = {r.dim: r for r in embedding_dim_stats(_vecs(spark, data)).collect()}
    xs0, xs1 = [1.0, 3.0, 5.0], [2.0, 6.0, 10.0]
    for d, xs in ((0, xs0), (1, xs1)):
        mean = sum(xs) / len(xs)
        std = math.sqrt(sum(x * x for x in xs) / len(xs) - mean * mean)
        assert out[d].n == 3 and out[d].n_nan == 0
        assert out[d].mean == pytest.approx(mean, abs=1e-6)
        assert out[d].std == pytest.approx(std, abs=1e-6)
        assert out[d].min_x == min(xs) and out[d].max_x == max(xs)


def test_dim_stats_nan_excluded_from_moments(spark):
    nan = float("nan")
    data = [(1, [1.0, nan]), (2, [3.0, 4.0])]
    out = {r.dim: r for r in embedding_dim_stats(_vecs(spark, data)).collect()}
    assert out[0].n_nan == 0 and out[0].mean == pytest.approx(2.0)
    assert out[1].n_nan == 1
    # the NaN dim's moments come from the surviving value only
    assert out[1].mean == pytest.approx(4.0)
    assert out[1].std == pytest.approx(0.0)
    assert out[1].min_x == 4.0 and out[1].max_x == 4.0


def test_dim_stats_all_nan_dimension_is_zeroed_not_nan(spark):
    nan = float("nan")
    data = [(1, [nan]), (2, [nan])]
    row = embedding_dim_stats(_vecs(spark, data)).collect()[0]
    assert row.n == 2 and row.n_nan == 2
    assert row.mean == 0.0 and row.std == 0.0
    assert row.min_x is None and row.max_x is None


def test_dim_stats_partition_invariant(spark):
    data = [(i, [float(i % 7), float(i % 13) / 3.0]) for i in range(500)]
    df = _vecs(spark, data)
    a = sorted(map(tuple, embedding_dim_stats(df).collect()))
    b = sorted(map(tuple, embedding_dim_stats(df.repartition(11)).collect()))
    assert a == b


def test_dim_stats_single_shuffle_on_dim(spark):
    # the only Exchange may carry the dim key (plus AQE reads);
    # no corpus-sized repartition sneaks in
    df = _vecs(spark, [(1, [1.0, 2.0])])
    plan = embedding_dim_stats(df)._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 1, plan


def test_health_flags_zero_norm_nan_and_dim_drift(spark):
    nan = float("nan")
    data = [
        (1, [1.0, 2.0]),
        (2, [0.0, 0.0]),          # zero norm -> cosine-undefined
        (3, [nan, 1.0]),          # NaN carrier
        (4, [1.0, 2.0, 3.0]),     # dimensionality drift
    ]
    row = embedding_health(_vecs(spark, data)).collect()[0]
    assert row.n_vecs == 4
    assert row.n_dims_distinct == 2
    assert row.max_dim == 3
    assert row.n_zero_norm == 1
    # NaN sq-norm is not zero-norm; it is counted as a NaN carrier
    assert row.n_with_nan == 1


def test_health_clean_corpus(spark, sf_dir):
    from pgloader_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    row = embedding_health(emb).collect()[0]
    assert row.n_dims_distinct == 1 and row.n_zero_norm == 0 and row.n_with_nan == 0


def test_pca_project_matches_numpy(spark):
    """Distributed covariance -> eigh -> projection equals a pure
    numpy PCA on the collected matrix (same sign convention), and is
    partition-invariant."""
    import numpy as np

    from pgloader_spark.operators.similarity import (
        embedding_covariance,
        embedding_pca_project,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(120, 6)) @ np.diag([5, 3, 1, 0.5, 0.2, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        r["vec_id"]: [r[f"pc{c + 1}"] for c in range(3)]
        for r in embedding_pca_project(df, k=3, dim=6).collect()
    }

    # reference: numpy from the ROUNDED covariance (the operator's
    # contract rounds cov cells to 6dp before eigh)
    cells = embedding_covariance(df, dim=6).collect()
    c = np.zeros((6, 6))
    for r in cells:
        c[r["i"], r["j"]] = c[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1][:3]
    w = vecs[:, order].T
    for row in range(3):
        m = np.argmax(np.abs(w[row]))
        if w[row, m] < 0:
            w[row] = -w[row]
    proj = base @ w.T
    for i in range(120):
        for cix in range(3):
            assert abs(got[i][cix] - round(proj[i, cix], 6)) <= 1e-6, (i, cix)

    # partition invariance
    again = {
        r["vec_id"]: [r[f"pc{c + 1}"] for c in range(3)]
        for r in embedding_pca_project(df.repartition(7), k=3, dim=6).collect()
    }
    assert again == got

    # top component must capture the dominant synthetic direction:
    # variance of pc1 >= variance of pc2 >= pc3
    arr = np.array([got[i] for i in range(120)])
    v = arr.var(axis=0)
    assert v[0] >= v[1] >= v[2]


def test_pq_roundtrip_and_recall(spark):
    """PQ codes reconstruct locality: with well-separated synthetic
    clusters the ADC top-1 neighbor of each query is a member of its
    own cluster, and encode is deterministic across partitionings."""
    import numpy as np

    from pgloader_spark.operators.similarity import pq_encode, pq_topk, pq_train

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 64)) * 10
    rows = []
    for i in range(240):
        c = i % 4
        rows.append((i, [float(x) for x in centers[c] + rng.normal(size=64) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_train(df, m=8, ks=16, sample_n=240, iters=5, dim=64)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8

    codes = {r.vec_id: list(r.codes) for r in pq_encode(df, cbs).collect()}
    codes2 = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df.repartition(7), cbs).collect()
    }
    assert codes == codes2  # partition-invariant
    assert all(0 <= c < 16 for cs in codes.values() for c in cs)

    q = df.filter("vec_id < 4")  # one query per cluster
    top = pq_topk(df, q, cbs, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for qid, lst in by_q.items():
        assert len(lst) == 5
        top1 = min(lst)[1]
        assert top1 % 4 == qid % 4  # nearest neighbor from own cluster


def test_pq_topk_single_corpus_pass(spark):
    """ADC scoring is ONE scan for all queries: no Union of per-query
    subplans, no shuffle before the rank window's exchange."""
    import numpy as np

    from pgloader_spark.operators.similarity import pq_topk, pq_train

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_train(df, m=4, ks=8, sample_n=64, iters=3, dim=16)
    plan = (
        pq_topk(df, df.filter("vec_id < 3"), cbs, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" not in plan
    assert plan.count("MapInPandas") == 1


def test_adc_query_batch_cap_chunks_identically(spark):
    """r9 verdict ask #1: the ADC query-side collect is capped.  A
    query frame larger than ``query_batch_cap`` streams through in
    chunks whose unioned result is IDENTICAL to the unchunked run
    (per-query rankings are independent), so driver LUT memory is
    bounded by the cap instead of the query-frame size.  Below the
    cap the plan is unchanged (no Union — the single-pass test above
    pins that)."""
    import numpy as np

    from pgloader_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_train,
        pq_topk,
        pq_train,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 8")  # 8 queries > cap of 3 -> 3 chunks

    cbs = pq_train(df, m=4, ks=8, sample_n=64, iters=3, dim=16)
    full = sorted(map(tuple, pq_topk(df, q, cbs, k=3).collect()))
    chunked = sorted(
        map(tuple, pq_topk(df, q, cbs, k=3, query_batch_cap=3).collect())
    )
    assert chunked == full and len(full) == 8 * 3

    coarse, icbs = ivfpq_train(
        df, n_cells=4, m=4, ks=8, sample_n=64, iters=3, dim=16
    )
    ifull = sorted(
        map(tuple, ivfpq_topk(df, q, coarse, icbs, k=3, n_probe=2).collect())
    )
    ichunked = sorted(
        map(
            tuple,
            ivfpq_topk(
                df, q, coarse, icbs, k=3, n_probe=2, query_batch_cap=3
            ).collect(),
        )
    )
    assert ichunked == ifull and len(ifull) == 8 * 3


def test_pq_train_validates_inputs(spark):
    import pytest as _pytest

    from pgloader_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(i, [float(i)] * 10) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=3, ks=2, sample_n=4, dim=10)
    with _pytest.raises(ValueError, match="smaller than ks"):
        pq_train(df, m=2, ks=16, sample_n=4, dim=10)


def test_ivfpq_prunes_and_recalls(spark):
    """IVF-PQ: encode emits (cell, codes); the query path scores ONLY
    probed cells (plan joins on cell, no CrossJoin) and still finds
    same-cluster nearest neighbors on separated synthetic clusters."""
    import numpy as np

    from pgloader_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 64)) * 10
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=64) * 0.1])
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse, cbs = ivfpq_train(df, n_cells=4, m=8, ks=16, sample_n=240, iters=5, dim=64)

    enc = ivfpq_encode(df, coarse, cbs).collect()
    cells = {r.vec_id: r.cell for r in enc}
    # coarse quantizer separates the planted clusters: same-cluster
    # vectors share a cell
    for i in range(0, 236, 4):
        assert cells[i] == cells[i + 4]

    out = ivfpq_topk(df, df.filter("vec_id < 4"), coarse, cbs, k=5, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CrossJoin" not in plan and "BroadcastHashJoin" in plan
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for qid, lst in by_q.items():
        assert len(lst) == 5
        assert all(n % 4 == qid % 4 for _, n in lst)  # pruning held
