"""Plan-contract tests: the scale properties the queries rely on.

Correctness is covered by the DuckDB oracles; these tests pin the
*physical plan* properties that make the same queries viable at
cluster scale — filter pushdown into the parquet scan, column
pruning, and the absence of forced broadcasts on data-scaled join
sides (reference has no optimizer to compare against; see SURVEY.md
section 4 for what Catalyst supplies for free).
"""

from __future__ import annotations

import re

import pytest

from pgloader_spark import queries as Q


def _formatted_plan(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


def _scans(plan: str) -> list[str]:
    """Split the formatted plan into per-scan detail blocks."""
    blocks = re.split(r"\n\(\d+\) ", plan)
    return [b for b in blocks if "PushedFilters" in b]


def test_q3_pushes_filters_and_prunes_columns(spark, sf_dir):
    plan = _formatted_plan(Q.q3_shipping_priority(spark, sf_dir))
    scans = _scans(plan)
    assert len(scans) >= 3
    pushed = "\n".join(scans)
    # the three selective predicates reach the parquet reader
    assert "GreaterThan(l_shipdate" in pushed
    assert "LessThan(o_orderdate" in pushed
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed
    # lineitem scan reads only the 4 needed columns of 16
    li_scan = next(s for s in scans if "l_shipdate" in s)
    m = re.search(r"ReadSchema: struct<([^>]*)>", li_scan)
    assert m and len(m.group(1).split(",")) <= 4


def test_q5_broadcasts_only_fixed_size_dims(spark, sf_dir):
    df = Q.q5_supplier_nation_revenue(spark, sf_dir)
    plan = _formatted_plan(df)
    # nation/region are constant-size: hinted broadcasts must survive
    assert plan.count("BroadcastExchange") >= 2
    # no forced broadcast on SF-scaled sides: the logical plan keeps
    # hints as ResolvedHint nodes; only nation/region may carry one
    logical = str(df._jdf.queryExecution().optimizedPlan())
    for line in logical.splitlines():
        if "broadcast" in line.lower() and "Relation" in line:
            assert "nation" in line or "region" in line


@pytest.mark.parametrize(
    "qname",
    ["q1_pricing_summary", "window_top3_orders_per_customer", "events_sessionize"],
)
def test_hot_queries_stay_jvm_side(spark, sf_dir, qname):
    """No Python evaluation in the hot path: the plans contain no
    BatchEvalPython / ArrowEvalPython nodes (everything compiles to
    Column expressions inside whole-stage codegen)."""
    df = Q.QUERIES[qname](spark, sf_dir)
    plan = _formatted_plan(df)
    assert "EvalPython" not in plan
    # AQE finalizes (and codegens) the plan only at execution time
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Operator" in the simple plan string
    assert re.search(r"\*\(\d+\) ", final)
    assert "EvalPython" not in final


def test_dedup_shingle_jaccard_has_no_forced_broadcast(spark, sf_dir):
    from pgloader_spark.operators.dedup import shingle_jaccard_pairs
    from pgloader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    df = shingle_jaccard_pairs(docs)
    logical = str(df._jdf.queryExecution().logical())
    assert "UnresolvedHint" not in logical


def test_jaccard_self_join_is_prefix_pruned(spark, sf_dir):
    """Plan contract: both Jaccard paths self-join on a SLICED prefix
    of the df-ordered item array, never the raw item stream — the
    prefix filter is what stops a hot boilerplate shingle from
    emitting O(df^2) join rows at 100 TB."""
    from pgloader_spark.operators.dedup import shingle_jaccard_pairs
    from pgloader_spark.session import read_table
    from tests.fixtures.dedup_reference import token_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    for fn in (shingle_jaccard_pairs, token_jaccard_pairs):
        plan = str(fn(docs)._jdf.queryExecution().optimizedPlan())
        assert "slice(" in plan, f"{fn.__name__}: join input not prefix-sliced"


def test_local_only_configs_gated_on_master():
    """The 4 MB-split / fixed-shuffle-partition tweaks exist for the
    single-file local testdata only; a cluster master must keep Spark's
    defaults (128 MB splits, AQE-sized shuffles)."""
    from pgloader_spark.session import session_configs

    local = session_configs("local[32]", cpus="32")
    assert local["spark.sql.files.maxPartitionBytes"] == "4m"
    assert local["spark.sql.shuffle.partitions"] == "64"

    for master in ("yarn", "k8s://https://host:443", "spark://host:7077"):
        conf = session_configs(master)
        assert "spark.sql.files.maxPartitionBytes" not in conf
        assert "spark.sql.shuffle.partitions" not in conf
        # ship-everywhere settings still present
        assert conf["spark.sql.adaptive.enabled"] == "true"


def test_shuffled_hash_join_confs_ship_everywhere(monkeypatch):
    """r11: shuffled-hash preferred over sort-merge once broadcast is
    ruled out (guide §3.1/§9; sf1x A/B evidence in
    tools/profiles/shj_sf1x_ab*_r11s4.json).  Ship-everywhere — the
    selection is size-gated at plan time so a cluster master keeps the
    same behavior — with the local-map threshold env-tunable for
    clusters with tighter executor memory."""
    from pgloader_spark.session import session_configs

    for master in ("local[32]", "yarn"):
        conf = session_configs(master)
        assert conf["spark.sql.join.preferSortMergeJoin"] == "false"
        assert (
            conf["spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"]
            == "64m"
        )
    monkeypatch.setenv("SPARK_GRAFT_SHJ_LOCALMAP", "16m")
    conf = session_configs("yarn")
    assert (
        conf["spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"] == "16m"
    )


def test_q19_or_of_ands_pushes_per_side_conjuncts(spark, sf_dir):
    """Catalyst factors common per-side conjuncts out of the OR-of-ANDs
    predicate: each parquet scan receives an Or(...) pushed filter
    covering only ITS columns (brand/size on part, quantity on
    lineitem) — the textbook pushdown-through-disjunction case."""
    from pgloader_spark import queries_tpch as QT

    plan = _formatted_plan(QT.q19_discounted_revenue(spark, sf_dir))
    scans = _scans(plan)
    part_scan = next(s for s in scans if "p_brand" in s)
    li_scan = next(s for s in scans if "l_quantity" in s)
    assert "Or(" in part_scan and "p_brand,Brand#12" in part_scan
    assert "Or(" in li_scan and "l_quantity" in li_scan


def test_q2_decorrelates_to_single_window(spark, sf_dir):
    """The correlated-min subquery compiles to ONE window over the
    joined result — no per-row subquery re-execution, no second scan
    of lineitem beyond the unit-cost aggregation."""
    from pgloader_spark import queries_tpch as QT

    df = QT.q2_min_cost_supplier(spark, sf_dir)
    plan = _formatted_plan(df)
    # one Window node (each node prints twice in formatted mode: tree + detail)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert plan.count("lineitem.parquet") == 1


def test_q21_single_pass_decorrelation(spark, sf_dir):
    """EXISTS + NOT EXISTS over the same table collapse into one
    grouped pass: exactly one scan of lineitem in the plan (the
    textbook form runs three)."""
    from pgloader_spark import queries_tpch as QT

    plan = _formatted_plan(QT.q21_sole_return_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1


def test_new_tpch_broadcasts_only_fixed_dims(spark, sf_dir):
    """No forced broadcast on SF-scaled tables across the new TPC-H
    set; explicit hints may target only nation/region (25/5 rows) or
    provably 1-row aggregates (scalar thresholds)."""
    from pgloader_spark import queries_tpch as QT

    for qname in (
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q16_supplier_part_types",
        "q20_excess_suppliers",
    ):
        df = Q.QUERIES[qname](spark, sf_dir)
        logical = str(df._jdf.queryExecution().optimizedPlan())
        for line in logical.splitlines():
            if "broadcast" in line.lower() and "Relation" in line:
                assert "nation" in line or "region" in line, f"{qname}: {line}"


def test_repetition_and_quantize_are_narrow(spark, sf_dir):
    """Per-document metrics must not shuffle: no Exchange in the plan
    beyond the (optional) widen repartition of the single-file scan."""
    from pgloader_spark import queries_pipeline as QP

    for qname in ("text_repetition", "embedding_quantize_int8"):
        plan = _formatted_plan(Q.QUERIES[qname](spark, sf_dir))
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 1, f"{qname}: {n_exchanges} exchanges"
        assert "EvalPython" not in plan


def test_tfidf_broadcasts_only_the_corpus_count(spark, sf_dir):
    """The 1-row corpus-size aggregate is the only forced broadcast in
    TF-IDF; document-frequency and term-frequency sides scale with the
    corpus and must stay unhinted."""
    df = Q.QUERIES["text_tfidf_topk"](spark, sf_dir)
    logical = str(df._jdf.queryExecution().optimizedPlan())
    hints = [l for l in logical.splitlines() if "ResolvedHint" in l]
    assert len(hints) <= 1


def test_connected_components_shuffles_are_bounded(spark):
    """One star round = groupBy + join on the edge endpoints; the
    iteration must not accumulate lineage (localCheckpoint truncates),
    so a post-convergence mapping plan contains no star-round joins."""
    from pgloader_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    mapping = connected_components(pairs, driver_edge_threshold=0)
    plan = str(mapping._jdf.queryExecution().optimizedPlan())
    # lineage was cut: the final plan reads checkpointed RDDs, not the
    # full iteration history
    assert "LogicalRDD" in plan
    # the size-gated driver path resolves the same graph to a
    # LocalRelation/Arrow-backed mapping (no star rounds at all)
    small = connected_components(pairs)
    small_plan = str(small._jdf.queryExecution().optimizedPlan())
    assert "Join" not in small_plan


def test_decontam_probes_via_broadcast(spark, sf_dir):
    """Decontamination's contract: the eval-gram set rides a
    BroadcastExchange and the corpus side is NEVER shuffled to meet
    it — at 100 TB the corpus-side shuffle would be the whole job."""
    plan = _formatted_plan(Q.QUERIES["pipeline_decontam"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only allowed corpus-side Exchange is the final per-doc
    # groupBy; the membership probe itself must be broadcast
    join_ix = plan.find("BroadcastHashJoin")
    assert join_ix != -1


def test_packing_is_single_shuffle(spark, sf_dir):
    """Sequence packing's contract: exactly ONE data shuffle (the
    shard key); the greedy fold happens inside each shard's task."""
    from pgloader_spark.operators.packing import pack_greedy
    from pgloader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    plan = _formatted_plan(pack_greedy(docs, "n_chars", budget=2048, n_shards=8))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan


def test_mix_to_target_quotas_ride_broadcast(spark, sf_dir):
    """Mixture sampling's contract: the quota table (strata-sized,
    tiny) joins via broadcast; the corpus-sized work is one window
    rank per stratum."""
    plan = _formatted_plan(Q.QUERIES["sample_mix_to_target"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "Window" in plan


def test_unigram_model_rides_broadcast(spark, sf_dir):
    """Unigram log-prob: the vocabulary-sized model must broadcast
    back onto the token stream (never shuffle the corpus on term for
    the probe side)."""
    plan = _formatted_plan(Q.QUERIES["text_unigram_logprob"](spark, sf_dir))
    assert "BroadcastExchange" in plan


def test_dup_spans_no_hot_key_fanout(spark, sf_dir):
    """Duplicated-span detection's contract: the frequency join keys
    on the window HASH where each probe row meets exactly ONE
    frequency row — so corpus-scale boilerplate costs its row count,
    never its square. Shuffles: window-hash agg, the join alignment,
    and the final per-doc agg; nothing else, and no cartesian."""
    plan = _formatted_plan(Q.QUERIES["dedup_dup_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, f"plan has {n_exchanges} exchanges:\n{plan}"


def test_live_db_reads_are_shuffle_free(spark):
    """The live source readers (MySQL/MSSQL pkey ranges, one task per
    range) must be a pure scan: range table -> mapInPandas, no
    Exchange anywhere — a 1000-executor cluster reads a source
    database as parallel range SELECTs with zero shuffle."""
    from tests.fixtures.mssql_stub import (
        MsSQLStubServer,
        MsStubColumn,
        MsStubTable,
    )
    from pgloader_spark.sources.mssql_live import read_mssql_table

    t = MsStubTable(
        name="t",
        columns=[
            MsStubColumn("id", "int", nullable=False),
            MsStubColumn("v", "nvarchar", char_max_len=20),
        ],
        rows=[(i, f"v{i}") for i in range(1, 51)],
        pkey=["id"],
    )
    with MsSQLStubServer("db", [t]) as srv:
        df = read_mssql_table(
            spark, f"mssql://sa@127.0.0.1:{srv.port}/db", "t",
            rows_per_range=10,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # one task per pkey range
        assert df.rdd.getNumPartitions() >= 1
        assert df.count() == 50


def test_semantic_dedup_single_cell_shuffle_blas_kernel(spark, sf_dir):
    """SemDeDup's contract: cell assignment is a literal-centroid map
    (no join, no shuffle — never an Exchange keyed on the embedding),
    the ONLY corpus-sized Exchange is the groupBy on the cell id, and
    the pair stage is the per-cell Arrow/BLAS kernel — the exploded
    pair table must never appear as a join in the plan."""
    plan = _formatted_plan(Q.QUERIES["dedup_semantic"](spark, sf_dir))
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "embedding" not in line, line
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan, "pair stage regressed to a self-join"
    # exactly one KEYED shuffle (the cell groupBy) — read_table's
    # widen=True adds a RoundRobin Exchange for the single-file
    # testdata, which never fires on real multi-file input
    n_keyed = plan.count("hashpartitioning")
    assert n_keyed == 1, f"expected 1 keyed shuffle (cell), plan has {n_keyed}"


def test_dsir_scoring_pass_is_pure_narrow(spark, sf_dir):
    """DSIR's r10 contract: the bounded 2xN-bucket log-ratio model is
    computed in Spark, collected once, and inlined as a literal
    micro-units array — so the SCORING pass (the plan of the returned
    frame) is a single narrow projection over the corpus: no join, no
    broadcast, no exchange at all.  The corpus is never shuffled on
    the gram string in the model pass either (it aggregates straight
    to n_buckets rows, map-side combinable)."""
    plan = _formatted_plan(Q.QUERIES["sample_dsir_weights"](spark, sf_dir))
    assert "Join" not in plan, "scoring regressed to a model join"
    assert "Exchange" not in plan, "scoring pass must be shuffle-free"
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "__g" not in line, f"corpus shuffled on gram string: {line}"


def test_quality_funnel_is_single_pass(spark, sf_dir):
    """Funnel contract: 5 reported stages never means 5 corpus scans —
    one window shuffle (the dedup hash) + the scalar aggregate."""
    plan = _formatted_plan(Q.QUERIES["pipeline_quality_funnel"](spark, sf_dir))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, f"expected 1 corpus scan, plan has {n_scans}"


def test_cosine_topk_shuffle_carries_candidates_not_corpus(spark, sf_dir):
    """BLAS top-k contract: the corpus is consumed by the Arrow batch
    matmul kernel; the only keyed shuffle is the q_id rank window over
    batch-local top-k candidates (Q*k rows per batch, never the
    corpus or its embeddings)."""
    plan = _formatted_plan(Q.QUERIES["similarity_cosine_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "q_id" in line and "embedding" not in line, line


def test_incremental_dedup_both_probes_are_semi_joins(spark, sf_dir):
    """Incremental dedup contract: the old corpus is consulted through
    LEFT SEMI joins only (digests + band buckets) — its text never
    crosses an exchange, so the incremental cost scales with the new
    batch, not the snapshot."""
    plan = _formatted_plan(Q.QUERIES["dedup_incremental"](spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            # shuffles carry join/group keys, never document text
            assert "text" not in line, line


def test_cluster_balanced_sample_single_window_shuffle(spark, sf_dir):
    """Cluster-balanced sampling contract: centroid assignment is a
    narrow literal expression; the ONLY exchange is the per-cell rank
    window (embeddings themselves never shuffle)."""
    plan = _formatted_plan(Q.QUERIES["sample_cluster_balanced"](spark, sf_dir))
    ex = [
        line
        for line in plan.splitlines()
        if "hashpartitioning" in line or "rangepartitioning" in line
    ]
    assert ex, "expected the window exchange"
    for line in ex:
        assert "cell" in line and "embedding" not in line, line


def test_bm25_broadcasts_only_model_sized_sides(spark, sf_dir):
    """BM25's forced broadcasts are all model-sized (query terms, the
    per-term df, the 1-row stats); the corpus-scaled tf and dl tables
    must stay unhinted so they can shuffle-partition at any volume."""
    df = Q.QUERIES["text_bm25_topk"](spark, sf_dir)
    logical = str(df._jdf.queryExecution().optimizedPlan())
    hinted = [l for l in logical.splitlines() if "ResolvedHint" in l]
    # qterms (x2: prune + score), qdf, stats — never tf/dl (hints on
    # LocalRelation sides may already be folded into join strategy)
    assert len(hinted) <= 4
    plan = _formatted_plan(df)
    # the ONLY nested-loop join is the 1-row (n_docs, avgdl) stats
    # attach (the sanctioned scalar cross-join, same shape as TF-IDF's
    # corpus-count broadcast); anything more means a corpus-scaled
    # side lost its equi-join key
    bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert bnlj <= 1
    assert "CartesianProduct" not in plan


def test_bm25_partition_invariance(spark):
    """Scores and ranks are independent of the input layout."""
    from pgloader_spark.operators import text as txt

    rows = [(i, f"alpha beta w{i % 7} w{i % 3} gamma") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(1, "alpha w2"), (2, "gamma w5")], "query_id long, query_text string"
    )
    base = sorted(
        map(tuple, txt.bm25_topk(docs, qdf, k=5).collect())
    )
    for n in (1, 7):
        again = sorted(
            map(tuple, txt.bm25_topk(docs.repartition(n), qdf, k=5).collect())
        )
        assert again == base


def test_corpus_stats_single_exchange(spark, sf_dir):
    """The corpus card is one map-side-combinable groupBy: exactly one
    shuffle of lang-keyed partial aggregates, no join, no broadcast."""
    df = Q.QUERIES["corpus_stats_report"](spark, sf_dir)
    plan = _formatted_plan(df)
    # two-phase multi-distinct agg (Expand) = exactly 2 exchanges;
    # no join anywhere
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Join" not in plan
