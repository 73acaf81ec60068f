"""Stateful streaming tests: windowed rollups (batch + stream) and
cross-micro-batch state with applyInPandasWithState."""

from __future__ import annotations


def test_windowed_event_stats_stream(spark, tmp_path):
    from pgloader_spark.streaming.stateful import windowed_event_stats

    src = tmp_path / "win"
    src.mkdir()
    (src / "b1.csv").write_text(
        "2024-01-01 10:05:00,click,1.5\n2024-01-01 10:20:00,click,2.5\n"
        "2024-01-01 11:10:00,view,1.0\n"
    )
    stream = (
        spark.readStream.format("csv")
        .schema("ts timestamp, event_type string, value double")
        .load(str(src))
    )
    out = windowed_event_stats(stream, window="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("win_mem")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM win_mem ORDER BY window_start, event_type"
        ).collect()
        assert [(r["event_type"], r["n_events"], r["sum_value"]) for r in rows] == [
            ("click", 2, 4.0),
            ("view", 1, 1.0),
        ]
    finally:
        q.stop()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a streaming dedup query stopped after
    batch 1 and restarted from the SAME checkpoint processes only the
    new files — committed offsets are not replayed and the sink holds
    no duplicates (Structured Streaming's exactly-once file-source
    contract, which the curation pipeline leans on)."""
    src = tmp_path / "in_ck"
    out = tmp_path / "out_ck"
    ck = tmp_path / "ck_restart"
    src.mkdir()
    (src / "b1.csv").write_text("1,alpha\n2,beta\n2,beta\n")

    def start():
        stream = (
            spark.readStream.format("csv")
            .schema("doc_id long, text string")
            .load(str(src))
        )
        deduped = stream.dropDuplicates(["text"])
        return (
            deduped.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(str(out))
    assert first.count() == 2  # alpha + beta once

    # new file arrives while the query is DOWN; restart from checkpoint
    (src / "b2.csv").write_text("3,gamma\n1,alpha\n")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(str(out))
    texts = sorted(r["text"] for r in rows.collect())
    # batch 1 NOT replayed (offsets committed), gamma appended once,
    # and the cross-restart repeat of 'alpha' is deduped against the
    # RESTORED state store — dedup state survives the restart too
    assert texts.count("beta") == 1
    assert texts.count("gamma") == 1
    assert texts.count("alpha") == 1
    assert rows.count() == 3


def test_streaming_budget_admission_across_batches(spark, tmp_path):
    """The spent counter persists: batch 2 admissions start where
    batch 1 left off, and a doc that would cross the budget is
    rejected forever (no un-spend)."""
    from pgloader_spark.streaming.stateful import streaming_budget_admission

    src = tmp_path / "bin"
    src.mkdir()
    (src / "b1.csv").write_text("1,100\n2,200\n3,250\n")
    stream = (
        spark.readStream.format("csv")
        .schema("doc_id long, n_tokens long")
        .load(str(src))
    )
    out = streaming_budget_admission(stream, budget=500)
    q = (
        out.writeStream.format("memory")
        .queryName("budget_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 1: 100+200=300 fits; doc 3 (250) would cross 500 -> rejected
        (src / "b2.csv").write_text("4,150\n5,100\n6,50\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM budget_mem ORDER BY doc_id").collect()
        got = [(r.doc_id, r.cum_tokens) for r in rows]
        # batch 2 resumes at 300: 4 (150) -> 450; 5 (100) crosses -> reject;
        # 6 (50) -> 500 exact fit
        assert got == [(1, 100), (2, 300), (4, 450), (6, 500)]
    finally:
        q.stop()


def test_streaming_budget_admission_sharded_and_batch_mode(spark):
    from pgloader_spark.streaming.stateful import streaming_budget_admission

    df = spark.createDataFrame(
        [(1, 60, 0), (2, 60, 0), (3, 60, 1), (4, 60, 1), (5, 0, 1)],
        "doc_id long, n_tokens long, src long",
    )
    got = {
        (r.shard, r.doc_id): r.cum_tokens
        for r in streaming_budget_admission(
            df, budget=100, shard_col="src"
        ).collect()
    }
    # each shard has its own 100-token budget; zero-token docs never admit
    assert got == {(0, 1): 60, (1, 3): 60}


def test_streaming_pq_inference_with_frozen_codebooks(spark, tmp_path):
    """ANN inference on an unbounded stream: pq_encode is a stateless
    narrow stage, so a FROZEN codebook (trained offline on the corpus
    snapshot) encodes arriving vectors micro-batch by micro-batch —
    the embedding-side analogue of the frozen-BM25 / frozen-digest
    incremental shapes.  Codes must match the batch encode exactly."""
    import json

    import numpy as np

    from pgloader_spark.operators.similarity import pq_encode, pq_train

    rng = np.random.default_rng(21)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(80)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = pq_train(corpus, m=4, ks=8, sample_n=80, iters=3, dim=16)
    want = {r.vec_id: list(r.codes) for r in pq_encode(corpus, cbs).collect()}

    src = tmp_path / "vecs"
    src.mkdir()
    for part, lo in (("a", 0), ("b", 40)):
        with open(src / f"{part}.jsonl", "w") as fh:
            for i, v in rows[lo : lo + 40]:
                fh.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("vec_id long, embedding array<double>")
        .load(str(src))
    )
    q = (
        pq_encode(stream, cbs)
        .writeStream.format("memory")
        .queryName("pq_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "pqck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.vec_id: list(r.codes)
            for r in spark.sql("SELECT * FROM pq_stream").collect()
        }
        assert got == want
    finally:
        q.stop()


def test_streaming_budget_admission_survives_restart(spark, tmp_path):
    """The spent counter restores from the CHECKPOINT: a new query
    started on the same checkpoint after a stop resumes mid-budget —
    no re-admission, no budget reset."""
    from pgloader_spark.streaming.stateful import streaming_budget_admission

    src = tmp_path / "rin"
    out = tmp_path / "rout"
    src.mkdir()
    ck = str(tmp_path / "rck")

    def start():
        stream = (
            spark.readStream.format("csv")
            .schema("doc_id long, n_tokens long")
            .load(str(src))
        )
        return (
            streaming_budget_admission(stream, budget=300)
            .writeStream.format("parquet")  # memory sink can't recover
            .option("path", str(out))
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    (src / "b1.csv").write_text("1,200\n")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # query DOWN; new data arrives; restart from the same checkpoint
    (src / "b2.csv").write_text("2,150\n3,100\n")
    q2 = start()
    try:
        q2.processAllAvailable()
        rows = (
            spark.read.parquet(str(out)).orderBy("doc_id").collect()
        )
        got = [(r.doc_id, r.cum_tokens) for r in rows]
        # spent=200 restored: doc 2 (150) would cross 300 -> rejected;
        # doc 3 (100) fits exactly
        assert got == [(1, 200), (3, 300)]
    finally:
        q2.stop()
