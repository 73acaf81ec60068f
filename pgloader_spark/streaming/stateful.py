"""Stateful streaming operators.

The reference's only stream is stateless regex routing
(``src/sources/syslog.lisp``). These are the stateful extensions the
Spark substrate provides (SURVEY §2.11 "watermark/window support
comes free"), each with identical semantics on bounded input:

- ``windowed_event_stats``: tumbling-window per-key rollups with a
  watermark bounding lateness.
- ``streaming_budget_admission``: a custom stateful operator via
  ``applyInPandasWithState`` — a per-shard running token budget that
  survives across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def windowed_event_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-key aggregates with bounded lateness.

    The canonical streaming rollup: watermark admits late events up to
    ``watermark`` then finalizes the window (append-mode emittable);
    identical semantics on batch input (window() works unwatermarked).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


BUDGET_STATE = T.StructType([T.StructField("spent", T.LongType())])
BUDGET_OUT = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("cum_tokens", T.LongType()),
    ]
)


def _make_budget_update(budget: int):
    def update(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415

        (spent,) = state.get if state.exists else (0,)
        out_ids, out_tok, out_cum = [], [], []
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                zip(pdf["doc_id"].tolist(), pdf["n_tokens"].tolist())
            )
        rows.sort()  # deterministic within-batch admission order (by id)
        for did, t in rows:
            t = int(t)
            if t <= 0:
                continue  # zero/negative-token docs buy nothing
            if spent + t > budget:
                continue  # rejected; budget never un-spends
            spent += t
            out_ids.append(did)
            out_tok.append(t)
            out_cum.append(spent)
        state.update((spent,))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(out_ids),
                "doc_id": out_ids,
                "n_tokens": out_tok,
                "cum_tokens": out_cum,
            }
        )

    return update


def streaming_budget_admission(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col=None,
) -> DataFrame:
    """Budget-capped ADMISSION over an unbounded document stream: each
    shard admits arriving documents while its running token total
    stays within ``budget``, then rejects forever — the streaming
    complement of ``sampling.token_budget_take`` (which ranks a
    bounded corpus by quality; an ingest stream has no global rank,
    only arrival order, so the contract here is first-come
    first-admitted with per-micro-batch id-order determinism).

    State is one long per shard (the checkpointed spent counter), so
    restarts resume exactly.  ``shard_col`` partitions the budget:
    every shard gets ``budget`` tokens and its own state row — the
    standard way to parallelize an admission cap (a single global
    budget is a single state key, i.e. a serial commit point — pass
    ``F.lit(0)`` only when that is the intent).

    Emits admitted rows only: (shard, doc_id, n_tokens, cum_tokens).
    On bounded input (applyInPandasWithState is streaming-only) the
    same semantics run as a per-shard cumulative window — one batch =
    the whole df, identical admissions (pinned by test).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from pyspark.sql.streaming.state import GroupStateTimeout

    shard = (
        F.lit(0).cast("long") if shard_col is None else F.col(shard_col).cast("long")
    )
    src = docs.select(
        shard.alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    if not docs.isStreaming:
        base = src.filter(F.col("n_tokens") > 0)
        # greedy admission is not a plain cumsum prefix (a rejected
        # doc's tokens never spend), so fold each shard's rows in one
        # pandas group — admission is inherently serial per shard
        import pandas as pd  # noqa: PLC0415

        def admit(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values("doc_id")
            spent = 0
            keep_rows = []
            for did, t in zip(pdf["doc_id"], pdf["n_tokens"]):
                t = int(t)
                if spent + t > budget:
                    continue
                spent += t
                keep_rows.append((int(pdf["shard"].iloc[0]), int(did), t, spent))
            return pd.DataFrame(
                keep_rows, columns=["shard", "doc_id", "n_tokens", "cum_tokens"]
            )

        return base.groupBy("shard").applyInPandas(
            admit, "shard long, doc_id long, n_tokens long, cum_tokens long"
        )
    return src.groupBy("shard").applyInPandasWithState(
        _make_budget_update(budget),
        outputStructType=BUDGET_OUT,
        stateStructType=BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
