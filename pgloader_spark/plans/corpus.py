"""Corpus snapshot audit: what moved between two curated snapshots.

``snapshot_diff`` is the per-document delta report an incremental
curation run publishes next to its output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Corpus version delta: (id, status) with status in
    added / removed / changed / unchanged — the audit report every
    incremental pipeline run publishes next to its curated output
    (what moved between snapshot N and N+1, per document).

    Scale shape: each side reduces to (id, md5(content)) BEFORE the
    join, so wide text never crosses the shuffle; one full-outer
    equi-join on the id (AQE broadcasts a small side, shuffle-joins
    otherwise) and a narrow CASE — no window, no collect."""
    o = old.select(
        F.col(id_col), F.md5(F.col(content_col)).alias("__old_h")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(content_col)).alias("__new_h")
    )
    status = (
        F.when(F.col("__old_h").isNull(), "added")
        .when(F.col("__new_h").isNull(), "removed")
        .when(F.col("__old_h") == F.col("__new_h"), "unchanged")
        .otherwise("changed")
    )
    return o.join(n, id_col, "full_outer").select(
        id_col, status.alias("status")
    )
