"""As-of join — Spark has no native one (pyspark guide: compose from
equi-join + window, or merge_asof per group). This is the DataFrame
composition: equi-join on the key, filter to right.ts <= left.ts,
keep the latest right row per left row via one window.

Works at scale when the per-key right-side history is bounded (orders
per customer, quotes per symbol): the pre-window fan-out is every
right row of the key on the matching side of left_ts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    right_ts <= left_ts (direction='backward'; 'forward' = smallest
    right_ts >= left_ts). Left rows with no match keep nulls.

    Left cardinality is preserved exactly (pandas merge_asof / DuckDB
    ASOF semantics): the dedup window partitions by a per-row id, not
    by the left columns, so fully identical left rows each keep their
    own match row."""
    lcols = list(left.columns)
    # pin the non-deterministic ids: a stage retry / speculative re-run
    # after the join shuffle would otherwise regenerate different ids
    # and duplicate or drop left rows
    l = left.withColumn("_lrow", F.monotonically_increasing_id()).localCheckpoint(
        eager=False
    )
    r = right.select(
        F.col(key).alias("_k"), *[c for c in right.columns if c != key]
    )
    if direction == "backward":
        cond = F.col(right_ts) <= F.col(left_ts)
        order = F.desc(right_ts)
    else:
        cond = F.col(right_ts) >= F.col(left_ts)
        order = F.asc(right_ts)
    joined = l.join(r, (l[key] == r["_k"]) & cond, "left").drop("_k")
    w = Window.partitionBy("_lrow").orderBy(order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_lrow")
    )

