"""Explicit skew handling: a salted join for hub-dominated keys.

AQE's skew-join splitting (on in session.py) handles sort-merge skew at
runtime; `salted_join` is the explicit form (north rule: "salted,
skew-aware joins") for joining a fact table against a key whose
distribution is dominated by hub entities (NCBITaxon-style terms —
reference README.md:104 — or a viral boilerplate alias): it replicates
the small side R ways and scatters the big side's hot keys across R
shuffle partitions. No query or pipeline stage calls it yet; the
broadcast threshold below is what the run paths use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Upper bound for an explicit broadcast hint: ~5M short-string rows is
# on the order of a few hundred MB serialized — comfortably inside a
# driver/executor at typical cluster memory, and far below the sizes an
# entity-linking canonical map or web-corpus vocabulary reaches (1e8+).
BROADCAST_MAX_ROWS = 5_000_000


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join big⋈small on `key` with the big side salted.

    big gets a random-but-deterministic salt in [0, R) (hash of its
    other columns — no rand(), keeps reruns identical); small is
    replicated R times. The shuffle key becomes (key, salt), so a hub
    key spreads over R partitions instead of one straggler task.
    """
    other_cols = [c for c in big.columns if c != key]
    salt = (
        F.abs(F.hash(*[F.col(c) for c in other_cols]) % salt_buckets)
        if other_cols
        else F.abs(F.hash(F.col(key)) % salt_buckets)
    )
    b = big.withColumn("_salt", salt.cast("int"))
    s = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(salt_buckets).select(
                F.col("id").cast("int").alias("_salt")
            )
        )
    )
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")

