"""Driver-vs-distributed routing of the graph operators: solve on the
driver when the input fits, run the distributed fixpoint otherwise.
Every routed site reads its cut-off here, asks `forced`, and sizes and
fetches its input with one `capped_collect`.

The package reads exactly these six Spark-conf keys; every other
cut-off is a module constant next to its reader. Four hybrid-regime
operators (driver fast path vs distributed loop) read their row-count
cutoffs:

    spark.graft.transitiveClosure.localThreshold        (default 100k)
    spark.graft.propertyClosure.localThreshold          (default 2M)
    spark.graft.connectedComponents.localThreshold      (default 500k)
    spark.graft.unionElimination.localThreshold         (default 200k)

plus the byte-level driver guard of property_closure

    spark.graft.propertyClosure.driverMaxBytes          (default 256 MB)

and the driver regime of both entailments (operators/closure.py,
operators/delta_entail.py)

    spark.graft.deltaEntail.driverThreshold   (default 100k) rows up to
        which an entailment saturates on the driver in one collect:
        entail()'s pruned statements and class nodes, and a delta's
        saved rtc, links and pruned statements (each); 0 turns the
        driver regime off (entail() runs its hybrid path, entail_delta
        its distributed delta path)

A 0 in any of the transitiveClosure, unionElimination or
propertyClosure localThreshold keys, or
entail(property_local_threshold=0), also turns entail()'s driver
regime off (`forced`), so a caller that forces the distributed
fixpoints through these confs alone runs them. Both driver regimes
saturate property links only under property_closure's own guard
(propertyClosure localThreshold rows and driverMaxBytes); a larger base
runs the hybrid or distributed path.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (conf key, default) of each routed cut-off
TRANSITIVE_CLOSURE = ("spark.graft.transitiveClosure.localThreshold", 100_000)
PROPERTY_CLOSURE = ("spark.graft.propertyClosure.localThreshold", 2_000_000)
CONNECTED_COMPONENTS = ("spark.graft.connectedComponents.localThreshold", 500_000)
UNION_ELIMINATION = ("spark.graft.unionElimination.localThreshold", 200_000)
PROPERTY_MAX_BYTES = ("spark.graft.propertyClosure.driverMaxBytes", 256 << 20)
DRIVER_ENTAIL = ("spark.graft.deltaEntail.driverThreshold", 100_000)


def threshold(df, site: tuple[str, int], given: int | None = None) -> int:
    """`given` when the caller passed one, else the session conf's value
    of the site's key (of a DataFrame's or SparkSession's session), else
    its default: a 0 is a setting (it forces the distributed regime)."""
    if given is not None:
        return given
    key, default = site
    conf = getattr(df, "sparkSession", df).conf.get(key, None)
    return default if conf is None or conf == "" else int(conf)


def forced(spark, property_local_threshold: int | None) -> bool:
    """The caller forced entail()'s distributed fixpoints:
    property_local_threshold=0, or a 0 in any localThreshold key that
    entail() routes through."""
    return property_local_threshold == 0 or any(
        threshold(spark, site) == 0
        for site in (TRANSITIVE_CLOSURE, UNION_ELIMINATION, PROPERTY_CLOSURE)
    )


def capped_collect(
    frames: list[DataFrame],
    cap: int,
    max_bytes: int | None = None,
    guarded=None,
) -> list[list[tuple]] | None:
    """Each frame's rows as tuples, or None, and the caller runs its
    distributed path, when any frame holds more than `cap` rows; a cap
    of 0 runs no job. ONE tagged Arrow collect of the frames' union,
    limited to len(frames) * (cap + 1) rows: if a frame is over the cap,
    some frame arrives with more than cap rows (pigeonhole), so a
    corpus-sized frame never pays a full count or transfer.

    With max_bytes, an aggregate first counts each frame's rows and the
    string length of all their values, and refuses before any row
    reaches the driver when a frame is over the cap or all of them are
    over max_bytes; otherwise `guarded()` runs before the collect."""
    if not cap:
        return None
    names = [
        [f"_{i}_{j}" for j in range(len(df.columns))] for i, df in enumerate(frames)
    ]
    tagged = None
    for i, (df, cols) in enumerate(zip(frames, names)):
        part = df.toDF(*cols).select(F.lit(i).alias("_k"), *cols)
        tagged = part if tagged is None else tagged.unionByName(
            part, allowMissingColumns=True
        )
    if max_bytes is not None:
        size = sum(F.coalesce(F.length(c), F.lit(0)) for cols in names for c in cols)
        sizes = tagged.groupBy("_k").agg(
            F.count(F.lit(1)).alias("n"), F.sum(size).alias("b")
        ).collect()
        if any(r["n"] > cap for r in sizes) or sum(r["b"] or 0 for r in sizes) > max_bytes:
            return None
        if guarded is not None:
            guarded()
    got = tagged.limit(len(frames) * (cap + 1)).toArrow()
    out = []
    for i, cols in enumerate(names):
        part = got.filter(pc.equal(got.column("_k"), i))
        if part.num_rows > cap:
            return None
        out.append(list(zip(*(part.column(c).to_pylist() for c in cols))))
    return out


def upload(spark, rows, schema) -> DataFrame:
    """Driver-computed rows back as a frame, through pandas/Arrow: the
    plain-list createDataFrame pickles row by row (~10 s per million
    rows); Arrow batches cut that by an order of magnitude."""
    names = [f.name for f in schema.fields]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema=schema)
