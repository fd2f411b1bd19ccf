"""Engine-level runtime configuration helpers.

Every hybrid-regime operator (driver fast path vs distributed loop)
reads its row-count cutoff from one Spark-conf namespace so cluster
operators can retune the routing without code changes:

    spark.graft.transitiveClosure.localThreshold        (default 100k)
    spark.graft.keyedTransitiveClosure.localThreshold   (default 20k)
    spark.graft.propertyClosure.localThreshold          (default 2M)
    spark.graft.connectedComponents.localThreshold      (default 500k)
    spark.graft.unionElimination.localThreshold         (default 200k)

plus the byte-level driver guard
``spark.graft.propertyClosure.driverMaxBytes`` (default 256 MB), and
two keys of the delta entailment (operators/delta_entail.py):

    spark.graft.deltaEntail.driverThreshold   (default 100k) saved-state
        rows (rtc, links, pruned statements, each) up to which a delta
        re-saturates on the driver; 0 forces the distributed delta path
    spark.graft.deltaEntail.coneKeyCap        (default 2M) cone keys up
        to which the distributed delta path broadcasts its cone scan
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def conf_threshold(df, key: str, default: int) -> int:
    """Read an integer threshold from the session conf, falling back to
    the operator's default when unset or empty. A value of 0 is a
    meaningful setting (it forces the distributed regime), so only
    None/empty fall through to the default. Accepts a DataFrame or a
    SparkSession."""
    spark = getattr(df, "sparkSession", df)
    conf = spark.conf.get(key, None)
    if conf is None or conf == "":
        return default
    return int(conf)
