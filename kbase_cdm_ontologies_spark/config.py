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
two keys of the entailment regimes (operators/closure.py,
operators/delta_entail.py):

    spark.graft.deltaEntail.driverThreshold   (default 100k) rows up to
        which an entailment saturates on the driver in one collect:
        entail()'s pruned statements and class nodes, and a delta's
        saved rtc, links and pruned statements (each); 0 turns the
        driver regime off (entail() runs its hybrid path, entail_delta
        its distributed delta path)
    spark.graft.deltaEntail.coneKeyCap        (default 2M) cone keys up
        to which the distributed delta path broadcasts its cone scan

A 0 in any of the transitiveClosure, keyedTransitiveClosure,
unionElimination or propertyClosure localThreshold keys, or
entail(property_local_threshold=0), also turns entail()'s driver
regime off, so a caller that forces the distributed fixpoints through
these confs alone runs them. Both driver regimes saturate property
links only under property_closure's own guard (propertyClosure
localThreshold rows and driverMaxBytes); a larger base runs the hybrid
or distributed path.
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
