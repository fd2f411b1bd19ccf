"""Engine-level runtime configuration helpers.

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
regime off, so a caller that forces the distributed fixpoints through
these confs alone runs them. Both driver regimes saturate property
links only under property_closure's own guard (propertyClosure
localThreshold rows and driverMaxBytes); a larger base runs the hybrid
or distributed path.
"""

from __future__ import annotations


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
