"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per
executor; on a real cluster the same builder is driven by
``spark-submit --py-files`` with executor counts N / 4N (the scaling
protocol in BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kbase_cdm_ontologies_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on (runtime coalesce + skew-join splitting) — the skew story
      for hub entities (reference analog: NCBITaxon >2M terms,
      reference README.md:104) is AQE plus map-side combining in the CC
      rounds and broadcast dimension sides in the linking joins.
    - Arrow on — every pandas UDF crosses the JVM/Python boundary in
      columnar batches (input_hint: "no per-row Python").
    - UTC session timezone so DuckDB-oracle comparisons are stable.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    if shuffle_partitions is None:
        # match local core count; a real cluster sizes this to
        # executors*cores (set via spark-submit --conf).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # iterative union plans (semi-naive closure/CC rounds) both
        # trip a Catalyst Union.rewriteConstraints NoSuchElementException
        # on lazily-checkpointed children and pay an optimizer cost that
        # grows with union depth; disabling constraint propagation is
        # the standard setting for iterative Spark graph algorithms
        # (it only disables inferred IsNotNull/redundant-filter rules).
        # Scan-side cost measured ~nil: the 27-query sf0.1 headline
        # total is inside the host-noise band with the flag on vs off
        # (25.03 s off vs 25.83 s on, same-session A/B — BENCH.md §3a),
        # so it stays off engine-wide rather than scoped per-operator.
        # SPARK_GRAFT_CONSTRAINT_PROP=true overrides for A/B
        # measurement.
        .config(
            "spark.sql.constraintPropagation.enabled",
            os.environ.get("SPARK_GRAFT_CONSTRAINT_PROP", "false"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kg_spark_warehouse"),
        )
    )
    # generic conf passthrough for A/B experiments and cluster retunes
    # without code edits: SPARK_GRAFT_CONF="k=v;k=v" (applied before
    # extra_conf so programmatic callers win)
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
