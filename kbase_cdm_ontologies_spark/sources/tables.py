"""Table IO: Iceberg when a catalog is configured, Parquet otherwise.

The reference persists every stage as files on disk (OWL / TSV / SQLite /
Parquet — reference scripts/create_parquet_files.py:62-99). The engine's
stage boundary is a table commit: ``write_table`` targets an Iceberg
catalog when one is on the classpath (production: 10^12-doc pages table,
partitioned), and falls back to plain Parquet directories. Either way
readers see one API and every commit yields a SNAPSHOT record
(monotonic id + content fingerprint + parent id) that checkpoint
lineage stores and resume validates.

Iceberg status in this sandbox: the image ships no iceberg-spark
runtime jar, no pyiceberg, and has no network/pip access to vendor one
(verified: `find / -name '*iceberg*'` empty, pyspark/jars has no
extension jars). The fallback therefore emulates the metadata layer
(commit log in a sibling `<path>.snapshots.json`, untouched by the
overwrite of the data directory) with the same record shape Iceberg's
snapshot log would supply, so swapping the catalog in changes no
call sites.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.spark_catalog", None)) and (
            "iceberg" in str(spark.conf.get("spark.sql.catalog.spark_catalog"))
        )
    except Exception:
        return False


def _snapshot_log_path(path: str) -> str:
    return path.rstrip("/") + ".snapshots.json"


def _table_content_sha(path: str) -> str:
    """Fingerprint of the committed data files (relative name + size +
    sampled content: sha256 of the first and last 64 KiB of each file),
    the fallback analog of an Iceberg manifest list. The content sample
    catches out-of-band rewrites that preserve file names and sizes
    (which a size-only fingerprint would miss) without re-reading whole
    tables on every resume; mtime is deliberately excluded — it changes
    on touch without a content change."""
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            fp = os.path.join(root, f)
            size = os.path.getsize(fp)
            h = hashlib.sha256()
            with open(fp, "rb") as fh:
                h.update(fh.read(65536))
                if size > 131072:
                    fh.seek(-65536, os.SEEK_END)
                h.update(fh.read(65536))
            entries.append((os.path.relpath(fp, path), size, h.hexdigest()))
    entries.sort()
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()


def current_snapshot(path_or_name: str) -> dict | None:
    """Latest committed snapshot record of a fallback table (None when
    the table was never committed through write_table)."""
    lp = _snapshot_log_path(path_or_name)
    if not os.path.exists(lp):
        return None
    with open(lp) as f:
        log = json.load(f)
    return log[-1] if log else None


def snapshot_log(path_or_name: str) -> list[dict]:
    lp = _snapshot_log_path(path_or_name)
    if not os.path.exists(lp):
        return []
    with open(lp) as f:
        return json.load(f)


def _commit_snapshot(path: str, mode: str) -> dict:
    log = snapshot_log(path)
    snap = {
        "snapshot_id": (log[-1]["snapshot_id"] + 1) if log else 1,
        "parent_id": log[-1]["snapshot_id"] if log else None,
        "operation": mode,
        "content_sha": _table_content_sha(path),
    }
    log.append(snap)
    with open(_snapshot_log_path(path), "w") as f:
        json.dump(log, f, indent=1)
    return snap


def write_table(
    df: DataFrame,
    path_or_name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict | None:
    """Write a stage output table; returns the committed snapshot
    record ({snapshot_id, parent_id, operation, content_sha}).

    At 100 TB the pages table is partitioned by a url-hash bucket (and
    optionally warc_ts date) so downstream per-url joins co-locate;
    small dimension tables (alias, prefix) are written unpartitioned and
    broadcast on read.
    """
    spark = df.sparkSession
    if _iceberg_available(spark) and "/" not in path_or_name:
        writer = df.writeTo(path_or_name)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        # with a live catalog the id would come from the table's
        # .snapshots metadata table; unreachable in this image (no jar)
        return None
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path_or_name)
    return _commit_snapshot(path_or_name, mode)


def read_table(
    spark: SparkSession, path_or_name: str, schema: StructType | None = None
) -> DataFrame:
    """A committed table. With `schema` (a parquet table's recorded
    schema) the read infers nothing and so runs no Spark job."""
    if _iceberg_available(spark) and "/" not in path_or_name:
        return spark.read.table(path_or_name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path_or_name)
