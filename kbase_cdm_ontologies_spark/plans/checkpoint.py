"""M8 — per-stage checkpoint manifest: resume + per-partition lineage.

Spark re-expression of the reference's checksum-based memoization
(scripts/version_tracker.py:86-138 — skip download unless checksum/URL
changed; scripts/create_pseudo_base_ontology.py:92-95 — skip if output
exists). A stage re-runs iff (code_hash, input_fingerprint) differ from
the recorded manifest or its output table is missing; otherwise the
committed table is read back with its recorded schema (no inference
job; an entry with none is stale). The manifest also records
per-partition row counts (north rule: "resumable from checkpoint with
per-partition lineage + metrics"): a partition is a write task's
part-NNNNN files, counted from their parquet footers, so a commit
runs no Spark job beyond its write.

The manifest is plain JSON next to the output tables; on a cluster it
would live beside the Iceberg catalog (snapshot ids instead of dir
paths) — the structure is identical.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.tables import current_snapshot, read_table, write_table


def code_hash(*objs) -> str:
    """sha256 over the source of the functions/modules implementing a
    stage (reference analog: file checksums, version_tracker.py:14-20)."""
    h = hashlib.sha256()
    for o in objs:
        if isinstance(o, str):
            h.update(o.encode())
        else:
            h.update(inspect.getsource(o).encode())
    return h.hexdigest()


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.json")
        self.manifest: dict = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
        self.stages_run: list[str] = []
        self.stages_skipped: list[str] = []

    def _save(self) -> None:
        with open(self.manifest_path, "w") as f:
            json.dump(self.manifest, f, indent=2, sort_keys=True)

    def stage(
        self,
        name: str,
        inputs_fingerprint: str,
        stage_code_hash: str,
        compute: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        metrics_fn: Callable[[], dict] | None = None,
    ) -> DataFrame:
        out_path = os.path.join(self.root, name)
        entry = self.manifest.get(name)
        if (
            entry
            and entry["code_hash"] == stage_code_hash
            and entry["inputs_fingerprint"] == inputs_fingerprint
            # an entry with no recorded schema is stale: re-run it
            and "schema" in entry
            and os.path.exists(out_path)
            and self._snapshot_valid(entry, out_path)
        ):
            self.stages_skipped.append(name)
            return read_table(
                self.spark, out_path, StructType.fromJson(entry["schema"])
            )

        df = compute()
        snap = write_table(df, out_path, partition_by=partition_by)
        # the schema a parquet read gives back: partition columns last
        parts = partition_by or []
        schema = StructType([f for f in df.schema if f.name not in parts]
                            + [df.schema[c] for c in parts])
        # rows per write task from its part files' footers: no read job
        part_counts: dict[str, int] = {}
        for d, _dirs, files in os.walk(out_path):
            for f in files:
                if f.startswith("part-"):
                    task = str(int(f.split("-")[1]))
                    rows = pq.read_metadata(os.path.join(d, f)).num_rows
                    part_counts[task] = part_counts.get(task, 0) + rows
        self.manifest[name] = {
            "code_hash": stage_code_hash,
            "inputs_fingerprint": inputs_fingerprint,
            "output": out_path,
            "row_count": sum(part_counts.values()),
            "partition_rows": part_counts,
            "schema": schema.jsonValue(),
            # snapshot-id lineage (Iceberg semantics; fallback commit
            # log when no catalog): resume re-validates the content sha
            # so an out-of-band rewrite of the table forces a re-run
            "snapshot_id": snap["snapshot_id"] if snap else None,
            "snapshot_sha": snap["content_sha"] if snap else None,
        }
        if metrics_fn is not None:
            # operator-reported metrics (e.g. closure.phase_walls():
            # the entailment phase breakdown) — recorded so a cluster
            # operator reads per-phase walls from the manifest instead
            # of re-running with debug env flags
            m = metrics_fn()
            if m:
                self.manifest[name]["metrics"] = m
        self._save()
        self.stages_run.append(name)
        return read_table(self.spark, out_path, schema)

    @staticmethod
    def _snapshot_valid(entry: dict, out_path: str) -> bool:
        recorded = entry.get("snapshot_sha")
        if recorded is None:
            # None is only written for live-catalog (Iceberg) tables,
            # whose snapshots the catalog itself validates. A fallback
            # table with a sibling commit log but no recorded sha is a
            # stale/legacy manifest — force a re-run rather than trust it
            return current_snapshot(out_path) is None
        snap = current_snapshot(out_path)
        if snap is None or snap["content_sha"] != recorded:
            return False
        # the log matching is necessary but not sufficient: recompute
        # the data-file fingerprint so an out-of-band rewrite that
        # bypassed write_table (and thus the log) is also caught
        from ..sources.tables import _table_content_sha

        return _table_content_sha(out_path) == recorded

    def metrics_df(self) -> "DataFrame":
        """Per-partition lineage metrics as a queryable DataFrame:
        (stage, partition_id, rows, code_hash, inputs_fingerprint);
        partition_id is the write task of the stage's part files."""
        rows = []
        for stage, e in sorted(self.manifest.items()):
            for pid, n in e.get("partition_rows", {}).items():
                rows.append(
                    (stage, int(pid), int(n), e["code_hash"], e["inputs_fingerprint"])
                )
        return self.spark.createDataFrame(
            rows,
            "stage string, partition_id int, rows long, code_hash string, "
            "inputs_fingerprint string",
        )

    def fingerprint_of(self, *stage_names: str) -> str:
        """Chain fingerprints: a stage's input fingerprint is derived
        from its upstream manifest entries (lineage)."""
        h = hashlib.sha256()
        for n in stage_names:
            e = self.manifest.get(n, {})
            h.update(json.dumps(e, sort_keys=True).encode())
        return h.hexdigest()
