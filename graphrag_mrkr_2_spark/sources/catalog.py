"""Snapshot catalog: checkpointed, resumable stage tables with lineage.

The north rule requires each pipeline stage to write "checkpointed Iceberg
snapshots carrying per-partition lineage and triple-count metrics so any
stage resumes idempotently". This container has no Iceberg runtime jar (no
network), so this module provides the same contract on plain parquet:

- every write creates an immutable ``snapshot-<n>`` directory (data never
  rewritten in place);
- a ``manifest.json`` per snapshot records: snapshot id, parent id, the
  caller's input fingerprint (lineage), row count, per-file row counts,
  arbitrary stage metrics (e.g. triple_count), schema, timestamp;
- commits are atomic: data + manifest are fully written before the
  ``_current`` pointer file is atomically renamed into place — a killed job
  leaves the previous snapshot live (Iceberg's swap-pointer semantics);
- time travel: ``read(name, snapshot=k)``;
- resume: ``materialize`` skips recompute when a committed snapshot already
  exists for the same input fingerprint.

On a cluster with the Iceberg runtime, ``SnapshotCatalog`` is replaced by
``df.writeTo(table).overwritePartitions()`` plus snapshot summary properties
— the call sites (plans/pipeline.py) are the seam.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- internals ----------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_current")

    def current_snapshot(self, name: str) -> dict | None:
        ptr = self._pointer_path(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snap_dir = f.read().strip()
        manifest = os.path.join(self._table_dir(name), snap_dir, "manifest.json")
        if not os.path.exists(manifest):
            return None
        with open(manifest) as f:
            return json.load(f)

    def history(self, name: str) -> list[dict]:
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        out = []
        for d in sorted(os.listdir(tdir)):
            m = os.path.join(tdir, d, "manifest.json")
            if os.path.exists(m):
                with open(m) as f:
                    out.append(json.load(f))
        return out

    # -- write path ---------------------------------------------------------

    def write(
        self,
        name: str,
        df: DataFrame,
        metrics: dict | None = None,
        input_fingerprint: str | None = None,
        partition_by: str | None = None,
    ) -> dict:
        """Commit a new snapshot of ``name`` from ``df``. Returns manifest."""
        parent = self.current_snapshot(name)
        # allocate from HISTORY, not the pointer: a write killed between
        # manifest write and pointer swap leaves an orphan manifest, and a
        # pointer-based retry would reuse its id — making time travel
        # ambiguous (two dirs, same snapshot_id, random-uuid ordering)
        prior = self.history(name)
        snap_id = (max(m["snapshot_id"] for m in prior) + 1) if prior else 0
        snap_dir = f"snapshot-{snap_id:05d}-{uuid.uuid4().hex[:8]}"
        tdir = self._table_dir(name)
        data_dir = os.path.join(tdir, snap_dir, "data")
        os.makedirs(os.path.join(tdir, snap_dir), exist_ok=True)

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(data_dir)

        # lineage: row counts of the committed part files, one entry per
        # file in path order, from the parquet footers (no Spark job);
        # partition_by subdirectories count too
        files = sorted(
            os.path.join(d, f) for d, _, names in os.walk(data_dir) for f in names
            if f.endswith(".parquet")
        )
        per_part = [
            {"partition_id": i, "rows": pq.read_metadata(f).num_rows} for i, f in enumerate(files)
        ]
        row_count = sum(p["rows"] for p in per_part)

        manifest = {
            "table": name,
            "snapshot_id": snap_id,
            "snapshot_dir": snap_dir,
            "parent_id": parent["snapshot_id"] if parent else None,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "input_fingerprint": input_fingerprint,
            "row_count": row_count,
            "partition_counts": per_part,
            "metrics": metrics or {},
            "schema": self.spark.read.parquet(data_dir).schema.jsonValue(),
        }
        with open(os.path.join(tdir, snap_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)

        # atomic pointer swap (rename is atomic on POSIX)
        tmp_ptr = self._pointer_path(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_ptr, "w") as f:
            f.write(snap_dir)
        os.replace(tmp_ptr, self._pointer_path(name))
        return manifest

    # -- read path -----------------------------------------------------------

    def read(
        self,
        name: str,
        snapshot: int | None = None,
        with_current_schema: bool = False,
    ) -> DataFrame:
        """Read a snapshot (current by default; ``snapshot=k`` time-travels).

        ``with_current_schema=True`` = Iceberg-style schema evolution on
        read: an OLD snapshot written before columns were added comes back
        conformed to the CURRENT manifest schema — missing columns as typed
        NULLs, extra columns projected in current order. Partitioned
        snapshots (write(partition_by=...)) prune on read: a filter on the
        partition column reaches the scan as a PartitionFilter
        (test_catalog pins this via explain)."""
        cur = self.current_snapshot(name)
        if snapshot is None:
            if cur is None:
                raise FileNotFoundError(f"no committed snapshot for table '{name}'")
            snap_dir = cur["snapshot_dir"]
        else:
            matches = [m for m in self.history(name) if m["snapshot_id"] == snapshot]
            if not matches:
                raise FileNotFoundError(f"table '{name}' has no snapshot {snapshot}")
            snap_dir = matches[-1]["snapshot_dir"]
        df = self.spark.read.parquet(
            os.path.join(self._table_dir(name), snap_dir, "data")
        )
        if with_current_schema:
            from pyspark.sql.types import StructType

            if cur is None:
                raise FileNotFoundError(
                    f"table '{name}' has no current snapshot to conform to "
                    "(pointer missing — recommit or read without "
                    "with_current_schema)"
                )
            target = StructType.fromJson(cur["schema"])
            # try_cast, not cast: under ANSI mode a plain cast THROWS on a
            # non-promotable value mid-job; Iceberg-style evolution-on-read
            # nulls what cannot promote instead
            cols = [
                F.col(f.name).try_cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
            df = df.select(*cols)
        return df

    def exists(self, name: str) -> bool:
        return self.current_snapshot(name) is not None

    # -- resume -------------------------------------------------------------

    def materialize(self, name: str, df_fn, input_fingerprint: str) -> DataFrame:
        """Compute-or-reuse: if the current snapshot was produced from the
        same input fingerprint, read it (stage skip); else run ``df_fn()``
        and commit. This is the kill-and-resume primitive: a re-run after a
        crash recomputes only stages whose snapshot is missing or stale."""
        cur = self.current_snapshot(name)
        if cur is not None and cur.get("input_fingerprint") == input_fingerprint:
            return self.read(name)
        self.write(name, df_fn(), input_fingerprint=input_fingerprint)
        return self.read(name)
