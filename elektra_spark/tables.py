"""Snapshot-versioned local table catalog — the engine's Iceberg stand-in.

The production engine keeps all mutable state (the ``edges`` table, per-superstep
``labels``/``ranks`` checkpoints with their lineage and metrics as commit
metadata) in Iceberg tables and applies batch edge updates as ``MERGE INTO``
deltas (SURVEY.md §1.5, §7.5;
reference semantics: ``InsertIntoEdgeTable``/``DeleteFromEdgeTable``,
elektra connectivity.h:425-448). This sandbox ships no Iceberg runtime jar, so
this module provides the minimal subset of table-format semantics the engine
relies on, implemented as immutable parquet snapshots with an atomically-swapped
JSON manifest:

- **ACID-ish commits**: each write lands in a fresh ``v_<n>/`` directory; the
  manifest file is replaced with ``os.replace`` (atomic on POSIX), so readers
  always see a complete snapshot and a crashed writer leaves the previous
  version intact — the property checkpoint/resume (M5) depends on.
- **MERGE semantics**: ``merge_insert`` (WHEN NOT MATCHED THEN INSERT),
  ``merge_delete`` (WHEN MATCHED THEN DELETE) and ``upsert`` are computed as
  anti/semi joins and committed as a new snapshot — the same logical plan an
  Iceberg copy-on-write MERGE produces.
- **Time travel**: ``read(version=...)`` + ``history()``.
- **Commit metadata**: each snapshot's manifest entry records the table
  schema and every new data file's row count, read from the parquet footers
  on the driver (Iceberg's per-file ``record_count``). A commit is one Spark
  job, the write; reads use the recorded schema instead of an inference
  job. Checkpoint lineage is derived from these counts, and frontier metrics
  are metadata rows added to a manifest by ``annotate`` — neither is a
  table of its own. Manifests without a recorded schema (written by older
  versions) still read, by inference.

At 100 TB these operations are exactly Iceberg's, and
:func:`elektra_spark.session.iceberg_configs` flips state storage to a real
Iceberg catalog; nothing above this module changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footers(snap_dir: str) -> tuple[list[tuple[str, int]], StructType | None]:
    """(file name, row count) per data file of a freshly written snapshot,
    in file-name order, and the Spark schema the writer stored in the first
    footer — read on the driver, no Spark job."""
    import pyarrow.parquet as pq

    files, schema = [], None
    for fname in sorted(os.listdir(snap_dir)):
        if not fname.startswith("part-"):
            continue
        meta = pq.read_metadata(os.path.join(snap_dir, fname))
        files.append((fname, meta.num_rows))
        if schema is None and _SPARK_SCHEMA_KEY in (meta.metadata or {}):
            schema = StructType.fromJson(json.loads(meta.metadata[_SPARK_SCHEMA_KEY]))
    return files, schema


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the schema
    Spark's parquet inference reports."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


@dataclass
class SnapshotInfo:
    version: int
    path: str
    committed_at: float
    operation: str
    rows: int | None


class SnapshotCatalog:
    """A directory of snapshot-versioned tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- paths -----------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_manifest.json")

    def _load_manifest(self, name: str) -> dict:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return {"current": None, "snapshots": []}
        with open(mp) as f:
            return json.load(f)

    # ---- core commit protocol --------------------------------------------
    def _commit(
        self,
        name: str,
        df: DataFrame,
        operation: str,
        base_paths: list[str] | None = None,
        schema: StructType | None = None,
        summary: dict | None = None,
    ) -> SnapshotInfo:
        """Write df as the next snapshot and atomically swap the manifest.

        ``base_paths``: existing snapshot directories carried forward into the
        new snapshot's file set (fast-append — the Iceberg append pattern:
        commit only the delta files, the manifest lists the full file set per
        snapshot instead of rewriting the table).

        The write is the commit's only Spark job. The manifest entry records
        the table schema (``schema``, else the written one) and each new
        data file's row count, both read from the parquet footers on the
        driver — Iceberg's per-file ``record_count`` — so reads skip schema
        inference and lineage needs no scan. ``summary`` is free-form
        snapshot metadata (Iceberg's snapshot summary).
        """
        man = self._load_manifest(name)
        version = (man["current"] or 0) + 1
        snap_dir = os.path.join(self._table_dir(name), f"v_{version}")
        df.write.mode("overwrite").parquet(snap_dir)
        files, written = _footers(snap_dir)
        schema = schema or written
        info = SnapshotInfo(version, snap_dir, time.time(), operation, sum(n for _, n in files))
        entry = {
            "version": version,
            "path": snap_dir,
            "paths": (base_paths or []) + [snap_dir],
            "committed_at": info.committed_at,
            "operation": operation,
            "files": [{"file": f, "rows": n} for f, n in files],
        }
        if schema is not None:
            entry["schema"] = _nullable(schema).jsonValue()
        if summary:
            entry["summary"] = summary
        man["snapshots"].append(entry)
        man["current"] = version
        self._swap_manifest(name, man)
        return info

    def _swap_manifest(self, name: str, man: dict) -> None:
        tmp = self._manifest_path(name) + ".tmp"
        os.makedirs(self._table_dir(name), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(name))  # atomic commit point

    def _snapshot(self, name: str, version: int | None = None) -> dict:
        man = self._load_manifest(name)
        if man["current"] is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        version = version or man["current"]
        return next(s for s in man["snapshots"] if s["version"] == version)

    # ---- public API --------------------------------------------------------
    def exists(self, name: str) -> bool:
        return self._load_manifest(name)["current"] is not None

    def write(
        self, name: str, df: DataFrame, operation: str = "overwrite", summary: dict | None = None
    ) -> SnapshotInfo:
        return self._commit(name, df, operation, summary=summary)

    def append(self, name: str, df: DataFrame) -> SnapshotInfo:
        """Fast-append: commit only the delta files; the new snapshot's
        manifest references the previous snapshot's file set plus the delta
        (like Iceberg fast-append), so S appends write S deltas instead of S
        full copies. The table keeps its schema.

        The delta's schema must match the table's: a fast-append never rewrites
        existing files, so a drifted column set would otherwise be silently
        tolerated at read time (missing columns null-filled, extra columns
        dropped) instead of failing loudly like a unionByName append."""
        if self.exists(name):
            current_schema = self.read(name).schema
            # compare (name, type) only: nullability legitimately differs
            # between a freshly built delta and the parquet read-back
            delta_sig = [(f.name, f.dataType) for f in _nullable(df.schema).fields]
            table_sig = [(f.name, f.dataType) for f in current_schema.fields]
            if sorted(delta_sig, key=str) != sorted(table_sig, key=str):
                raise ValueError(
                    f"append schema mismatch for table {name!r}: "
                    f"delta={df.schema.simpleString()} vs table={current_schema.simpleString()}"
                )
            snap = self._snapshot(name)
            base = snap.get("paths") or [snap["path"]]
            return self._commit(name, df, "append", base_paths=base, schema=current_schema)
        return self._commit(name, df, "append")

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """The snapshot as a DataFrame. Snapshots that recorded their schema
        are read with it (no inference job); older ones are inferred."""
        snap = self._snapshot(name, version)
        paths = snap.get("paths") or [snap["path"]]
        reader = self.spark.read
        if "schema" in snap:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*paths)

    def tables(self) -> list[str]:
        """Names of the tables under the catalog root."""
        return sorted(n for n in os.listdir(self.root) if os.path.exists(self._manifest_path(n)))

    def annotate(self, name: str, key: str, row: dict) -> None:
        """Append ``row`` to the table's ``key`` metadata list with an
        atomic manifest swap — no snapshot and no Spark job (the analogue of
        Iceberg's snapshot-independent statistics/properties updates). The
        table need not have a snapshot yet."""
        man = self._load_manifest(name)
        man.setdefault(key, []).append(row)
        self._swap_manifest(name, man)

    def annotations(self, name: str, key: str) -> list[dict]:
        return self._load_manifest(name).get(key, [])

    def history(self, name: str) -> list[dict]:
        return self._load_manifest(name)["snapshots"]

    def current_version(self, name: str) -> int | None:
        return self._load_manifest(name)["current"]

    def changelog(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg-style incremental (CDC) read: the net row-level delta
        between two snapshots as ('insert'|'delete', keys...) rows — what a
        changelog scan of a copy-on-write table emits. Computed as two
        key-set anti-joins (the same plan Iceberg's changelog-scan planner
        produces for COW commits); a row rewritten in place (same key both
        sides) is correctly absent from the delta."""
        a = self.read(name, version=from_version)
        b = self.read(name, version=to_version)
        keys = keys or a.columns
        added = (
            b.select(*keys).join(a.select(*keys), keys, "left_anti").withColumn("change", F.lit("insert"))
        )
        removed = (
            a.select(*keys).join(b.select(*keys), keys, "left_anti").withColumn("change", F.lit("delete"))
        )
        return added.unionByName(removed)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)

    # ---- MERGE semantics ---------------------------------------------------
    def merge_insert(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE INTO name USING batch ON keys WHEN NOT MATCHED THEN INSERT.

        Spark plan: dedupe the batch, anti-join against the current snapshot
        (broadcast when the batch is small — typical for incremental deltas),
        union, commit. Equivalent to Iceberg copy-on-write MERGE.
        """
        current = self.read(name)
        fresh = batch.dropDuplicates(keys).join(current.select(keys), keys, "left_anti")
        return self._commit(name, current.unionByName(fresh.select(current.columns)), "merge_insert")

    def merge_delete(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE INTO name USING batch ON keys WHEN MATCHED THEN DELETE."""
        current = self.read(name)
        remaining = current.join(F.broadcast(batch.select(keys).dropDuplicates(keys)), keys, "left_anti")
        return self._commit(name, remaining, "merge_delete")

    def upsert(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE: WHEN MATCHED THEN UPDATE (replace row) / NOT MATCHED THEN INSERT."""
        current = self.read(name)
        kept = current.join(batch.select(keys).dropDuplicates(keys), keys, "left_anti")
        return self._commit(name, kept.unionByName(batch.select(current.columns)), "upsert")

    def merge_min(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE: WHEN MATCHED THEN UPDATE SET v = least(t.v, s.v) / NOT
        MATCHED THEN INSERT — for every non-key column.

        The combining MERGE a running min-winner state table needs (e.g.
        streaming dedup's min-doc-id representative). ``min`` is commutative,
        associative and idempotent, so commits are delivery-order independent
        and replay-safe. Computed as union + grouped min — the same logical
        plan Iceberg's copy-on-write MERGE with a ``least()`` update produces;
        at scale the grouped min is map-side combinable and the only shuffle
        keys on ``keys``.
        """
        current = self.read(name)
        vals = [c for c in current.columns if c not in keys]
        merged = (
            current.unionByName(batch.select(current.columns))
            .groupBy(keys)
            .agg(*[F.min(c).alias(c) for c in vals])
        )
        return self._commit(name, merged.select(current.columns), "merge_min")
