"""Superstep checkpointing, lineage, metrics, and mid-run resume (M5).

Every superstep of an iterative operator (CC fixpoint, PageRank, LPA) can be
routed through a :class:`CheckpointedRun`, which

- writes the superstep's state (labels/ranks) as a new snapshot of a catalog
  table — the snapshot commit *is* the lineage truncation (the plan reads
  back from parquet, so the DAG never grows across supersteps), and the
  atomic manifest swap makes every completed superstep a durable resume
  point. The write is the commit's one Spark job: the read-back uses the
  schema the commit recorded;
- exposes lineage ``(run_id, state, superstep, partition_id, rows,
  committed_at)`` — the queryable analogue of the reference's debug dumps
  (elektra connectivity.h:466-534) — derived from the per-file row counts
  each state commit records in its manifest entry, so lineage costs no job
  and is atomic with the state it describes (``partition_id`` is the output
  file's index);
- records frontier metrics ``(run_id, state, superstep, frontier, seconds,
  committed_at)`` — mirroring the reference's timers (benchmarks/get_time.h)
  but as a table — as metadata rows in the state table's manifest, again
  without a Spark job.

Resume contract: ``latest_step()`` returns the last durably committed
superstep; operators accept ``start_step``/``init_*`` to continue
mid-iteration (see tests/test_checkpoint.py for the kill-and-resume proof).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from .tables import SnapshotCatalog

LINEAGE_SCHEMA = (
    "run_id string, state string, superstep int, partition_id int, rows long, committed_at double"
)
METRICS_SCHEMA = (
    "run_id string, state string, superstep int, frontier long, seconds double, committed_at double"
)


class CheckpointedRun:
    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.catalog = SnapshotCatalog(spark, root)

    def _state_table(self, state: str) -> str:
        return f"{self.run_id}_{state}"

    # -- checkpoint function factory (plugs into operators' `checkpoint=`) --
    def checkpoint_fn(self, state: str = "labels"):
        def _cp(df: DataFrame, step: int) -> DataFrame:
            if step < 0:
                # static relations and start states: materialize only
                return df.localCheckpoint(eager=True)
            name = self._state_table(state)
            self.catalog.write(name, df, operation=f"superstep={step}",
                               summary={"run_id": self.run_id, "state": state})
            return self.catalog.read(name)

        # operators whose state lives outside the DataFrame plan (the bsp
        # PageRank kernel's bucket files) key per-superstep durable commits
        # off this flag — the EphemeralCheckpointer (lineage truncation only)
        # deliberately lacks it. CONTRACT (documented at CheckpointFn,
        # operators/cc.py): the flag lives on the function object, so any
        # wrapper (partial/lambda/decorator) must re-set
        # ``wrapper.durable = inner.durable`` or per-step durability silently
        # downgrades to an end-of-run commit.
        _cp.durable = True
        return _cp

    # -- frontier metrics hook (plugs into operators' `on_superstep=`) ------
    def metrics_hook(self, state: str = "labels"):
        def _hook(step: int, frontier: int, seconds: float) -> None:
            self.catalog.annotate(self._state_table(state), "metrics", {
                "run_id": self.run_id, "state": state, "superstep": int(step),
                "frontier": int(frontier), "seconds": float(seconds), "committed_at": time.time(),
            })

        return _hook

    # -- resume -------------------------------------------------------------
    def latest_step(self, state: str = "labels") -> int | None:
        """Last durably committed superstep for this state, or None."""
        name = self._state_table(state)
        if not self.catalog.exists(name):
            return None
        ops = [s["operation"] for s in self.catalog.history(name)]
        steps = [int(o.split("=")[1]) for o in ops if o.startswith("superstep=")]
        return max(steps) if steps else None

    def load(self, state: str = "labels", step: int | None = None) -> DataFrame:
        """State at a superstep (default: latest committed)."""
        name = self._state_table(state)
        if step is None:
            return self.catalog.read(name)
        snaps = self.catalog.history(name)
        version = next(s["version"] for s in snaps if s["operation"] == f"superstep={step}")
        return self.catalog.read(name, version=version)

    def lineage_table(self) -> DataFrame:
        """Per-file row counts of every superstep commit under the catalog
        root, read from the state tables' manifests."""
        rows = [
            (snap["summary"]["run_id"], snap["summary"]["state"], int(snap["operation"].split("=")[1]),
             i, f["rows"], snap["committed_at"])
            for name in self.catalog.tables()
            for snap in self.catalog.history(name)
            if "run_id" in snap.get("summary", {})
            for i, f in enumerate(snap["files"])
        ]
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def metrics_table(self) -> DataFrame:
        """Every frontier-metrics row recorded under the catalog root."""
        rows = [r for name in self.catalog.tables() for r in self.catalog.annotations(name, "metrics")]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)
