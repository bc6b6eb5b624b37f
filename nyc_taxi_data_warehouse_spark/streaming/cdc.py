"""CDC apply: a stream of keyed updates MERGEd into a snapshot table.

The reference's warehouse is append-only (``/root/reference/data/emr/
etl.py:53-55``); a change-data-capture feed (corrections, late facts,
dimension updates) has nowhere to land. This sink closes that gap by
composing two verified primitives:

- ``warehouse.snapshots.snapshot_merge(mode="dv")``: one commit per
  micro-batch that tombstones the superseded target rows and appends
  the surviving update images — write cost ∝ the batch, never the
  touched partitions, and readers keep their version
- Structured Streaming ``foreachBatch`` + checkpoint: each micro-batch
  is applied exactly once per checkpoint lineage — a restart with the
  same checkpoint re-processes nothing

``version_col`` (persisted in the target table — a CDC LSN or source
timestamp) gives max-version-wins BOTH within a micro-batch and ACROSS
batches: the merge compares update versions against the already-
applied target row, so an out-of-order feed converges to the same table
as an in-order one, and redelivered versions are no-ops (ties keep the
target row). Without a version column, ordering degrades to the
stream's arrival order — the plain CDC-apply contract. Keys must be
partition-stable (``snapshot_merge`` refuses a key live in an untouched
partition); ``warehouse.eqdeletes`` moves keys across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..warehouse.snapshots import snapshot_merge


def stream_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_cols: list[str],
    version_col: str | None = None,
    checkpoint: str | None = None,
) -> None:
    """Drain the updates stream (availableNow) applying each micro-batch
    as a keyed MERGE into the snapshot table at ``path``."""

    def apply_batch(batch: DataFrame, _epoch: int) -> None:
        if batch.isEmpty():
            return
        snapshot_merge(
            spark, path, batch, keys, partition_cols, version_col, mode="dv"
        )

    writer = updates.writeStream.foreachBatch(apply_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
