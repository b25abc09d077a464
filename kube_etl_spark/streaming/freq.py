"""Continuous frequency estimation — a Count-Min matrix maintained per
micro-batch (the streaming twin of queries/aggregates.py's
q_cms_heavy_hitters, built on plans/sketches.py's CMS layer).

Why this sketch and not another for the streaming seat: CMS is LINEAR
(the matrix of a union is the cell-wise sum of the matrices), which
buys the two properties a continuously-maintained index needs and the
HLL/KLL register sketches cannot offer:

  * **increment-only maintenance** — each micro-batch contributes its
    own d×w delta matrix (≤ d·w = 2048 rows, computed map-side from
    batch rows only) that merges into state by addition; the corpus is
    never rescanned and per-batch work is batch-sized;
  * **TURNSTILE deletes** — removing a user's events is adding a
    NEGATIVE delta. GDPR-deleting a key from an HLL sketch requires a
    full rebuild; here it is one more merge. After deletion the
    estimate for the removed key legitimately drops (to the residual
    collision mass), and every other key's guarantee is untouched.

Replay safety: additive counters are NOT naturally idempotent, so each
batch's delta is stamped with its batch_id and the state keeps ONE row
per (batch_id, i, bucket) via idempotent MERGE — a redelivered batch
overwrites its own delta instead of double-counting (the same
per-batch-keyed trick as streaming/rollup.py). The served matrix is
the per-cell SUM over batch rows; a ``compact()`` folds history into a
single baseline row when the batch dimension grows long.

Scale notes: state is ≤ n_batches·d·w rows (then compacted), estimates
probe d·w cells — both independent of stream volume. The one
corpus-sized thing, as always, is what the index summarizes, not what
it stores: that is the point of a sketch.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.sketches import CMS_W, cms_cells, cms_estimate
from ..session import local_frame
from .cdc import StateTable

_BASELINE_BID = -1  # compact() folds history into this reserved row


class CountMinIndex:
    """Incrementally-maintained Count-Min frequency index over a key
    column. State: (batch_id, i, bucket, n) — per-batch delta matrices,
    idempotent on (batch_id, i, bucket)."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key_col: str = "user_id",
        lease=None,
    ):
        self.spark = spark
        self.key_col = key_col
        # lease= forwards to the underlying StateTable so multi-replica
        # deployments get enforced fencing (the freq Deployment manifest
        # instructs operators to pair the index with a WriterLease — this
        # is the API that instruction needs)
        self.cells = StateTable(
            spark,
            os.path.join(base_dir, "cells"),
            ["batch_id", "i", "bucket"],
            "seq",
            lease=lease,
        )
        # serializes SAME-PROCESS writers: production mode runs the
        # ingest and delete streams as two concurrent foreachBatch
        # threads against this one state table, whose merge is a
        # read-whole-table-then-atomic-overwrite — unserialized, the
        # later rename erases the earlier delta while both checkpoints
        # commit (a permanently lost update). Cross-process exclusion
        # is the lease's job; this lock is the in-process half.
        self._merge_lock = threading.Lock()

    def _merge_delta(self, delta: DataFrame, batch_id: int) -> None:
        with self._merge_lock:
            self._merge_delta_locked(delta, batch_id)

    def _merge_delta_locked(self, delta: DataFrame, batch_id: int) -> None:
        self.cells.merge_batch(
            delta.withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
            .withColumn("seq", F.lit(int(batch_id)).cast("bigint"))
            .withColumn("op", F.lit("upsert"))
        )

    def ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Add one micro-batch of rows. Redelivery-safe: the batch's
        delta is keyed by batch_id, so replaying overwrites rather
        than double-counts."""
        self._merge_delta(cms_cells(batch.select(self.key_col), self.key_col), batch_id)

    def delete_keys(self, rows: DataFrame, batch_id: int) -> None:
        """Turnstile retraction: subtract the given rows (same shape as
        ingest — one row per original event of the deleted keys). Uses
        a NEGATIVE delta matrix; batch_id must be fresh (idempotent
        under redelivery like ingest)."""
        delta = cms_cells(rows.select(self.key_col), self.key_col).withColumn(
            "n", -F.col("n")
        )
        self._merge_delta(delta, batch_id)

    def matrix(self) -> DataFrame:
        """The served d×w matrix: per-cell sum over batch deltas."""
        cur = self.cells.read()
        if cur is None:
            return local_frame(self.spark, [], "i int, bucket bigint, n bigint")
        return cur.groupBy("i", "bucket").agg(F.sum("n").alias("n"))

    def estimate(self, keys: DataFrame) -> DataFrame:
        """Point estimates (key, n_est) for a candidate key frame."""
        return cms_estimate(self.matrix(), keys, self.key_col, CMS_W)

    def compact(self) -> None:
        """Fold all batch deltas into one baseline row set — bounds
        state at d·w rows. Only safe once the stream checkpoint has
        committed past every folded batch (a replay of a folded batch
        would re-apply it); the same horizon contract as
        StateTable.purge_tombstones."""
        # lazy checkpoint: materializes during the new-version write,
        # while the old version dir is still intact (atomic_overwrite
        # swaps the symlink only after the write completes), so the
        # read-path safety is identical and the extra up-front job
        # submission of eager=True is saved
        with self._merge_lock:
            folded = self.matrix().localCheckpoint(eager=False)
            # fencing (ADVICE r4): merge_batch asserts the lease inside
            # StateTable, but this path publishes via _atomic_overwrite
            # directly — without the same check a writer fenced off
            # mid-run would overwrite the new owner's state with its
            # stale folded matrix. Same raise-don't-publish contract.
            if self.cells.lease is not None:
                self.cells.lease.assert_held()
            self.cells._atomic_overwrite(
                folded.withColumn("batch_id", F.lit(_BASELINE_BID).cast("bigint"))
                .withColumn("seq", F.lit(_BASELINE_BID).cast("bigint"))
                .withColumn("__op", F.lit("upsert"))
            )


def run_cms_stream(
    stream: DataFrame, index: CountMinIndex, checkpoint_dir: str
) -> None:
    """Wire an event stream into the index via foreachBatch
    (availableNow) — at-least-once redelivery converges because each
    batch's delta is keyed by its batch id."""
    (
        stream.writeStream.foreachBatch(
            lambda batch, bid: index.ingest_batch(batch, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
