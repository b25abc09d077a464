"""Continuous semantic (embedding) near-dup detection — the vector
twin of streaming/neardup.py: documents have MinHash, embeddings have
cosine-over-IVF-cells (queries/llm.py q_dedup_semantic is the one-shot
batch form, q_dedup_embedding its exactness anchor).

New vectors are assigned to their top-2 cells against a FROZEN centroid
set (the append_to_index judgment from plans/retrieval_index.py:
centroids come from the initial build and drift is handled by periodic
re-train, not per-batch re-clustering — per-batch k-means would make
detection order-dependent and unreplayable), probed against the
accumulated same-cell members, exact-cosine-verified at the anchor's
threshold, and surviving pairs MERGE into keyed state.

Scale shape per micro-batch: assign = batch × k×dim broadcast distance
scan; probe = equi-join on centroid_id against only the touched cells'
members; verify = candidate-pair-sized dot products. The member state
grows with the corpus (the index IS the memory); per-batch work is
batch-sized plus the touched cells.

At corpus sizes where the flat member scan is the batch cost, the
bucket-pruned layout EXECUTED in the band-index siblings
(streaming/neardup.py / simdup.py, measured in docs/architecture.md
§round-8) applies here too — ``cell_buckets=True`` — with one
structural difference: the probe key is centroid_id, so members
bucket BY CELL (StateTable.read(buckets=touched cells)) — the
file-state analog of plans/retrieval_index.py's
partitionBy(centroid_id) disk pruning — while changed-detection runs
against a second, vec_id-keyed ``vectors`` table (optionally
vec_id-bucketed via ``bucket_col``), because the cell-bucketed layout
cannot be point-read by id. Cleanup/delete member rows are re-derived
by re-assigning the STORED vector against the frozen centroids (the
frozen-centroid invariant makes the re-derivation exact), so each
tombstone carries the old centroid_id and routes to the dir holding
the old row; members cleanup merges BEFORE the vectors upsert, so a
crash between them replays into a still-detectable changed state —
the same discipline as the siblings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.llm import _dot, assign_cells
from .banded import BandedPairIndex, stamp, run_pair_index_stream
from .cdc import changed_ids

COS_THRESHOLD = 0.8  # q_dedup_embedding's anchor threshold


class SemanticDedupIndex(BandedPairIndex):
    """Incrementally-maintained cosine near-dup index over embeddings.

    State under ``base_dir``:
      * ``members`` — (vec_id, v, centroid_id): every ingested vector in
        its top-2 cells (the nprobe=2 fan-out both sides of the batch
        candidate join rely on — same dial as q_knn_ivf);
      * ``pairs``   — (vec_a, vec_b, cos): detected pairs, vec_a < vec_b,
        exact cosine ≥ COS_THRESHOLD.

    ``centroids`` is the frozen (centroid_id, cv) frame the index was
    opened with; reopening with different centroids is a re-train and
    warrants a rebuild (append ≡ rebuild only under fixed centroids).

    The delete/retract/pairs half is BandedPairIndex's, with
    ``members`` as its band index and ``vectors`` (cell_buckets only)
    as its signature table; the probe and verify are this module's.
    """

    id_col = "vec_id"
    pair_cols = ("vec_a", "vec_b", "cos")
    value_type = "double"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        centroids: DataFrame,
        cell_buckets: bool = False,
        bucket_col: Column | None = None,
        n_buckets: int = 16,
    ):
        """cell_buckets=True switches to the scale layout (see module
        docstring): members bucketed BY centroid_id (probe reads only
        the batch's touched cells) plus a vec_id-keyed ``vectors``
        table for changed-detection and cleanup derivation, itself
        bucketed when ``bucket_col`` (a bigint expression over vec_id)
        is given. The flat layout keeps the original two-table state —
        existing state dirs stay readable."""
        self.spark = spark
        self.centroids = centroids.select("centroid_id", "cv").localCheckpoint(
            eager=True
        )
        self.cell_buckets = cell_buckets
        self._sig_pruned = bucket_col is not None
        members = ["vec_id", "centroid_id"]
        if cell_buckets:
            self.members = self._table(
                base_dir, "members", members, self.centroids.count(),
                F.col("centroid_id").cast("bigint"),
            )
            self.sigs = self._table(base_dir, "vectors", ["vec_id"], n_buckets, bucket_col)
        else:
            self.members = self._table(base_dir, "members", members)
            self.sigs = None
        self.bands = self.members
        self.vectors = self.sigs
        self.pairs = self._table(base_dir, "pairs", ["vec_a", "vec_b"])

    def _assign(self, vecs: DataFrame) -> DataFrame:
        """(vec_id, v) → top-2 cells per vector against the frozen
        centroids — queries/llm.assign_cells (the one shared IVF
        routing rule) on the L2-normalized column; the norm is hoisted
        into its own column first (an inline norm in the transform
        lambda re-evaluates the dot product per element)."""
        nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
        vn = vecs.withColumn("n", nrm).withColumn(
            "vn", F.transform(F.col("v"), lambda x: x / F.col("n"))
        )
        return assign_cells(vn, self.centroids, n=2, vec_col="vn").select(
            "vec_id", "v", "centroid_id"
        )

    def _band_rows(self, stored: DataFrame) -> DataFrame:
        # the frozen-centroid invariant makes re-assignment exact: the
        # old cells of a stored vector, routed to the dirs holding them
        return self._assign(stored.select("vec_id", "v"))

    def _stored(self, ids: DataFrame) -> DataFrame | None:
        # the flat layout has no vectors table: members carry v
        return super()._stored(ids) if self.cell_buckets else self.members.read()

    def _old_bands(self, ids: DataFrame, stored: DataFrame | None) -> DataFrame | None:
        if self.cell_buckets:
            return super()._old_bands(ids, stored)
        # flat members are not stored by cell value: tombstone every cell
        return ids.crossJoin(self.centroids.select("centroid_id"))

    def ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Assign, index, and near-dup-check one micro-batch of
        (vec_id, v) rows. Idempotent under replay (seq-keyed merges,
        same pairs re-upserted).

        Re-ingesting a vec_id with a CHANGED vector first RETRACTS the
        pairs its old embedding produced AND deletes ALL its old member
        cells — members is keyed (vec_id, centroid_id), so upserting
        only the new top-2 cells would leave the OLD embedding live in
        its old cells, where later vectors could mint pairs against a
        retracted embedding at winning seqs (review r7, second pass).

        Seq phases as in BandedPairIndex."""
        seq_rm, seq = 4 * int(batch_id), 4 * int(batch_id) + 1
        vecs = batch.select("vec_id", "v").localCheckpoint(eager=True)
        assigned = self._assign(vecs).localCheckpoint(eager=True)
        if not assigned.head(1):
            return
        # changed-detection pruned to the batch's ids when bucketed
        stored = self._stored(vecs.select("vec_id"))
        changed = changed_ids(vecs, stored, "vec_id", "v")
        if changed is not None:
            self._retire(changed, stored, seq_rm)
        if self.vectors is not None:
            self.vectors.merge_batch(stamp(vecs, seq, "upsert"))
        self.members.merge_batch(stamp(assigned, seq, "upsert"))
        # the probe: with cell-bucketed members, read ONLY the cells the
        # batch's vectors were assigned to — IO ∝ touched cells
        state = (
            self.members.read(buckets=self.members.buckets_for(assigned))
            if self.cell_buckets
            else self.members.read()
        )
        # norms hoisted to per-row columns BEFORE the pair join: the
        # verify then pays one fold per pair (the cross dot product)
        # instead of three — per-pair norm recomputation is the
        # q_knn_cosine 3n·k trap, and the state side is read-sized, not
        # pair-sized. Computed on the same doubles in the same fold
        # order, so cos (and the stored rounded value) is bit-identical.
        nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
        a = assigned.withColumn("na", nrm).select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            "na",
            "centroid_id",
        )
        b = state.withColumn("nb", nrm).select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            "nb",
            "centroid_id",
        )
        cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        detected = (
            a.join(b, ["centroid_id"])
            .filter(F.col("vec_a") != F.col("vec_b"))
            .select(
                F.least("vec_a", "vec_b").alias("vec_a"),
                F.greatest("vec_a", "vec_b").alias("vec_b"),
                cos.alias("c"),
            )
            .dropDuplicates(["vec_a", "vec_b"])
            .filter(F.col("c") >= COS_THRESHOLD)
            .select("vec_a", "vec_b", F.round("c", 4).alias("cos"))
        )
        self._merge_pairs(detected, seq)

    # compliance deletion: both cells leave members, the vector leaves
    # vectors, every pair referencing it retracts (BandedPairIndex)
    delete_vecs = BandedPairIndex.delete_docs


run_semdedup_stream = run_pair_index_stream
