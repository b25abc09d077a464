"""The one incrementally-maintained banded pair index behind the
streaming near-dup detectors: MinHash-LSH over text
(streaming/neardup.py), SimHash over binary payloads
(streaming/simdup.py), and — for its delete/retract/pairs half — the
embedding index (streaming/semdedup.py). Each detector supplies only
what differs: the id and pair column names, the signer, the band
function, the change key and the verifier; the ingest flow, the state
layout and every edge case live here once.

A corpus is not deduplicated once — items keep arriving, and each new
item must be checked against EVERYTHING already ingested without
rescanning the corpus. Per micro-batch (corpus N, batch n, N >> n):
  * sign + band the batch: O(n) map work with the SAME helpers the
    batch query uses (one implementation, so incremental ≡ one-shot
    holds by construction); the corpus never shuffles;
  * candidate probe: the batch's band rows hash-join the band index.
    With ``band_buckets`` set (VERDICT r7 #3, the executed point-lookup
    swap; measured in docs/architecture.md §round-8) the band index is
    stored in value-derived buckets (hash of the (band, bucket) probe
    key) and the probe reads ONLY the bucket dirs the batch's band keys
    map to — probe IO ∝ batch, not corpus. Unset, the probe scans the
    whole index (one narrow 3-column pass);
  * verify: candidate-pair-sized joins back to the signature state
    (bucket-pruned to the candidates' ids when ``bucket_col`` is set).
    Changed-content detection likewise prunes to the BATCH's ids.
All state is written via idempotent MERGE keyed on the id (winner by
seq), so at-least-once redelivery converges — a replayed batch probes
an index it is already in, and a < b canonicalization keeps each pair
single. State growing with the corpus is intrinsic to dedup (the index
IS the memory of what was seen); what stays bounded is per-batch work.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .cdc import StateTable, changed_ids, retract_pairs


def stamp(df: DataFrame, seq: int, op: str) -> DataFrame:
    """The (seq, op) columns a state merge orders rows by."""
    return df.withColumn("seq", F.lit(seq).cast("bigint")).withColumn("op", F.lit(op))


class BandedPairIndex:
    """Incrementally-maintained banded near-dup index.

    Three state tables under ``base_dir``:
      * ``sigs``  — (<id>, …, sig): the signature per ingested item (the
                    verify side);
      * ``bands`` — (<id>, band, bucket): the probe index;
      * ``pairs`` — (<a>, <b>, <value>): every detected pair (a < b).

    Subclasses set ``id_col``, ``pair_cols`` = (a, b, value) and
    ``value_type``, and implement ``_sign``, ``_band_rows``,
    ``_change_key`` and ``_verify``.

    Seq phases (seq = 4·batch_id + phase): 0 = retractions/cleanup,
    1 = upserts, 2 = compliance deletion (delete_docs). Within a batch a
    re-detected pair beats its own retraction (state merges break
    same-seq ties toward delete); across the same batch id a compliance
    delete beats the ingest's upserts — the delete-wins contract the
    state layer documents."""

    id_col: str
    pair_cols: tuple[str, str, str]
    value_type: str

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        bucket_col: Column | None = None,
        n_buckets: int = 16,
        band_buckets: int | None = None,
    ):
        """bucket_col (a bigint expression over the id) switches the
        signature table to the bucketed StateTable layout so a merge
        rewrites only the batch's buckets, in one write job, instead of
        O(corpus) parquet per batch — at a real corpus size this is
        mandatory, and with monotone ids a RANGE bucket (floor(id/width))
        makes each ingest a one-bucket rewrite (StateTable's regime
        notes apply) — and lets the changed-detection and verify reads
        prune to the ids they touch. Without band_buckets the band
        index shares that bucketing.

        band_buckets switches the BAND index to value-derived buckets
        (storage bucket = hash of the (band, bucket) probe key): the
        candidate probe then reads only the batch's band-key buckets.
        The write-side trade: a batch's band rows scatter across
        ≤ min(bands·n, band_buckets) dirs, so per-batch merge+probe IO
        is ~2·(bands·n/band_buckets)·corpus — a net win over the flat
        probe whenever band_buckets ≳ 2·bands·batch (size it from the
        trickle rate; docs/architecture.md §round-8 has the measured
        curve). Cleanup/delete band rows are re-derived from the stored
        signatures so each tombstone carries the exact old (band,
        bucket) value and routes to the dir holding the old row. The
        pairs table stays flat: it is near-dup-count-sized, not
        corpus-sized."""
        self.spark = spark
        i, a, b, _ = self.id_col, *self.pair_cols
        self.sigs = self._table(base_dir, "sigs", [i], n_buckets, bucket_col)
        if band_buckets is not None:
            self.bands = self._table(
                base_dir, "bands", [i, "band"], band_buckets,
                F.pmod(F.xxhash64("band", "bucket"), F.lit(band_buckets)),
            )
        else:
            self.bands = self._table(base_dir, "bands", [i, "band"], n_buckets, bucket_col)
        self.pairs = self._table(base_dir, "pairs", [a, b])
        self._sig_pruned = bucket_col is not None
        self._band_pruned = band_buckets is not None

    def _table(self, base_dir, name, keys, n_buckets=16, bucket_col=None):
        """A seq-keyed state table: flat, or bucketed by ``bucket_col``."""
        return StateTable(
            self.spark, os.path.join(base_dir, name), keys, "seq",
            n_buckets=None if bucket_col is None else n_buckets,
            bucket_col=bucket_col,
        )

    # -- the per-detector definition ------------------------------------

    def _sign(self, batch: DataFrame) -> DataFrame:
        """One row per distinct batch id: (<id>, …, sig). An item too
        short to sign keeps its row with a NULL change key."""
        raise NotImplementedError

    def _band_rows(self, sig: DataFrame) -> DataFrame:
        """(<id>, …, sig) → (<id>, band, bucket)."""
        raise NotImplementedError

    def _change_key(self) -> Column:
        """The value whose change retires an id's old pairs; NULL marks
        an item with nothing to sign."""
        raise NotImplementedError

    def _verify(self, cand: DataFrame, sig_state: DataFrame) -> DataFrame:
        """Candidate (a, b) pairs + signature state → (a, b, value)."""
        raise NotImplementedError

    # -- the shared delete/retract/pairs half -----------------------------

    def _stored(self, ids: DataFrame) -> DataFrame | None:
        """The signature state, pruned to ``ids``' buckets when bucketed."""
        if self._sig_pruned:
            return self.sigs.read(buckets=self.sigs.buckets_for(ids))
        return self.sigs.read()

    def _old_bands(self, ids: DataFrame, stored: DataFrame | None) -> DataFrame | None:
        """The ids' current band rows, re-derived from their STORED
        signatures: exact (band, bucket) values, so tombstones route to
        the dirs holding the old rows under value-bucketed storage."""
        if stored is None:
            return None
        return self._band_rows(stored.join(ids, self.id_col, "left_semi"))

    def _retire(self, ids: DataFrame, stored: DataFrame | None, seq: int) -> None:
        """Retract every pair referencing ``ids`` and delete their band
        rows. Runs BEFORE the signature merge that changes or removes
        them: a crash in between replays into a state where the change
        is still detectable, so the cleanup re-runs instead of leaving
        ghost band rows."""
        retract_pairs(self.pairs, ids, *self.pair_cols, seq)
        old = self._old_bands(ids, stored)
        if old is not None:
            self.bands.merge_batch(stamp(old, seq, "delete"))

    def _merge_pairs(self, detected: DataFrame, seq: int) -> None:
        # persisted: merge_batch's emptiness check and its write would
        # otherwise each run the probe-and-verify plan
        detected = stamp(detected, seq, "upsert").persist()
        try:
            self.pairs.merge_batch(detected)
        finally:
            detected.unpersist()

    def delete_docs(self, ids: DataFrame, batch_id: int) -> None:
        """Compliance deletion: remove the items' signatures and band
        rows — the index must not retain content-derived state for
        deleted items — and RETRACT every detected pair referencing a
        deleted id. Idempotent (seq-keyed delete winners), and stamped
        at phase 2 of the batch id so a delete in the SAME micro-batch
        as an ingest of the id wins; a later re-ingest (higher batch
        id) re-detects its pairs. ids: a 1-column (<id>) frame.

        Order: pairs and bands first, then sigs — a crash before the
        sig merge replays with the signatures still present, re-deriving
        the same (idempotent) band tombstones."""
        seq = 4 * int(batch_id) + 2
        ids = ids.select(self.id_col).distinct().localCheckpoint(eager=True)
        self._retire(ids, self._stored(ids), seq)
        if self.sigs is not None:
            self.sigs.merge_batch(stamp(ids, seq, "delete"))

    def pairs_df(self) -> DataFrame:
        """All pairs detected so far (a, b, value)."""
        a, b, v = self.pair_cols
        cur = self.pairs.read()
        if cur is None:
            return local_frame(
                self.spark, [], f"{a} bigint, {b} bigint, {v} {self.value_type}"
            )
        # the cast normalizes LEGACY simdup state dirs whose hamming
        # was written as double by earlier builds (merge unions widen
        # new bigint rows back to double there)
        return cur.select(a, b, F.col(v).cast(self.value_type).alias(v))

    # -- ingest -----------------------------------------------------------

    def ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Sign, index, and near-dup-check one micro-batch. Idempotent:
        replaying a batch merges the same state rows and upserts the
        same pairs.

        An id re-ingested with CHANGED content first RETRACTS every pair
        its old content produced and DELETES its old band rows, then
        re-indexes under the new signature — without this, stale pairs
        and ghost band rows survive forever (review r7). An item that
        shrank below one shingle (NULL change key) LEAVES the index: its
        signature, band rows and pairs go too."""
        seq_rm, seq_up = 4 * int(batch_id), 4 * int(batch_id) + 1
        a, b, _ = self.pair_cols
        i = self.id_col
        sig = self._sign(batch).localCheckpoint(eager=True)
        if not sig.head(1):
            # empty micro-batch (a heartbeat trigger with no files)
            return
        key = self._change_key()
        signed = sig.filter(key.isNotNull())
        upserts = stamp(signed, seq_up, "upsert")
        # changed-detection only ever compares the BATCH's ids; an id
        # whose key went NULL compares as an empty value set, so the
        # shrunk case is a change like any other
        stored = self._stored(sig.select(i))
        dead = changed_ids(
            sig.withColumn("__key", key),
            None if stored is None else stored.withColumn("__key", key),
            i,
            "__key",
        )
        if dead is not None:
            self._retire(dead, stored, seq_rm)
            # one sig merge: a changed id's upsert outranks its phase-0
            # tombstone, a shrunk id keeps the tombstone
            upserts = upserts.unionByName(
                stamp(dead, seq_rm, "delete"), allowMissingColumns=True
            )
        # merge FIRST, then probe the post-merge index: batch-internal
        # pairs fall out of the same probe join (no separate self-join)
        self.sigs.merge_batch(upserts)
        new_bands = self._band_rows(signed).localCheckpoint(eager=True)
        self.bands.merge_batch(stamp(new_bands, seq_up, "upsert"))
        band_state = (
            self.bands.read(buckets=self.bands.buckets_for(new_bands))
            if self._band_pruned
            else self.bands.read()
        )
        if band_state is None:
            # nothing in the index can be signed yet: nothing to probe
            return
        cand = (
            new_bands.alias("n")
            .join(
                band_state.select(i, "band", "bucket").alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bucket") == F.col("i.bucket"))
                & (F.col(f"n.{i}") != F.col(f"i.{i}")),
            )
            .select(
                F.least(F.col(f"n.{i}"), F.col(f"i.{i}")).alias(a),
                F.greatest(F.col(f"n.{i}"), F.col(f"i.{i}")).alias(b),
            )
            .dropDuplicates([a, b])
        )
        if self._sig_pruned:
            # checkpointed so buckets_for and the verify joins don't
            # each re-run the probe join
            cand = cand.localCheckpoint(eager=True)
        sig_state = self._stored(
            cand.select(F.col(a).alias(i)).unionByName(cand.select(F.col(b).alias(i)))
        )
        if sig_state is None:
            return
        self._merge_pairs(self._verify(cand, sig_state), seq_up)


def run_pair_index_stream(
    stream: DataFrame, index, checkpoint_dir: str
) -> None:
    """Wire a stream into a pair index via foreachBatch; blocks until
    available data is processed. At-least-once redelivery converges
    because ingest_batch is idempotent."""
    (
        stream.writeStream.foreachBatch(
            lambda batch, bid: index.ingest_batch(batch, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
