"""Continuous repeated-substring detection — the streaming form of
queries/llm.py's q_dedup_substring (the ExactSubstr shape): maintain,
as documents arrive, the set of maximal token spans that occur more
than once anywhere in the corpus so far.

What makes this one interesting is RETROACTIVITY: a newly-ingested
document that repeats an old document's text creates spans in BOTH —
the old doc's result rows change even though the old doc never
re-arrives. The index handles that as delta maintenance:

  per micro-batch —
  1. fingerprint the batch (doc, pos, h) with the SAME w-gram helper
     the batch query uses;
  2. additively merge per-fingerprint counts, touching ONLY the
     batch's fingerprints (counts are read-modify-write on the batch
     key set, not a full-state aggregation);
  3. affected docs = docs holding any fingerprint that is duplicated
     NOW and gained an occurrence in this batch (old docs get pulled
     in exactly when the batch collides with them);
  4. recompute the gaps-and-islands span merge for affected docs only,
     and replace their span rows (delete-then-upsert MERGE).

Replay safety: positions merge first (idempotent on (doc_id, p)), then
counts for the batch's fingerprints are RECOMPUTED from the post-merge
positions state — never maintained as an additive delta. A pre-merge
delta breaks under partial failure: crash after the positions merge but
before the counts merge, and the redelivered batch's "new positions"
set is empty, so the delta under-counts forever. A recompute from state
is a pure function of the merged positions, so any prefix of the merge
sequence followed by redelivery converges; the span recompute keys off
the batch's fingerprint set (not the "fresh" subset) for the same
reason.

Scale notes: positions and counts are corpus-gram-sized (the index IS
the memory); the probes by fingerprint / by doc are state scans here.
The bucket-pruned swap is EXECUTED code in the band-index siblings
(streaming/neardup.py / simdup.py: StateTable.read(buckets=…)
keyed on the probe value, measured in docs/architecture.md §round-8);
this index's fingerprint probe is the same shape (value-keyed GET) and
takes the identical layout — bucket positions/counts by
pmod(xxhash64(fp), B) — when a corpus outgrows the scan budget.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.llm import _tokens
from .cdc import StateTable

W = 10  # q_dedup_substring's window


def _gram_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, p, h): md5 fingerprint of every
    w-token window, 1-based positions — identical to the batch query's
    fingerprint pass (repeated_spans)."""
    tok = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - (W - 1)),
        lambda i: F.struct(
            i.alias("p"),
            F.md5(F.concat_ws(" ", F.slice("t", i, W))).alias("h"),
        ),
    )
    return (
        tok.filter(F.size("t") >= W)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.p").alias("p"), F.col("g.h").alias("h"))
    )


class SubstringDupIndex:
    """Incrementally-maintained repeated-span index.

    State under ``base_dir``:
      * ``positions`` — (doc_id, p, h): every ingested w-gram instance;
      * ``counts``    — (h, n): total occurrences per fingerprint;
      * ``spans``     — (doc_id, span_start, span_tokens): the current
                        maximal repeated spans, per doc.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.positions = StateTable(
            spark, os.path.join(base_dir, "positions"), ["doc_id", "p"], "seq"
        )
        self.counts = StateTable(
            spark, os.path.join(base_dir, "counts"), ["h"], "seq"
        )
        self.spans = StateTable(
            spark, os.path.join(base_dir, "spans"), ["doc_id", "span_start"], "seq"
        )

    def ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Index one micro-batch of (doc_id, text) rows and refresh the
        spans of every affected document (batch docs AND old docs the
        batch collides with). Idempotent under redelivery."""
        seq = F.lit(int(batch_id)).cast("bigint")
        grams = _gram_positions(batch.select("doc_id", "text")).localCheckpoint(
            eager=True
        )
        if not grams.head(1):
            return
        old_pos = self.positions.read()
        if old_pos is not None:
            # the index is APPEND-ONLY per doc_id: positions are never
            # retracted, so re-ingesting a doc_id with CHANGED text
            # would leave stale rows disagreeing with the document
            # (phantom/missing spans). Fail loudly instead of
            # corrupting state; true updates are a delete-then-reingest
            # workflow this index does not offer. Both mutation shapes
            # are checked against the indexed positions of the batch's
            # docs: (a) a differing hash at an overlapping (doc_id, p);
            # (b) a TRUNCATION — indexed positions past the incoming
            # doc's last gram (a shortened text whose grams are a
            # prefix of the indexed set passes check (a) alone).
            batch_docs = grams.select("doc_id").distinct()
            indexed = old_pos.join(batch_docs, "doc_id", "left_semi")
            changed = grams.alias("g").join(
                indexed.select("doc_id", "p", F.col("h").alias("h_old")),
                ["doc_id", "p"],
            ).filter(F.col("g.h") != F.col("h_old"))
            truncated = (
                indexed.groupBy("doc_id")
                .agg(F.max("p").alias("old_max"))
                .join(
                    grams.groupBy("doc_id").agg(F.max("p").alias("new_max")),
                    "doc_id",
                )
                .filter(F.col("new_max") < F.col("old_max"))
            )
            if changed.head(1) or truncated.head(1):
                raise ValueError(
                    "SubstringDupIndex is append-only: a re-ingested "
                    "doc_id carries different (changed or truncated) "
                    "text than its indexed version (positions cannot "
                    "be retracted)"
                )
        # positions merge FIRST (idempotent on (doc_id, p)); everything
        # below derives from the post-merge state, so a crash anywhere
        # in this sequence + at-least-once redelivery converges
        self.positions.merge_batch(
            grams.withColumn("seq", seq).withColumn("op", F.lit("upsert"))
        )
        # counts for the batch's fingerprints: RECOMPUTED from merged
        # positions (never an additive delta — see module docstring),
        # touching only the batch's h set
        batch_h = grams.select("h").distinct()
        all_pos_now = self.positions.read()
        merged = (
            all_pos_now.join(batch_h, "h", "left_semi")
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        self.counts.merge_batch(
            merged.withColumn("seq", seq).withColumn("op", F.lit("upsert"))
        )
        # affected docs: hold a fingerprint that is duplicated NOW and
        # appears in this batch (pure batch-internal dups included; a
        # redelivered batch re-derives the same spans — idempotent)
        counts_now = self.counts.read().select("h", "n")
        hot = batch_h.join(counts_now.filter(F.col("n") > 1), "h", "left_semi")
        all_pos = all_pos_now.select("doc_id", "p", "h")
        affected = (
            all_pos.join(hot, "h", "left_semi").select("doc_id").distinct()
        ).localCheckpoint(eager=True)
        if not affected.head(1):
            return
        # recompute the span set of affected docs from state (a pure
        # function of positions ⋈ duplicated-fingerprints)
        marked = (
            all_pos.join(affected, "doc_id", "left_semi")
            .join(counts_now.filter(F.col("n") > 1), "h", "left_semi")
            .select("doc_id", "p")
        )
        win = Window.partitionBy("doc_id").orderBy("p")
        islands = marked.withColumn("grp", F.col("p") - F.row_number().over(win))
        # materialized once: referenced by both the upsert ops and the
        # stale anti-join below — unchecked, the positions-state scan +
        # island window would execute twice per batch
        new_spans = (
            islands.groupBy("doc_id", "grp")
            .agg(
                F.min("p").cast("bigint").alias("span_start"),
                (F.max("p") - F.min("p") + W).cast("bigint").alias("span_tokens"),
            )
            .select("doc_id", "span_start", "span_tokens")
        ).localCheckpoint(eager=True)
        # replace: retract the affected docs' previous spans that are
        # not re-derived, then upsert the new set
        cur = self.spans.read()
        ops = new_spans.withColumn("op", F.lit("upsert"))
        if cur is not None:
            stale = (
                cur.select("doc_id", "span_start")
                .join(affected, "doc_id", "left_semi")
                .join(new_spans.select("doc_id", "span_start"), ["doc_id", "span_start"], "left_anti")
                .withColumn("span_tokens", F.lit(None).cast("bigint"))
                .withColumn("op", F.lit("delete"))
            )
            ops = ops.unionByName(stale)
        self.spans.merge_batch(ops.withColumn("seq", seq))

    def spans_df(self) -> DataFrame:
        """Current maximal repeated spans (doc_id, span_start,
        span_tokens) across everything ingested so far."""
        cur = self.spans.read()
        if cur is None:
            return self.spark.createDataFrame(
                [], "doc_id bigint, span_start bigint, span_tokens bigint"
            )
        return cur.select("doc_id", "span_start", "span_tokens")
