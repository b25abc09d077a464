"""Streaming near-dup detection: the incrementally-maintained
MinHash-LSH index (streaming/neardup.py) must converge to EXACTLY the
batch q_dedup_fuzzy pair set when the same corpus arrives as a stream —
incremental ≡ one-shot, the dedup analog of the MaterializedJoin
convergence tests — and replaying a micro-batch must be a no-op. The
behaviour the MinHash and SimHash indexes share (streaming/banded.py)
is tested once per index through the ``kind`` fixture."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from kube_etl_spark.queries.llm import _neardup_corpus
from kube_etl_spark.registry import all_specs
from kube_etl_spark.streaming.neardup import NearDupIndex, run_neardup_stream
from kube_etl_spark.streaming.simdup import SimDupIndex
from kube_etl_spark.streaming.sources import chunked_file_stream

from .conftest import SMOKE_SF


def _batch_pairs(spark):
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in all_specs()["q_dedup_fuzzy"].fn(spark, SMOKE_SF).collect()
    }


def test_streamed_corpus_matches_batch_lsh(spark, tmp_path):
    """Feed the batch path's exact corpus through the streaming index in
    4 micro-batches (id order, so near-dup copies arrive in a LATER
    batch than their originals — the cross-batch case is exercised, not
    just batch-internal pairs) and require the identical pair set with
    identical Jaccard values."""
    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    stream = chunked_file_stream(
        spark, corpus, str(tmp_path / "src"), n_chunks=4, order_col="doc_id"
    )
    index = NearDupIndex(spark, str(tmp_path / "state"))
    run_neardup_stream(stream, index, str(tmp_path / "ckpt"))
    streamed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in index.pairs_df().collect()
    }
    batch = _batch_pairs(spark)
    assert batch, "batch LSH found no pairs — fixture regression"
    assert streamed == batch


# -- shared behaviour of the banded pair indexes (streaming/banded.py):
# every test below runs once per index definition


def _simdup_truth(spark):
    return {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in all_specs()["q_media_neardup"].fn(spark, SMOKE_SF).collect()
    }


def _simdup_row(spark, media_id, text):
    return spark.createDataFrame(
        [(media_id, text)], "media_id long, t string"
    ).select("media_id", F.encode("t", "utf-8").alias("payload"))


_KINDS = {
    # index class, corpus, id column, first id of the planted copies,
    # one-item frame from text, the one-shot batch pair truth
    "neardup": (
        NearDupIndex,
        lambda spark: _neardup_corpus(spark, SMOKE_SF, limit=10**9),
        "doc_id",
        200000,
        lambda spark, i, text: spark.createDataFrame(
            [(i, text)], "doc_id long, text string"
        ),
        _batch_pairs,
    ),
    "simdup": (
        SimDupIndex,
        lambda spark: _simdup_corpus(spark),
        "media_id",
        100000,
        _simdup_row,
        _simdup_truth,
    ),
}


@pytest.fixture(params=sorted(_KINDS))
def kind(request, spark, tmp_path):
    cls, corpus, id_col, copies_from, row, truth = _KINDS[request.param]
    return SimpleNamespace(
        name=request.param,
        make=lambda name="state": cls(spark, str(tmp_path / name)),
        corpus=corpus(spark).localCheckpoint(eager=True),
        id=id_col,
        copies_from=copies_from,
        row=lambda i, text: row(spark, i, text),
        truth=lambda: truth(spark),
    )


def _pairs(index) -> dict:
    return {(r[0], r[1]): r[2] for r in index.pairs_df().collect()}


def _ids(table, id_col) -> set:
    return {r[0] for r in table.read().select(id_col).collect()}


def test_replayed_batch_is_noop(kind):
    """At-least-once delivery: ingesting the same micro-batch twice
    leaves every state table (pairs included) unchanged, and the
    converged pair set equals the one-shot batch result."""
    first = kind.corpus.filter(F.col(kind.id) < kind.copies_from)
    second = kind.corpus.filter(F.col(kind.id) >= kind.copies_from)
    index = kind.make()
    index.ingest_batch(first, 0)
    index.ingest_batch(second, 1)
    pairs_before = _pairs(index)
    n_sigs, n_bands = index.sigs.read().count(), index.bands.read().count()
    index.ingest_batch(second, 1)  # redelivery of the last batch
    assert _pairs(index) == pairs_before == kind.truth()
    assert index.sigs.read().count() == n_sigs
    assert index.bands.read().count() == n_bands


def test_empty_batch_is_harmless(kind):
    """An empty micro-batch (heartbeat trigger with no files) must be a
    no-op on a fresh index AND between real batches — not a crash on
    the missing state table or a pointless full-state rewrite."""
    empty = kind.corpus.filter(F.lit(False))
    index = kind.make()
    index.ingest_batch(empty, 0)  # fresh index: must not crash
    assert index.sigs.read() is None
    index.ingest_batch(kind.corpus, 1)
    before = _pairs(index)
    index.ingest_batch(empty, 2)
    assert _pairs(index) == before == kind.truth()


def test_changed_content_retracts_stale_pairs(kind):
    """Re-ingesting an id with unrelated content (an edit, a re-crawl)
    must retract the pairs its OLD content produced; re-ingesting
    UNCHANGED content must remain a pure no-op (review r7: without
    retraction, stale pairs survive forever and the index diverges
    from the batch result)."""
    index = kind.make()
    index.ingest_batch(kind.corpus, 1)
    pairs0 = set(_pairs(index))
    assert pairs0
    victim = max(b for _, b in pairs0)
    changed = kind.row(victim, "totally unrelated replacement text " * 12)
    index.ingest_batch(changed, 2)
    after = set(_pairs(index))
    assert after == {p for p in pairs0 if victim not in p}
    assert victim in _ids(index.sigs, kind.id)
    index.ingest_batch(changed, 3)  # unchanged re-ingest: no-op
    assert set(_pairs(index)) == after


def test_same_batch_id_delete_beats_ingest(kind):
    """The delete-wins contract across the phase-split seqs: a
    compliance delete stamped with the SAME batch id as an ingest of
    the id must win regardless of call order (review r7 second pass —
    the first phase-split put upserts ABOVE deletes and silently
    reversed it)."""
    index = kind.make()
    index.ingest_batch(kind.corpus, 1)
    pairs_at_1 = _pairs(index)
    victim = max(b for _, b in pairs_at_1)
    again = kind.corpus.filter(F.col(kind.id) == victim)
    # ingest FIRST, delete SECOND — and the delete must still win
    index.ingest_batch(again, 2)
    index.delete_docs(again.select(kind.id), 2)
    assert victim not in _ids(index.sigs, kind.id)
    assert victim not in _ids(index.bands, kind.id)
    assert all(victim not in p for p in _pairs(index))
    # a LATER re-ingest (higher batch id) revives the id and its pairs
    index.ingest_batch(again, 3)
    assert _pairs(index) == pairs_at_1


def test_shrunk_below_one_shingle_leaves_index(kind):
    """Content re-ingested below one shingle (an error page) has no
    signature — the id must LEAVE the index entirely: signature and
    band rows deleted, pairs retracted (review r7 second pass: a plain
    changed-join misses ids absent from the new signature frame). A
    replay stays a no-op and the original content revives the pairs."""
    index = kind.make()
    index.ingest_batch(kind.corpus, 1)
    pairs0 = set(_pairs(index))
    victim = max(b for _, b in pairs0)
    tiny = kind.row(victim, "err")
    for batch_id in (2, 2):  # second pass: replay
        index.ingest_batch(tiny, batch_id)
        assert victim not in _ids(index.sigs, kind.id)
        assert victim not in _ids(index.bands, kind.id)
        assert set(_pairs(index)) == {p for p in pairs0 if victim not in p}
    index.ingest_batch(kind.corpus.filter(F.col(kind.id) == victim), 3)
    assert set(_pairs(index)) == pairs0


# the state layout as written by earlier builds: a change here strands
# every deployed index's state dirs
_STATE_SCHEMA = {
    "neardup": {
        "sigs": "doc_id bigint, s array<string>, sig array<bigint>",
        "bands": "doc_id bigint, band int, bucket bigint",
        "pairs": "doc_a bigint, doc_b bigint, jaccard double",
    },
    "simdup": {
        "sigs": "media_id bigint, sig bigint",
        "bands": "media_id bigint, band int, bucket bigint",
        "pairs": "media_a bigint, media_b bigint, hamming bigint",
    },
}


def test_state_schema_is_stable(kind, spark):
    """Each state table's on-disk columns and types (payload, seq, and
    the tombstone marker) stay exactly what earlier builds wrote, so an
    index opened on existing state keeps loading it."""
    index = kind.make()
    index.ingest_batch(kind.corpus, 1)
    want = _STATE_SCHEMA[kind.name]
    for name, cols in want.items():
        on_disk = spark.read.parquet(getattr(index, name).path).dtypes
        expect = [tuple(c.split(" ")) for c in cols.split(", ")]
        assert on_disk == [*expect, ("seq", "bigint"), ("__op", "string")], name
    assert index.pairs_df().dtypes == [
        tuple(c.split(" ")) for c in want["pairs"].split(", ")
    ]


@pytest.mark.slow
def test_bucketed_index_equals_flat(spark, tmp_path):
    """The RANGE-bucketed variant (monotone doc-id ingest → one-bucket
    rewrites for the corpus tables) must detect the identical pair set,
    and a second-batch ingest must leave the first batch's untouched
    low-id sig bucket on its original version directory (the
    bucketed StateTable's untouched-bucket guarantee, exercised through
    the index)."""
    import os

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    flat = NearDupIndex(spark, str(tmp_path / "flat"))
    bucketed = NearDupIndex(
        spark,
        str(tmp_path / "bucketed"),
        bucket_col=F.floor(F.col("doc_id") / 100000),
        n_buckets=16,
    )
    first = corpus.filter(F.col("doc_id") < 200000)   # originals
    second = corpus.filter(F.col("doc_id") >= 200000)  # copies, higher range
    for idx in (flat, bucketed):
        idx.ingest_batch(first, 0)
    b0 = str(tmp_path / "bucketed" / "sigs" / "bucket-000000")
    v_before = os.readlink(b0)
    for idx in (flat, bucketed):
        idx.ingest_batch(second, 1)
    assert os.readlink(b0) == v_before, "low-id bucket rewritten by high-id batch"
    fp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in flat.pairs_df().collect()}
    bp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in bucketed.pairs_df().collect()}
    assert fp == bp and fp, "bucketed index diverged from flat"


@pytest.mark.slow
def test_neardup_band_pruned_mode_matches_flat(spark, tmp_path):
    """The text-index mirror of the simdup point-lookup swap: with a
    bucketed signature table AND a value-bucketed band index, the full
    lifecycle — cross-batch detection, changed-content re-ingest,
    shrunk-below-shingling re-ingest, replay, compliance delete,
    revival — produces exactly the flat index's pair set at every
    step, and every probe read during the lifecycle is bucket-pruned."""
    from kube_etl_spark.streaming.cdc import StateTable

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9).localCheckpoint(eager=True)
    b1 = corpus.filter(F.col("doc_id") < 200000)
    b2 = corpus.filter(F.col("doc_id") >= 200000)

    flat = NearDupIndex(spark, str(tmp_path / "flat"))
    pruned = NearDupIndex(
        spark,
        str(tmp_path / "pruned"),
        bucket_col=F.pmod(F.xxhash64("doc_id"), F.lit(8)),
        n_buckets=8,
        band_buckets=32,
    )

    band_reads: list = []
    orig_read = StateTable.read

    def spy_read(self, buckets=None):
        if self.bucketed and self.path.endswith("bands"):
            band_reads.append(buckets)
        return orig_read(self, buckets)

    StateTable.read = spy_read
    try:
        victim = None
        for step, act in enumerate(
            [
                lambda ix: ix.ingest_batch(b1, 1),
                lambda ix: ix.ingest_batch(b2, 2),
                lambda ix: ix.ingest_batch(
                    spark.createDataFrame(
                        [(victim, "entirely different replacement text " * 10)],
                        "doc_id long, text string",
                    ),
                    3,
                ),
                # shrunk below one shingle: leaves the band index
                lambda ix: ix.ingest_batch(
                    spark.createDataFrame([(7, "x")], "doc_id long, text string"), 4
                ),
                lambda ix: ix.ingest_batch(b2, 2),  # replay
                lambda ix: ix.delete_docs(
                    spark.createDataFrame([(victim,)], "doc_id long"), 5
                ),
                lambda ix: ix.ingest_batch(
                    corpus.filter(F.col("doc_id") == victim), 6
                ),
            ]
        ):
            act(flat)
            act(pruned)
            fp = {tuple(r) for r in flat.pairs_df().collect()}
            pp = {tuple(r) for r in pruned.pairs_df().collect()}
            assert fp == pp, f"step {step}: flat != pruned"
            if step == 1:
                assert fp, "no pairs after both batches"
                victim = max(b for _, b, _ in fp)
    finally:
        StateTable.read = orig_read

    cols = ["doc_id", "band", "bucket"]
    assert {tuple(r) for r in flat.bands.read().select(*cols).collect()} == {
        tuple(r) for r in pruned.bands.read().select(*cols).collect()
    }
    assert band_reads and all(b is not None for b in band_reads)


def test_compliance_deletion_retracts_pairs(spark, tmp_path):
    """delete_docs must drop the deleted docs from every state table,
    retract every pair referencing them, be idempotent, and allow a
    later re-ingest of the same ids to re-detect the pairs."""
    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    index = NearDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(corpus, 0)
    before = {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()}
    assert before
    copies = corpus.filter(F.col("doc_id") >= 200000).select("doc_id")
    n_copies = copies.count()
    n_docs = index.sigs.read().count()

    index.delete_docs(copies, 1)
    assert index.sigs.read().count() == n_docs - n_copies
    assert index.bands.read().filter(F.col("doc_id") >= 200000).count() == 0
    left = {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()}
    assert all(a < 200000 and b < 200000 for a, b in left)
    assert left < before  # copies' pairs retracted, others intact

    index.delete_docs(copies, 1)  # redelivery: idempotent
    assert {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()} == left

    # re-ingest the deleted docs: their pairs come back
    index.ingest_batch(corpus.filter(F.col("doc_id") >= 200000), 2)
    assert {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()} == before


def test_streaming_semantic_dedup_matches_batch(spark, tmp_path):
    """The embedding twin: with the SAME frozen centroids the batch
    query derives (seed-fixed k-means on the augmented corpus), feeding
    the vectors in two micro-batches must converge to EXACTLY
    q_dedup_semantic's pair set, and replay must be a no-op."""
    from kube_etl_spark.queries.llm import (
        _dot,
        _kmeans_centroids,
        _neardup_embeddings,
    )
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    emb = _neardup_embeddings(spark, SMOKE_SF, limit=10**9).select("vec_id", "v")
    vn = emb.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("nrm")))
    n = emb.count()
    k = max(4, min(16, n // 64))
    cent = _kmeans_centroids(spark, vn.select("vec_id", F.col("vn").alias("v")), k=k)

    index = SemanticDedupIndex(spark, str(tmp_path / "state"), cent)
    # originals first, perturbed copies second: every true near-dup
    # pair spans the two batches, so CROSS-batch detection is what the
    # equality below actually exercises
    first = emb.filter(F.col("vec_id") < 100000)
    second = emb.filter(F.col("vec_id") >= 100000)
    index.ingest_batch(first, 0)
    index.ingest_batch(second, 1)
    got = {(r["vec_a"], r["vec_b"]): r["cos"] for r in index.pairs_df().collect()}
    want = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in all_specs()["q_dedup_semantic"].fn(spark, SMOKE_SF).collect()
    }
    assert want, "batch semantic dedup found no pairs — fixture regression"
    assert got == want

    index.ingest_batch(second, 1)  # replay
    assert {
        (r["vec_a"], r["vec_b"]): r["cos"] for r in index.pairs_df().collect()
    } == want


def test_semantic_deletion_retracts_pairs(spark, tmp_path):
    """delete_vecs drops the vectors from member state (all cells) and
    retracts their pairs, idempotently; re-ingest re-detects."""
    from kube_etl_spark.queries.llm import (
        _dot,
        _kmeans_centroids,
        _neardup_embeddings,
    )
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    emb = _neardup_embeddings(spark, SMOKE_SF, limit=10**9).select("vec_id", "v")
    vn = emb.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("nrm")))
    k = max(4, min(16, emb.count() // 64))
    cent = _kmeans_centroids(spark, vn.select("vec_id", F.col("vn").alias("v")), k=k)
    index = SemanticDedupIndex(spark, str(tmp_path / "state"), cent)
    index.ingest_batch(emb, 0)
    before = {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()}
    assert before
    copies = emb.filter(F.col("vec_id") >= 100000).select("vec_id")
    index.delete_vecs(copies, 1)
    assert index.members.read().filter(F.col("vec_id") >= 100000).count() == 0
    left = {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()}
    assert all(a < 100000 and b < 100000 for a, b in left) and left < before
    index.delete_vecs(copies, 1)
    assert {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()} == left
    index.ingest_batch(emb.filter(F.col("vec_id") >= 100000), 2)
    assert {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()} == before


def test_streaming_substring_index_matches_batch(spark, tmp_path):
    """Incremental repeated-span maintenance: originals first (few or
    no spans), copies second — the copies RETROACTIVELY create spans in
    the originals (the non-monotone delta case), and the converged span
    set must equal the one-shot repeated_spans over the full corpus.
    Redelivering the last batch must change nothing."""
    from kube_etl_spark.queries.llm import repeated_spans
    from kube_etl_spark.streaming.substrdup import SubstringDupIndex

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    originals = corpus.filter(F.col("doc_id") < 200000)
    copies = corpus.filter(F.col("doc_id") >= 200000)

    index = SubstringDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(originals, 0)
    after_first = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in index.spans_df().collect()
    }
    index.ingest_batch(copies, 1)
    got = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in index.spans_df().collect()
    }
    want = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in repeated_spans(corpus, w=10).collect()
    }
    assert want, "batch span query found nothing — fixture regression"
    assert got == want
    # retroactivity actually happened: some ORIGINAL doc gained a span
    # only after its copy arrived
    originals_with_spans = {d for d, _, _ in got if d < 200000}
    new_originals = originals_with_spans - {d for d, _, _ in after_first if d < 200000}
    assert new_originals, "no original doc was retroactively updated"

    index.ingest_batch(copies, 1)  # redelivery: a no-op
    again = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in index.spans_df().collect()
    }
    assert again == got


def test_bucketed_fresh_index_short_doc_batch(spark, tmp_path):
    """A fresh BUCKETED index whose first batch contains only docs too
    short to shingle must not crash (lsh_bands drops null signatures,
    so no band state exists to probe) and must work normally once real
    docs arrive."""
    index = NearDupIndex(
        spark, str(tmp_path / "state"), bucket_col=F.pmod(F.col("doc_id"), F.lit(4))
    )
    short = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    index.ingest_batch(short, 0)  # must not raise
    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    index.ingest_batch(corpus, 1)
    got = {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()}
    assert got == set(_batch_pairs(spark))


def test_delete_wins_same_seq_tie(spark, tmp_path):
    """An upsert and a delete for the same key carrying the SAME seq
    (one micro-batch inserting and GDPR-deleting a doc, delete stamped
    with the batch id) must resolve to the delete — a lost delete is a
    silent compliance failure; a lost same-seq upsert is re-ingestable."""
    from kube_etl_spark.streaming.cdc import StateTable

    for name, table in [
        ("flat", StateTable(spark, str(tmp_path / "flat"), ["k"], "seq")),
        (
            "bucketed",
            StateTable(
                spark, str(tmp_path / "bucketed"), ["k"], "seq", n_buckets=4
            ),
        ),
    ]:
        table.merge_batch(
            spark.createDataFrame(
                [(1, 5, "v", "upsert"), (1, 5, None, "delete"), (2, 5, "w", "upsert")],
                "k long, seq long, v string, op string",
            )
        )
        rows = {r["k"] for r in table.read().collect()}
        assert rows == {2}, f"{name}: same-seq delete lost to the upsert"


def test_substring_index_rejects_changed_text(spark, tmp_path):
    """Re-ingesting a doc_id with DIFFERENT text must fail loudly:
    counts are additive and cannot be decremented, so accepting the
    update would silently desynchronize counts from positions
    (phantom/missing spans). Identical-text redelivery stays a no-op."""
    import pytest as _pytest

    from kube_etl_spark.streaming.substrdup import SubstringDupIndex

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    index = SubstringDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(corpus, 0)
    mutated = corpus.limit(1).select(
        "doc_id", F.concat(F.lit("changed changed "), F.col("text")).alias("text")
    )
    with _pytest.raises(ValueError, match="append-only"):
        index.ingest_batch(mutated, 1)


def test_substring_index_rejects_truncated_text(spark, tmp_path):
    """A TRUNCATED re-ingest (grams are a strict prefix of the indexed
    set) slips past the overlap-hash check alone — no overlapping
    position differs — yet would leave stale tail positions/spans that
    reflect text no longer in the document. The per-doc extent guard
    must reject it (ADVICE r3)."""
    import pytest as _pytest

    from kube_etl_spark.streaming.substrdup import SubstringDupIndex

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    index = SubstringDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(corpus, 0)
    truncated = corpus.limit(1).select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 12)
        ).alias("text"),
    )
    with _pytest.raises(ValueError, match="append-only"):
        index.ingest_batch(truncated, 1)


def test_substring_partial_crash_redelivery_converges(spark, tmp_path):
    """Crash-safety of ingest_batch (ADVICE r3, medium): a crash AFTER
    the positions merge but BEFORE the counts/spans merges, followed by
    at-least-once redelivery of the same batch, must converge to the
    clean one-shot result. (The old additive-delta design permanently
    under-counted here: the redelivered batch's 'fresh' set was empty,
    so counts missed the batch forever.)"""
    from pyspark.sql import functions as F2

    from kube_etl_spark.streaming.substrdup import (
        SubstringDupIndex,
        _gram_positions,
    )

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    ref = SubstringDupIndex(spark, str(tmp_path / "ref"))
    ref.ingest_batch(corpus, 0)
    want = {tuple(r) for r in ref.spans_df().collect()}
    assert want, "fixture must produce repeated spans"

    crashed = SubstringDupIndex(spark, str(tmp_path / "crashed"))
    # simulate the partial failure: positions state committed, counts
    # and spans lost with the crash
    crashed.positions.merge_batch(
        _gram_positions(corpus.select("doc_id", "text"))
        .withColumn("seq", F2.lit(0).cast("bigint"))
        .withColumn("op", F2.lit("upsert"))
    )
    crashed.ingest_batch(corpus, 0)  # redelivery
    got = {tuple(r) for r in crashed.spans_df().collect()}
    assert got == want


def test_tombstone_blocks_replayed_earlier_upsert(spark, tmp_path):
    """Anti-resurrection (ADVICE r3): a compliance delete at seq D
    followed by at-least-once redelivery of an EARLIER uncommitted
    upsert (seq b < D) must keep the key deleted — the delete persists
    as a tombstone that outranks the stale upsert, instead of the
    filtered-out state leaving the replayed row uncontested."""
    from kube_etl_spark.streaming.cdc import StateTable

    for name, table in [
        ("flat", StateTable(spark, str(tmp_path / "flat"), ["k"], "seq")),
        (
            "bucketed",
            StateTable(
                spark, str(tmp_path / "bucketed"), ["k"], "seq", n_buckets=4
            ),
        ),
    ]:
        early = spark.createDataFrame(
            [(1, 1, "v1", "upsert"), (2, 1, "w1", "upsert")],
            "k long, seq long, v string, op string",
        )
        table.merge_batch(early)
        table.merge_batch(
            spark.createDataFrame(
                [(1, 5, None, "delete")], "k long, seq long, v string, op string"
            )
        )
        table.merge_batch(early)  # redelivery of the pre-delete batch
        rows = {r["k"] for r in table.read().collect()}
        assert rows == {2}, f"{name}: deleted key resurrected by replayed upsert"
        # a genuinely NEWER upsert (seq > D) re-creates the key
        table.merge_batch(
            spark.createDataFrame(
                [(1, 9, "v9", "upsert")], "k long, seq long, v string, op string"
            )
        )
        assert {r["k"] for r in table.read().collect()} == {1, 2}, name


def test_state_table_purge_tombstones_respects_horizon(spark, tmp_path):
    """purge_tombstones drops only tombstones older than the horizon;
    newer tombstones keep protecting their keys from late replays."""
    from kube_etl_spark.streaming.cdc import StateTable

    st = StateTable(spark, str(tmp_path / "state"), ["k"], "seq")
    st.merge_batch(
        spark.createDataFrame(
            [(1, 1, "a", "upsert"), (2, 1, "b", "upsert")],
            "k long, seq long, v string, op string",
        )
    )
    st.merge_batch(
        spark.createDataFrame(
            [(1, 3, None, "delete"), (2, 8, None, "delete")],
            "k long, seq long, v string, op string",
        )
    )
    st.purge_tombstones(before_seq=5)  # k=1 tombstone compacted away
    raw = st._read_raw()
    dead = {r["k"] for r in raw.filter(F.col("__op") == "delete").collect()}
    assert dead == {2}
    # k=2's surviving tombstone still blocks its stale replay
    st.merge_batch(
        spark.createDataFrame(
            [(2, 1, "b", "upsert")], "k long, seq long, v string, op string"
        )
    )
    assert st.read().count() == 0


def test_cms_stream_matches_batch_and_supports_deletion(spark, tmp_path):
    """Streaming Count-Min maintenance: ingesting the events fixture in
    3 micro-batches (one REPLAYED — at-least-once) must serve exactly
    the matrix the one-shot batch build computes; turnstile deletion of
    one user's events subtracts their mass so the batch-rebuilt matrix
    over the remaining corpus matches EXACTLY; estimates stay
    one-sided upper bounds throughout."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import cms_cells
    from kube_etl_spark.streaming.freq import CountMinIndex

    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id")
    idx = CountMinIndex(spark, str(tmp_path / "cms"), key_col="user_id")
    chunks = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    idx.ingest_batch(chunks[0], 0)
    idx.ingest_batch(chunks[1], 1)
    idx.ingest_batch(chunks[1], 1)  # redelivery: must overwrite, not add
    idx.ingest_batch(chunks[2], 2)

    direct = {(r["i"], r["bucket"]): r["n"] for r in cms_cells(ev, "user_id").collect()}
    served = {(r["i"], r["bucket"]): r["n"] for r in idx.matrix().collect()}
    assert served == direct

    # upper-bound check on every key
    cand = ev.select("user_id").distinct()
    est = {r["user_id"]: r["n_est"] for r in idx.estimate(cand).collect()}
    true = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[u] >= true[u] for u in true)

    # GDPR turnstile: delete the heaviest user's events; the served
    # matrix must equal a fresh batch build over the remaining corpus
    victim = max(true, key=lambda u: (true[u], u))
    idx.delete_keys(ev.filter(F.col("user_id") == victim), 3)
    remaining = ev.filter(F.col("user_id") != victim)
    rebuilt = {
        (r["i"], r["bucket"]): r["n"] for r in cms_cells(remaining, "user_id").collect()
    }
    served2 = {
        (r["i"], r["bucket"]): r["n"]
        for r in idx.matrix().filter(F.col("n") != 0).collect()
    }
    assert served2 == {k: v for k, v in rebuilt.items() if v != 0}

    # compaction folds history without changing the served matrix
    idx.compact()
    assert {
        (r["i"], r["bucket"]): r["n"]
        for r in idx.matrix().filter(F.col("n") != 0).collect()
    } == served2


def test_cms_real_stream_converges(spark, tmp_path):
    """The same convergence through a REAL Structured Streaming query
    (file source, availableNow, checkpointed foreachBatch)."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import cms_cells
    from kube_etl_spark.streaming.freq import CountMinIndex, run_cms_stream
    from kube_etl_spark.streaming.sources import chunked_file_stream

    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id")
    stream = chunked_file_stream(
        spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id"
    )
    idx = CountMinIndex(spark, str(tmp_path / "cms"), key_col="user_id")
    run_cms_stream(stream, idx, str(tmp_path / "ckpt"))
    direct = {(r["i"], r["bucket"]): r["n"] for r in cms_cells(ev, "user_id").collect()}
    served = {(r["i"], r["bucket"]): r["n"] for r in idx.matrix().collect()}
    assert served == direct


def test_bucketed_purge_tombstones(spark, tmp_path):
    """Per-bucket tombstone compaction honors the seq horizon and
    leaves live rows and newer tombstones protecting their keys."""
    from kube_etl_spark.streaming.cdc import StateTable

    t = StateTable(spark, str(tmp_path / "b"), ["k"], "seq", n_buckets=4)
    t.merge_batch(
        spark.createDataFrame(
            [(i, 1, f"v{i}", "upsert") for i in range(8)],
            "k long, seq long, v string, op string",
        )
    )
    t.merge_batch(
        spark.createDataFrame(
            [(0, 3, None, "delete"), (1, 9, None, "delete")],
            "k long, seq long, v string, op string",
        )
    )
    t.purge_tombstones(before_seq=5)
    assert {r["k"] for r in t.read().collect()} == set(range(2, 8))
    # k=1's newer tombstone survives and still fences its stale replay
    t.merge_batch(
        spark.createDataFrame(
            [(1, 1, "v1", "upsert")], "k long, seq long, v string, op string"
        )
    )
    assert 1 not in {r["k"] for r in t.read().collect()}
    # k=0's tombstone was compacted: a replayed old upsert resurrects
    # it (exactly why the horizon must trail the committed checkpoint)
    t.merge_batch(
        spark.createDataFrame(
            [(0, 1, "v0", "upsert")], "k long, seq long, v string, op string"
        )
    )
    assert 0 in {r["k"] for r in t.read().collect()}


def _simdup_corpus(spark):
    """The q_media_neardup fixture corpus at SMOKE_SF as (media_id,
    payload) — originals + the planted 3-byte tail variants."""
    from kube_etl_spark.catalog import load_table

    docs = (
        load_table(spark, SMOKE_SF, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    return docs.unionByName(variants).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )


def test_streaming_simdup_matches_batch(spark, tmp_path):
    """The incremental binary SimHash index (streaming/simdup.py) must
    converge to EXACTLY q_media_neardup's batch screen output when the
    same payloads arrive as a stream — in id order, so every planted
    variant arrives in a LATER batch than its original (the cross-batch
    case is the point)."""
    from kube_etl_spark.streaming.simdup import SimDupIndex, run_simdup_stream
    from kube_etl_spark.streaming.sources import chunked_file_stream

    corpus = _simdup_corpus(spark)
    stream = chunked_file_stream(
        spark, corpus, str(tmp_path / "src"), n_chunks=3, order_col="media_id"
    )
    index = SimDupIndex(spark, str(tmp_path / "state"))
    run_simdup_stream(stream, index, str(tmp_path / "ckpt"))
    streamed = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in index.pairs_df().collect()
    }
    batch = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in all_specs()["q_media_neardup"].fn(spark, SMOKE_SF).collect()
    }
    assert batch, "batch screen found no pairs — fixture regression"
    assert streamed == batch


def test_simdup_replay_and_deletion(spark, tmp_path):
    """At-least-once + compliance: re-ingesting a batch changes nothing;
    deleting a media_id retracts every pair referencing it and drops its
    signature/band state; re-ingesting the id re-detects its pairs."""
    from kube_etl_spark.streaming.simdup import SimDupIndex

    corpus = _simdup_corpus(spark).localCheckpoint(eager=True)
    b1 = corpus.filter(F.col("media_id") < 100000)
    b2 = corpus.filter(F.col("media_id") >= 100000)
    index = SimDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(b1, 1)
    index.ingest_batch(b2, 2)
    pairs0 = {tuple(r) for r in index.pairs_df().collect()}
    assert pairs0, "no pairs detected — fixture regression"
    # replay batch 2
    index.ingest_batch(b2, 2)
    assert {tuple(r) for r in index.pairs_df().collect()} == pairs0
    # delete one variant that participates in a pair
    victim = max(b for _, b, _ in pairs0)
    index.delete_docs(spark.createDataFrame([(victim,)], "media_id long"), 3)
    after = {tuple(r) for r in index.pairs_df().collect()}
    assert all(victim not in (a, b) for a, b, _ in after)
    assert index.sigs.read().filter(F.col("media_id") == victim).count() == 0
    # re-ingest the victim: its pairs come back
    index.ingest_batch(corpus.filter(F.col("media_id") == victim), 4)
    assert {tuple(r) for r in index.pairs_df().collect()} == pairs0


def test_simdup_crash_window_converges(spark, tmp_path):
    """Crash between the index's state merges: simulate a batch that
    died after merging signatures but BEFORE merging bands/probing
    (the worst redelivery window — state tables individually
    consistent, index incomplete), then redeliver the whole batch.
    The final state and pair set must equal a clean run's."""
    from kube_etl_spark.media import simhash_signatures
    from kube_etl_spark.streaming.simdup import SimDupIndex

    corpus = _simdup_corpus(spark).localCheckpoint(eager=True)
    b1 = corpus.filter(F.col("media_id") < 100000)
    b2 = corpus.filter(F.col("media_id") >= 100000)

    crashed = SimDupIndex(spark, str(tmp_path / "crashed"))
    crashed.ingest_batch(b1, 1)
    # simulated crash mid-ingest of batch 2: sigs merged, bands not
    sig = simhash_signatures(b2.select("media_id", "payload"))
    crashed.sigs.merge_batch(
        sig.withColumn("seq", F.lit(2).cast("bigint")).withColumn(
            "op", F.lit("upsert")
        )
    )
    # redelivery of the full batch (what the checkpoint replays)
    crashed.ingest_batch(b2, 2)

    clean = SimDupIndex(spark, str(tmp_path / "clean"))
    clean.ingest_batch(b1, 1)
    clean.ingest_batch(b2, 2)

    assert {tuple(r) for r in crashed.pairs_df().collect()} == {
        tuple(r) for r in clean.pairs_df().collect()
    }
    assert {tuple(r) for r in crashed.bands.read().drop("seq").collect()} == {
        tuple(r) for r in clean.bands.read().drop("seq").collect()
    }


def test_bucketed_state_pruned_read(spark, tmp_path):
    """StateTable.read(buckets=...) returns exactly the named
    live buckets' rows (tombstones still hidden), buckets_for maps a
    frame to its storage buckets, and ids for empty/unknown buckets are
    skipped silently — the point-lookup contract (VERDICT r7 #3)."""
    from kube_etl_spark.streaming.cdc import StateTable

    t = StateTable(
        spark, str(tmp_path / "t"), ["k"], "seq", n_buckets=4,
        bucket_col=F.pmod(F.col("k"), F.lit(4)),
    )
    rows = spark.createDataFrame(
        [(k, k * 10, 1, "upsert") for k in range(12)], "k long, v long, seq long, op string"
    )
    t.merge_batch(rows)
    t.merge_batch(
        spark.createDataFrame([(5, 2, "delete")], "k long, seq long, op string")
    )
    probe = spark.createDataFrame([(1,), (5,), (9,)], "k long")
    assert t.buckets_for(probe) == [1]
    got = {r["k"] for r in t.read(buckets=[1]).collect()}
    assert got == {1, 9}  # bucket 1 only, tombstoned 5 hidden
    # unknown/empty bucket ids skip silently
    assert t.read(buckets=[99]) is None
    assert {r["k"] for r in t.read(buckets=[0, 1, 99]).collect()} == {0, 4, 8, 1, 9}
    # full read unchanged
    assert t.read().count() == 11


def test_bucketed_open_of_flat_state_refuses(spark, tmp_path):
    """Opening an existing FLAT StateTable path as a bucketed StateTable
    must refuse loudly: the bucketed layout would write bucket dirs
    inside the flat table's current version dir and the established
    state would silently read as empty (review r8)."""
    import pytest

    from kube_etl_spark.streaming.cdc import StateTable

    t = StateTable(spark, str(tmp_path / "t"), ["k"], "seq")
    t.merge_batch(
        spark.createDataFrame([(1, 1, "upsert")], "k long, seq long, op string")
    )
    with pytest.raises(ValueError, match="flat StateTable layout"):
        StateTable(spark, str(tmp_path / "t"), ["k"], "seq", n_buckets=4)


@pytest.mark.slow
def test_simdup_bucket_pruned_mode_matches_flat(spark, tmp_path):
    """The executed point-lookup swap (VERDICT r7 #3): with a bucketed
    signature table AND a value-bucketed band index, the full lifecycle
    — cross-batch detection, changed-content re-ingest, shrunk payload,
    same-batch replay, compliance delete, revival — produces EXACTLY
    the flat index's pair set at every step, while the candidate probe
    reads only the batch's band-key buckets (asserted via a read spy:
    every post-warmup bands read is bucket-pruned and touches fewer
    dirs than exist)."""
    from kube_etl_spark.streaming import simdup as sd
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.simdup import SimDupIndex

    corpus = _simdup_corpus(spark).localCheckpoint(eager=True)
    b1 = corpus.filter(F.col("media_id") < 60)
    b2 = corpus.filter((F.col("media_id") >= 60) & (F.col("media_id") < 100000))
    b3 = corpus.filter(F.col("media_id") >= 100000)  # the planted variants

    flat = SimDupIndex(spark, str(tmp_path / "flat"))
    pruned = SimDupIndex(
        spark,
        str(tmp_path / "pruned"),
        bucket_col=F.pmod(F.xxhash64("media_id"), F.lit(8)),
        n_buckets=8,
        band_buckets=32,
    )

    band_reads: list = []
    orig_read = StateTable.read

    def spy_read(self, buckets=None):
        if self.bucketed and self.path.endswith("/bands"):
            band_reads.append(buckets)
        return orig_read(self, buckets)

    StateTable.read = spy_read
    try:
        victim = None
        for step, act in enumerate(
            [
                lambda ix: ix.ingest_batch(b1, 1),
                lambda ix: ix.ingest_batch(b2, 2),
                lambda ix: ix.ingest_batch(b3, 3),
                # changed content: victim's bytes replaced wholesale
                lambda ix: ix.ingest_batch(
                    spark.createDataFrame(
                        [(victim, "other bytes " * 9)], "media_id long, t string"
                    ).select("media_id", F.encode("t", "utf-8").alias("payload")),
                    4,
                ),
                # shrunk payload: another id leaves the index
                lambda ix: ix.ingest_batch(
                    spark.createDataFrame(
                        [(10, "x")], "media_id long, t string"
                    ).select("media_id", F.encode("t", "utf-8").alias("payload")),
                    5,
                ),
                # replay of batch 3
                lambda ix: ix.ingest_batch(b3, 3),
                # compliance delete + revival
                lambda ix: ix.delete_docs(
                    spark.createDataFrame([(100030,)], "media_id long"), 6
                ),
                lambda ix: ix.ingest_batch(
                    corpus.filter(F.col("media_id") == 100030), 7
                ),
            ]
        ):
            act(flat)
            act(pruned)
            fp = {tuple(r) for r in flat.pairs_df().collect()}
            pp = {tuple(r) for r in pruned.pairs_df().collect()}
            assert fp == pp, f"step {step}: flat != pruned"
            if step == 2:
                assert fp, "no pairs after the variants arrived"
                victim = max(b for _, b, _ in fp)
    finally:
        StateTable.read = orig_read

    # sig/band state converged too (ignoring seqs and layout)
    cols = ["media_id", "band", "bucket"]
    assert {tuple(r) for r in flat.bands.read().select(*cols).collect()} == {
        tuple(r) for r in pruned.bands.read().select(*cols).collect()
    }
    assert {
        (r["media_id"], r["sig"]) for r in flat.sigs.read().collect()
    } == {(r["media_id"], r["sig"]) for r in pruned.sigs.read().collect()}

    # every probe read during the lifecycle named its buckets (no full
    # band read anywhere), and the small-batch probes touched strictly
    # fewer dirs than exist
    assert band_reads and all(b is not None for b in band_reads)
    assert any(len(b) < 32 for b in band_reads)


def test_neardup_detects_change_behind_identical_signature(
    spark, tmp_path, monkeypatch
):
    """Review r9: changed-content detection compares the SHINGLE SET
    (via a 64-bit fingerprint), not the minhash signature — an edit
    whose added/removed shingles win none of the k seeded minima
    leaves the signature identical, and a sig-only compare skipped
    retraction while overwriting the stored sets (pairs whose stored
    jaccard no longer matched the stored shingles). Forced here by
    pinning every doc's signature to a constant: with sigs useless,
    only the set fingerprint can see the change — and it must."""
    from kube_etl_spark.streaming import neardup as nd

    real = nd.minhash_signatures

    def constant_sig(docs):
        from kube_etl_spark.queries.llm import _MINHASH_K

        out = real(docs)
        return out.withColumn(
            "sig", F.array_repeat(F.lit(7).cast("long"), _MINHASH_K)
        )

    monkeypatch.setattr(nd, "minhash_signatures", constant_sig)
    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9).filter(
        F.col("doc_id") % 5 == 0
    )
    index = NearDupIndex(spark, str(tmp_path / "state"))
    index.ingest_batch(corpus, 1)
    pairs0 = {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()}
    assert pairs0  # constant sigs band everything; exact verify filters
    victim = max(b for _, b in pairs0)
    changed = spark.createDataFrame(
        [(victim, "entirely different replacement content " * 12)],
        "doc_id long, text string",
    )
    index.ingest_batch(changed, 2)
    after = {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()}
    # the victim's stale pairs retracted despite the identical signature
    assert all(victim not in p for p in after)
    assert after == {p for p in pairs0 if victim not in p}
    # unchanged re-ingest stays a no-op (fingerprint equal)
    index.ingest_batch(changed, 3)
    assert {(r["doc_a"], r["doc_b"]) for r in index.pairs_df().collect()} == after


def test_semdedup_changed_vector_retracts_stale_pairs(spark, tmp_path):
    """The semantic index mirror: re-ingesting a vec_id with a changed
    embedding retracts its old pairs and re-detects under the new one;
    an unchanged re-ingest is a no-op."""
    from kube_etl_spark.queries.llm import _dot, _kmeans_centroids
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    vecs = (
        load_table(spark, SMOKE_SF, "embeddings")
        .filter(F.col("vec_id") < 80)
        .select("vec_id", F.col("embedding").alias("v"))
        .localCheckpoint(eager=True)
    )
    # plant one near-identical copy so a pair certainly exists
    copy = vecs.filter(F.col("vec_id") == 3).select(
        F.lit(9001).cast("long").alias("vec_id"), "v"
    )
    vn = vecs.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("nrm")))
    cent = _kmeans_centroids(
        spark, vn.select("vec_id", F.col("vn").alias("v")), k=4
    )
    index = SemanticDedupIndex(spark, str(tmp_path / "state"), cent)
    index.ingest_batch(vecs.unionByName(copy), 1)
    pairs0 = {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()}
    assert (3, 9001) in pairs0
    # replace the copy's embedding with an unrelated direction
    dim = len(vecs.first()["v"])
    changed = spark.createDataFrame(
        [(9001, [1.0] + [0.0] * (dim - 1))], "vec_id long, v array<float>"
    )
    index.ingest_batch(changed, 2)
    after = {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()}
    assert (3, 9001) not in after
    # unchanged re-ingest: no-op
    index.ingest_batch(changed, 3)
    assert {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()} == after


@pytest.mark.slow
def test_semdedup_cell_bucketed_mode_matches_flat(spark, tmp_path):
    """The semantic-index mirror of the point-lookup swap
    (cell_buckets=True): members bucketed by centroid_id with
    cell-pruned probes, a vec_id-bucketed vectors table for
    changed-detection, and re-assignment-derived cleanup — the full
    lifecycle (cross-batch detection, changed re-ingest, replay,
    compliance delete, revival) produces exactly the flat index's pair
    set at every step, and every member-state probe names its cells."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import _dot, _kmeans_centroids
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    vecs = (
        load_table(spark, SMOKE_SF, "embeddings")
        .filter(F.col("vec_id") < 80)
        .select("vec_id", F.col("embedding").alias("v"))
        .localCheckpoint(eager=True)
    )
    copy = vecs.filter(F.col("vec_id") == 3).select(
        F.lit(9001).cast("long").alias("vec_id"), "v"
    )
    vn = vecs.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("nrm")))
    cent = _kmeans_centroids(spark, vn.select("vec_id", F.col("vn").alias("v")), k=4)
    dim = len(vecs.first()["v"])

    flat = SemanticDedupIndex(spark, str(tmp_path / "flat"), cent)
    pruned = SemanticDedupIndex(
        spark,
        str(tmp_path / "pruned"),
        cent,
        cell_buckets=True,
        bucket_col=F.pmod(F.xxhash64("vec_id"), F.lit(8)),
        n_buckets=8,
    )

    member_reads: list = []
    orig_read = StateTable.read

    def spy_read(self, buckets=None):
        if self.bucketed and self.path.endswith("members"):
            member_reads.append(buckets)
        return orig_read(self, buckets)

    changed = spark.createDataFrame(
        [(9001, [1.0] + [0.0] * (dim - 1))], "vec_id long, v array<float>"
    )
    StateTable.read = spy_read
    try:
        for step, act in enumerate(
            [
                lambda ix: ix.ingest_batch(vecs, 1),
                lambda ix: ix.ingest_batch(copy, 2),
                lambda ix: ix.ingest_batch(changed, 3),  # re-crawl: new vector
                lambda ix: ix.ingest_batch(copy, 2),      # replay of batch 2
                lambda ix: ix.delete_vecs(
                    spark.createDataFrame([(9001,)], "vec_id long"), 4
                ),
                lambda ix: ix.ingest_batch(copy, 5),      # revival
            ]
        ):
            act(flat)
            act(pruned)
            fp = {tuple(r) for r in flat.pairs_df().collect()}
            pp = {tuple(r) for r in pruned.pairs_df().collect()}
            assert fp == pp, f"step {step}: flat != pruned"
            if step == 1:
                assert any(a == 3 and b == 9001 for a, b, _ in fp)
    finally:
        StateTable.read = orig_read

    # member state converged (v compared via the pair outputs above;
    # here the cell routing itself)
    cols = ["vec_id", "centroid_id"]
    assert {tuple(r) for r in flat.members.read().select(*cols).collect()} == {
        tuple(r) for r in pruned.members.read().select(*cols).collect()
    }
    assert member_reads and all(b is not None for b in member_reads)
    # probes touched at most the batch's 2·n cells, not all 4
    assert any(len(b) < 4 for b in member_reads)


def test_semdedup_changed_vector_clears_ghost_cells(spark, tmp_path):
    """Members is keyed (vec_id, centroid_id): a changed vector must
    not leave its OLD embedding live in its OLD cells, where later
    vectors could mint pairs against a retracted embedding (review r7
    second pass). After the re-ingest, the id's member rows hold ONLY
    the new embedding, and a new vector near the OLD embedding pairs
    with the original doc but never with the changed id."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import _dot, _kmeans_centroids
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    vecs = (
        load_table(spark, SMOKE_SF, "embeddings")
        .filter(F.col("vec_id") < 80)
        .select("vec_id", F.col("embedding").alias("v"))
        .localCheckpoint(eager=True)
    )
    copy = vecs.filter(F.col("vec_id") == 3).select(
        F.lit(9001).cast("long").alias("vec_id"), "v"
    )
    vn = vecs.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("nrm")))
    cent = _kmeans_centroids(spark, vn.select("vec_id", F.col("vn").alias("v")), k=4)
    index = SemanticDedupIndex(spark, str(tmp_path / "state"), cent)
    index.ingest_batch(vecs.unionByName(copy), 1)
    assert (3, 9001) in {
        (r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()
    }
    dim = len(vecs.first()["v"])
    changed = spark.createDataFrame(
        [(9001, [1.0] + [0.0] * (dim - 1))], "vec_id long, v array<float>"
    )
    index.ingest_batch(changed, 2)
    # no ghost cells: every surviving member row of 9001 carries the NEW v
    rows = index.members.read().filter(F.col("vec_id") == 9001).collect()
    assert rows and all(abs(r["v"][0] - 1.0) < 1e-6 for r in rows)
    # a later vector identical to vec 3's embedding pairs with 3 but
    # NOT with the changed 9001
    probe = vecs.filter(F.col("vec_id") == 3).select(
        F.lit(9002).cast("long").alias("vec_id"), "v"
    )
    index.ingest_batch(probe, 3)
    pairs = {(r["vec_a"], r["vec_b"]) for r in index.pairs_df().collect()}
    assert (3, 9002) in pairs and (9001, 9002) not in pairs
