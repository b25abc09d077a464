"""Continuous near-duplicate detection (EXT; the streaming twin of
queries/llm.py's q_dedup_fuzzy MinHash-LSH batch path).

The MinHash-LSH definition of the shared banded pair index
(streaming/banded.py): documents are signed and banded with the SAME
helpers the batch query uses (minhash_signatures / lsh_bands — one
implementation, so incremental ≡ one-shot holds by construction),
probed against the accumulated band index (8n narrow rows per batch),
estimate-pruned on signatures (256 B/doc) and exact-verified on the
stored shingle sets (lsh_estimate_verify).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries.llm import (
    lsh_bands,
    lsh_estimate_verify,
    minhash_signatures,
)
from .banded import BandedPairIndex, run_pair_index_stream


class NearDupIndex(BandedPairIndex):
    """Incrementally-maintained MinHash-LSH near-dup index.

    Three state tables under ``base_dir``:
      * ``sigs``  — (doc_id, s, sig): shingle set + minhash signature
                    per ingested document (the verify side);
      * ``bands`` — (doc_id, band, bucket): the LSH probe index;
      * ``pairs`` — (doc_a, doc_b, jaccard): every detected near-dup
                    pair (doc_a < doc_b), exact-verified at ≥
                    JACCARD_OUT.

    Constructor options (bucket_col over doc_id, n_buckets,
    band_buckets): see BandedPairIndex."""

    id_col = "doc_id"
    pair_cols = ("doc_a", "doc_b", "jaccard")
    value_type = "double"

    def _sign(self, batch: DataFrame) -> DataFrame:
        return minhash_signatures(batch.select("doc_id", "text"))

    def _band_rows(self, sig: DataFrame) -> DataFrame:
        return lsh_bands(sig)

    def _change_key(self) -> Column:
        # changed content is detected on the SHINGLE SET, not the
        # minhash signature (review r9): this index's pairs carry exact
        # Jaccard over the stored sets, and an edit whose added/removed
        # shingles win none of the k seeded minima leaves the signature
        # identical — a sig-only compare would skip retraction while
        # the upsert overwrites 's', leaving pairs whose stored jaccard
        # no longer matches the stored sets (contrast simdup, whose
        # pair truth IS a pure function of its signature). Compared via
        # a 64-bit fingerprint of the sorted set so the exchange moves
        # 8 bytes per doc instead of whole shingle sets.
        return F.when(F.size("s") > 0, F.xxhash64(F.sort_array(F.col("s"))))

    def _verify(self, cand: DataFrame, sig_state: DataFrame) -> DataFrame:
        # estimate + exact verify: the SAME two-stage helper the batch
        # query uses (one implementation — stream≡batch by construction)
        return lsh_estimate_verify(cand, sig_state)


run_neardup_stream = run_pair_index_stream
