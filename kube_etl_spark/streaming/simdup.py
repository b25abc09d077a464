"""Continuous BINARY near-duplicate detection (EXT; the streaming twin
of queries/mediaq.py's q_media_neardup byte-shingle SimHash screen —
and the fourth incremental dedup index, beside the MinHash-LSH, the
semantic, and the substring indexes).

The SimHash definition of the shared banded pair index
(streaming/banded.py), with the SAME signature and band-key code the
batch query uses (media.simhash_signatures / media.SIMHASH_BAND_SQL —
one implementation, so incremental ≡ one-shot holds by construction;
the signature width/banding/threshold constants are the measured
choices in docs/architecture.md §round-7b). Per batch: 4n narrow band
rows probe the index, and the verdict is one bit_count(xor) per
candidate pair against the 8-byte stored signatures.

Unlike the text NearDupIndex (which retains shingle sets for its
exact-verify tier), this index retains NOTHING content-derived beyond
the 8-byte signature — deliberately: media payloads are large and the
compliance-deletion contract is then trivial. The exact-verify tier
(media.byte_jaccard_verify) composes on demand against the payload
store (the landing zone) for the pairs table's candidates, at
candidate-pair-sized cost (measured: docs/architecture.md §round-7c).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..media import SIMHASH_BAND_SQL, simhash_signatures
from .banded import BandedPairIndex, run_pair_index_stream


class SimDupIndex(BandedPairIndex):
    """Incrementally-maintained binary SimHash near-dup index.

    Three state tables under ``base_dir``:
      * ``sigs``  — (media_id, sig): the 32-bit signature per payload
                    (the verdict side; 8 bytes each);
      * ``bands`` — (media_id, band, bucket): the 4-band probe index
                    (lo/hi/even/odd 16-bit views);
      * ``pairs`` — (media_a, media_b, hamming): every detected pair
                    (media_a < media_b) at Hamming ≤ ``hamming_max``.

    Other constructor options (bucket_col over media_id, n_buckets,
    band_buckets): see BandedPairIndex."""

    id_col = "media_id"
    pair_cols = ("media_a", "media_b", "hamming")
    value_type = "bigint"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        hamming_max: int = 4,
        bucket_col: Column | None = None,
        n_buckets: int = 16,
        band_buckets: int | None = None,
    ):
        super().__init__(spark, base_dir, bucket_col, n_buckets, band_buckets)
        self.hamming_max = hamming_max

    def _sign(self, batch: DataFrame) -> DataFrame:
        # payloads under one shingle have no signature: keep their ids
        # with a NULL sig so a re-crawl to an error page leaves the index
        sig = simhash_signatures(batch.select("media_id", "payload"))
        return batch.select("media_id").distinct().join(sig, "media_id", "left")

    def _band_rows(self, sig: DataFrame) -> DataFrame:
        rows = None
        for i, expr in enumerate(SIMHASH_BAND_SQL):
            r = sig.select(
                "media_id",
                F.lit(i).cast("int").alias("band"),
                F.expr(expr).cast("bigint").alias("bucket"),
            )
            rows = r if rows is None else rows.unionByName(r)
        return rows

    def _change_key(self) -> Column:
        # the pair truth IS a pure function of the signature
        return F.col("sig")

    def _verify(self, cand: DataFrame, sig_state: DataFrame) -> DataFrame:
        sigs = sig_state.select("media_id", "sig")
        return (
            cand.join(
                sigs.select(
                    F.col("media_id").alias("media_a"), F.col("sig").alias("sa")
                ),
                "media_a",
            )
            .join(
                sigs.select(
                    F.col("media_id").alias("media_b"), F.col("sig").alias("sb")
                ),
                "media_b",
            )
            .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
            .filter(F.col("hamming") <= self.hamming_max)
            .select("media_a", "media_b", "hamming")
        )


run_simdup_stream = run_pair_index_stream
