"""Streaming token accounting: q188's per-source token/char/subword
totals maintained as documents stream in.

A training-data pipeline budgets by TOKENS — per-source token counts
drive mixture weights, source caps, and cost projections — and the
number should be live over the ingest stream, not a nightly rescan.
Every quantity q188 reports is a sum of per-word values under a FROZEN
tokenizer (the trained BPE segmentation table — per-word subword
counts, the same frozen-artifact contract as the IVF centroids:
accounting is only additive while the tokenizer bytes stay identical),
so maintenance is purely additive: each micro-batch runs q188's OWN
builder (``operators/bpe.py::bpe_token_accounting`` — shared so the
twin and the batch query cannot drift) over its own documents and
merges O(sources) counts by addition.
streamed(prefix) == batch q188(prefix) exactly — the per-prefix
equivalence the tests pin; the registered q198 shares q188's oracle
VERBATIM.

Choreography (replay no-op, marker flipped with the counts, guarded
reads) comes from the shared ``streaming/swap.py::AdditiveStatsMaintainer``
base — the same base the gate-accounting maintainer rides on. State is
O(sources), so each batch commits the merged counts as one full
sub-table through the manifest flip, the single commit point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.bpe import bpe_token_accounting
from beast_spark.streaming.swap import (
    AdditiveStatsMaintainer,
    artifact_fingerprint,
)

__all__ = ["TokenAccountingMaintainer"]


class TokenAccountingMaintainer(AdditiveStatsMaintainer):
    """Owns one manifest-committed state directory (counts — one row per
    source)."""

    def __init__(self, path: str, seg_path: str, fingerprint=None) -> None:
        AdditiveStatsMaintainer.__init__(self, path)
        self.seg_path = seg_path
        # storage-native fingerprint hook, as in streaming/ivf.py
        self.fingerprint = fingerprint or artifact_fingerprint

    def _meta(self) -> dict:
        return {"seg": self.fingerprint(self.seg_path)}

    def _guard_hint(self) -> str:
        return (
            "the frozen segmentation changed — token counts across "
            "tokenizer generations are meaningless; rebuild the state "
            "(fresh dir + checkpoint) against the retrained tokenizer."
        )

    def _empty_msg(self) -> str:
        return "TokenAccountingMaintainer: no documents ingested yet"

    def _batch_counts(
        self, spark: SparkSession, batch_df: DataFrame
    ) -> DataFrame:
        return bpe_token_accounting(
            batch_df, spark.read.parquet(self.seg_path)
        )

    def _merge(self, counts: DataFrame, inc: DataFrame) -> DataFrame:
        return (
            counts.unionByName(inc)
            .groupBy("source")
            .agg(
                F.sum("n_words").alias("n_words"),
                F.sum("n_chars").alias("n_chars"),
                F.sum("n_subwords").alias("n_subwords"),
            )
        )

    def read_stats(self, spark: SparkSession) -> DataFrame:
        """q188's per-source accounting over everything ingested so far
        (marker-validated via the shared guarded read)."""
        return self._read_counts_guarded(spark).select(
            "source", "n_words", "n_chars", "n_subwords"
        )
