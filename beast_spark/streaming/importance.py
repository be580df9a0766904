"""Streaming DSIR importance-model maintenance: the hashed-n-gram
target/raw bucket models of ``operators/importance.py`` kept live over
the document stream.

The fitted model's sufficient statistics are per-bucket INSTANCE COUNTS
(raw and target) — purely additive under a frozen featurization
(hash family, bucket count, target predicate), so each micro-batch runs
the batch operator's OWN builders (:func:`doc_bucket_counts` →
:func:`bucket_model_counts` — shared so twin and batch query cannot
drift) over its own documents and merges O(B) longs by addition. State
is B rows regardless of corpus size; scoring any document set against
the maintained model is a broadcast map-side pass
(:func:`score_bucket_counts`).

streamed-model(prefix) == batch-model(prefix) exactly — integer count
sums — so a selection served from the maintained model matches the
batch q219 bit-for-bit; the registered q222 shares q219's oracle
VERBATIM. Choreography (replay no-op, marker flipped with the counts in
one manifest commit, guarded reads) comes from the shared
``streaming/swap.py::AdditiveStatsMaintainer`` base. The marker freezes
(predicate, n_buckets, hash_family): counts accumulated under one
featurization are meaningless under another, so a reopened maintainer
with changed config refuses instead of mixing regimes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.importance import (
    bucket_model_counts,
    doc_bucket_counts,
    model_from_counts,
    score_bucket_counts,
)
from beast_spark.streaming.swap import AdditiveStatsMaintainer

__all__ = ["ImportanceModelMaintainer"]


class ImportanceModelMaintainer(AdditiveStatsMaintainer):
    """Owns one manifest-committed state directory (counts — one row per
    hash bucket: raw_c, tgt_c)."""

    def __init__(
        self,
        path: str,
        target_predicate: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 512,
        hash_family: str = "md5",
    ) -> None:
        AdditiveStatsMaintainer.__init__(self, path)
        self.target_predicate = target_predicate
        self.text_col = text_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.hash_family = hash_family

    def _meta(self) -> dict:
        return {
            "predicate": self.target_predicate,
            "n_buckets": self.n_buckets,
            "hash_family": self.hash_family,
            "text_col": self.text_col,
        }

    def _guard_hint(self) -> str:
        return (
            "the frozen featurization (target predicate / bucket count / "
            "hash family) changed — bucket counts across featurizations "
            "are meaningless; rebuild the state (fresh dir + checkpoint) "
            "under the new config."
        )

    def _empty_msg(self) -> str:
        return "ImportanceModelMaintainer: no documents ingested yet"

    def _batch_counts(
        self, spark: SparkSession, batch_df: DataFrame
    ) -> DataFrame:
        return bucket_model_counts(
            doc_bucket_counts(
                batch_df,
                is_target=F.expr(self.target_predicate),
                text_col=self.text_col,
                id_col=self.id_col,
                n_buckets=self.n_buckets,
                hash_family=self.hash_family,
            )
        )

    def _merge(self, counts: DataFrame, inc: DataFrame) -> DataFrame:
        return (
            counts.unionByName(inc)
            .groupBy("bucket")
            .agg(F.sum("raw_c").alias("raw_c"), F.sum("tgt_c").alias("tgt_c"))
        )

    # -- serving --------------------------------------------------------------

    def read_model(self, spark: SparkSession, alpha: float = 1.0) -> DataFrame:
        """(bucket, log_ratio): the fitted model over everything
        ingested so far (marker-validated read)."""
        return model_from_counts(
            self._read_counts_guarded(spark), self.n_buckets, alpha
        )

    def score(
        self,
        docs: DataFrame,
        alpha: float = 1.0,
        round_digits: int = 4,
    ) -> DataFrame:
        """(id, n_features, weight) for ``docs`` under the MAINTAINED
        model — the serving pass a selection pipeline runs downstream;
        one map-side featurize + broadcast model join, no state scan
        beyond the B-row counts."""
        spark = docs.sparkSession
        db = doc_bucket_counts(
            docs,
            is_target=F.lit(False),  # scoring never updates the model
            text_col=self.text_col,
            id_col=self.id_col,
            n_buckets=self.n_buckets,
            hash_family=self.hash_family,
        )
        return score_bucket_counts(
            db, self.read_model(spark, alpha), self.id_col, round_digits
        )
