"""Streaming corpus-prep v2: q161's quality-gate pipeline maintained
incrementally over a document stream.

v1 (``streaming/corpus.py``) streams the monotone gates — a document's
verdict never changes once computed, so RocksDB ``dropDuplicates``
state suffices. v2 adds the boilerplate gate, and that one is
RETROACTIVE: a chunk becomes boilerplate when its SECOND distinct
document arrives, which can disqualify a document accepted batches ago.
No append-mode streaming operator can un-emit a row, so v2 is a
``foreachBatch`` incremental maintainer on the shared lifecycle
(``streaming/swap.py::Maintainer``) — cross-batch semantic state lives
in one swap-committed directory (exactly-once via the shared ledger
protocol of ``streaming/swap.py``; the stream itself carries no engine
state),
holding three sub-tables:

* ``signals``  — one slim row per document ever seen: gate signals +
  the boilerplate counters (n_chunks, n_boiler) that later batches may
  bump, + md5(text) for the exact-dedup canon.
* ``chunks``   — (chash, n_docs) distinct-document counts.
* ``postings`` — (chash, doc_id), the inverted chunk index.

Per-batch work is O(batch + postings-of-crossed-chunks): new documents
compute their signals locally; existing documents are touched ONLY if
one of this batch's chunks crossed the >=2 threshold (the ``crossed``
frame — small by construction), found through the postings index. At
warehouse scale write ``postings`` bucketed by chash (the q98
band-index discipline) so the crossed lookup prunes to the affected
buckets; locally it is a plain parquet dir. The survivors view is
recomputed from the aggregate-sized ``signals`` table at read time —
the same "derived table is orders of magnitude smaller than its input"
simplification the rollup maintainer documents.

Equivalence contract (tested): after any prefix of batches, the
survivors == the batch q161 pipeline run over exactly the documents
ingested so far — including documents that appear in survivors after
batch k and DISAPPEAR after batch k+1 (retroactive boilerplate), and
canon reassignment when a cluster's min-id member is disqualified.
Reference parity: the gates are q123/q117/q124 via the shared builders
in ``operators/quality.py``; thresholds match q161
(norm_entropy >= 0.8, dup_trigram_frac <= 0.2, boiler_frac <= 0.5);
split is q88's deterministic md5 bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beast_spark.functions.hashing import md5_long
from beast_spark.operators.quality import (
    chunk_hashes,
    entropy_signals,
    repetition_signals,
)
from beast_spark.queries._util import rnd
from beast_spark.streaming.swap import Maintainer, SwapCommittedTable

__all__ = ["CorpusV2Maintainer"]


class CorpusV2Maintainer(Maintainer, SwapCommittedTable):
    """Owns one swap-committed state directory (signals/chunks/postings)."""

    def __init__(
        self,
        path: str,
        min_norm_entropy: float = 0.8,
        max_dup_trigram_frac: float = 0.2,
        max_boiler_frac: float = 0.5,
    ) -> None:
        SwapCommittedTable.__init__(self, path)
        self.min_norm_entropy = min_norm_entropy
        self.max_dup_trigram_frac = max_dup_trigram_frac
        self.max_boiler_frac = max_boiler_frac

    # -- state access -----------------------------------------------------


    def read_signals(self, spark: SparkSession) -> DataFrame | None:
        return self._read_sub(spark, "signals")

    def read_chunks(self, spark: SparkSession) -> DataFrame | None:
        return self._read_sub(spark, "chunks")

    def read_postings(self, spark: SparkSession) -> DataFrame | None:
        return self._read_sub(spark, "postings")

    # -- the foreachBatch body -------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text")

        ent = entropy_signals(docs).select("doc_id", "n_tokens", "norm_entropy")
        rep = repetition_signals(docs).select("doc_id", "dup_trigram_frac")
        post_new = chunk_hashes(docs)
        cnt_new = post_new.groupBy("chash").agg(
            F.countDistinct("doc_id").alias("nd_new")
        )

        old_chunks = self.read_chunks(spark)
        old_postings = self.read_postings(spark)
        old_signals = self.read_signals(spark)

        if old_chunks is None:
            merged_counts = cnt_new.select(
                "chash", F.col("nd_new").cast("long").alias("n_docs")
            )
            crossed = merged_counts.filter(F.col("n_docs") >= 2).select("chash")
        else:
            merged_counts = (
                old_chunks.join(cnt_new, "chash", "full_outer")
                .select(
                    "chash",
                    (
                        F.coalesce(F.col("n_docs"), F.lit(0))
                        + F.coalesce(F.col("nd_new"), F.lit(0))
                    ).alias("n_docs"),
                )
            )
            # chunks whose distinct-doc count crossed the boilerplate
            # threshold THIS batch — the only reason an old doc's gate
            # verdict can change.
            crossed = (
                old_chunks.join(cnt_new, "chash", "full_outer")
                .filter(
                    (F.coalesce(F.col("n_docs"), F.lit(0)) < 2)
                    & (
                        F.coalesce(F.col("n_docs"), F.lit(0))
                        + F.coalesce(F.col("nd_new"), F.lit(0))
                        >= 2
                    )
                )
                .select("chash")
            )

        boiler_now = merged_counts.filter(F.col("n_docs") >= 2).select("chash")
        new_boiler = (
            post_new.join(boiler_now, "chash", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_boiler"))
        )
        sig_new = (
            docs.select(
                "doc_id", F.md5(F.encode("text", "UTF-8")).alias("text_hash")
            )
            .join(ent, "doc_id")
            .join(rep, "doc_id", "left")  # <3-token docs: NULL dup frac
            .join(
                post_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks")),
                "doc_id",
            )
            .join(new_boiler, "doc_id", "left")
            .select(
                "doc_id",
                "text_hash",
                "n_tokens",
                "norm_entropy",
                "dup_trigram_frac",
                "n_chunks",
                F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            )
        )

        if old_signals is None:
            signals = sig_new
            postings = post_new
        else:
            # Retroactive repair: bump n_boiler for old docs holding a
            # chunk that crossed this batch. The postings scan prunes to
            # the crossed chunks (bucket-pruned at warehouse scale).
            delta = (
                old_postings.join(crossed, "chash", "left_semi")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("d_boiler"))
            )
            repaired = (
                old_signals.join(delta, "doc_id", "left")
                .select(
                    "doc_id",
                    "text_hash",
                    "n_tokens",
                    "norm_entropy",
                    "dup_trigram_frac",
                    "n_chunks",
                    (F.col("n_boiler") + F.coalesce("d_boiler", F.lit(0)))
                    .cast("long")
                    .alias("n_boiler"),
                )
            )
            signals = repaired.unionByName(sig_new)
            postings = old_postings.unionByName(post_new)

        self.commit_frames(
            {"signals": signals, "chunks": merged_counts, "postings": postings},
            batch_id,
        )


    # -- derived views ----------------------------------------------------

    def survivors(self, spark: SparkSession) -> DataFrame:
        """(doc_id, n_tokens, split): q161's surviving set over every
        document ingested so far — gates, exact-dedup canon (min doc_id
        per text among gate-passers), deterministic split."""
        sig = self.read_signals(spark)
        if sig is None:
            return spark.createDataFrame([], "doc_id long, n_tokens long, split string")
        # The batch pipeline gates on q124's published boiler_frac, which
        # is rnd(n_boiler/n_chunks, 4) — apply the same rounding here so a
        # true fraction in (0.5, 0.50005] (possible at >10k chunks) gets
        # the same verdict from stream and batch (per-prefix equivalence).
        g = sig.filter(
            (F.col("norm_entropy") >= self.min_norm_entropy)
            & F.col("dup_trigram_frac").isNotNull()
            & (F.col("dup_trigram_frac") <= self.max_dup_trigram_frac)
            & (
                rnd(F.col("n_boiler") / F.col("n_chunks").cast("double"), 4)
                <= self.max_boiler_frac
            )
        )
        w = Window.partitionBy("text_hash")
        surv = (
            g.withColumn("canon", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("canon"))
            .select("doc_id", "n_tokens")
        )
        bucket = md5_long(F.col("doc_id").cast("string")) % 100
        return surv.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )

    def survivors_by_split(self, spark: SparkSession) -> DataFrame:
        """q161's exact output shape: per-split doc count, token total,
        id checksum."""
        return (
            self.survivors(spark)
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum("doc_id").alias("id_checksum"),
            )
        )
