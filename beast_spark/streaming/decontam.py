"""Streaming decontamination: contamination stats maintained
incrementally as the EVAL set grows.

Benchmark/eval suites are living artifacts — new eval examples arrive
long after the training corpus is frozen, and each one RETROACTIVELY
contaminates every training document it shares an 8-token gram with.
The batch form (q109 / ``operators/decontam.py::decontam_stats``)
recomputes the full overlap; this maintainer is the continuous form,
the shared ``foreachBatch`` lifecycle (``streaming/swap.py::Maintainer``)
applied to q109's semantics. State (one manifest-committed dir, all
sub-tables + ledger flip in a single atomic manifest rename — the one
commit point, ``streaming/swap.py::ManifestSwapTable``):

* ``train_postings`` — distinct (g, doc_id) grams of the FROZEN
  training corpus, derived once from ``train_path`` before the first
  commit and stored in an IMMUTABLE sibling dir (``<path>.train_
  postings``, created via tmp+rename) — it never changes, so it stays
  outside the per-batch commit and is never rewritten (at warehouse
  scale write it bucketed by ``g`` so each eval batch's probe prunes
  to the touched buckets);
* ``eval_grams``   — (g) distinct eval grams seen so far;
* ``eval_docs``    — (doc_id) eval ids ingested (append-only guard);
* ``contam``       — (train_doc_id, n_eval_docs, n_shared_grams), the
  running q109 output.

Both metrics accumulate ADDITIVELY under an append-only eval stream, so
the PROBE each trigger runs is O(batch + matched postings) — one
broadcast of the batch's grams onto one postings scan. The COMMIT
replaces the cumulative state tables in full (eval-gram-, eval-id-,
and contaminated-doc-sized — aggregate tables, orders of magnitude
smaller than the corpus but growing with the eval set); at warehouse
scale partition ``contam`` and merge only touched partitions. The additivity argument:

* a NEW eval doc contributes at most 1 to a train doc's
  ``n_eval_docs`` and never re-contributes (ids are unique — enforced),
  so the increment is the per-train-doc distinct count of THIS batch's
  matching eval ids;
* a train gram joins ``n_shared_grams`` exactly when the eval side
  sees it FIRST — so the increment counts matches against the batch's
  grams MINUS the already-seen set.

Equivalence contract (tested): after any prefix of eval batches,
``contam`` == ``decontam_stats(train, eval-prefix)`` — including eval
docs whose grams were all seen before (they still bump
``n_eval_docs``) and batches contributing zero new matches.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.decontam import doc_gram_postings
from beast_spark.streaming.swap import (
    Maintainer,
    ManifestSwapTable,
    artifact_fingerprint,
    check_json_meta,
    write_json_meta,
)

__all__ = ["DecontamMaintainer"]


class DecontamMaintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory
    (eval_grams/eval_docs/contam) and its immutable train-postings
    sibling."""

    def __init__(
        self, path: str, train_path: str, n: int = 8, fingerprint=None
    ) -> None:
        ManifestSwapTable.__init__(self, path)
        self.train_path = train_path
        self.n = n
        # storage-native fingerprint hook: the default walks local files
        # (and RAISES on non-walkable URIs); on object storage inject a
        # callable returning e.g. a listing of (key, size, etag)
        self.fingerprint = fingerprint or artifact_fingerprint


    def read_contaminated(self, spark: SparkSession) -> DataFrame | None:
        return self._read_sub(spark, "contam")

    def clean_corpus_ids(self, spark: SparkSession) -> DataFrame:
        """Training doc_ids with zero contamination so far."""
        train = spark.read.parquet(self.train_path).select("doc_id")
        contam = self.read_contaminated(spark)
        if contam is None:
            return train
        return train.join(
            contam.select(F.col("train_doc_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )

    # -- the foreachBatch body -------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        ppath = self.path + ".train_postings"
        meta_file = ppath + ".meta.json"
        meta = {
            "n": self.n,
            "train_path": self.train_path,
            # Content fingerprint of the frozen corpus: a train corpus
            # REWRITTEN IN PLACE at the same path (same n/train_path)
            # must not silently probe postings derived from the old
            # bytes — exactly the failure this marker exists to catch.
            "train_fingerprint": self.fingerprint(self.train_path),
        }
        if not os.path.exists(ppath):
            train = spark.read.parquet(self.train_path).select("doc_id", "text")
            tmp = ppath + ".building"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            doc_gram_postings(train, self.n).select(
                "g", F.col("doc_id").alias("train_doc_id")
            ).write.parquet(tmp)
            write_json_meta(meta_file, meta)
            os.rename(tmp, ppath)
        else:
            # a maintainer constructed with a different gram width,
            # corpus path, or corpus CONTENT would silently probe stale
            # postings (every hash misses → contamination reads empty)
            # — validate the marker written at build time instead
            check_json_meta(
                meta_file,
                meta,
                f"decontam maintainer (train postings at {ppath})",
                "delete the postings dir (and the state) to rebuild "
                "against the new configuration.",
            )
        postings = spark.read.parquet(ppath)
        eval_grams = self._read_sub(spark, "eval_grams")
        eval_docs = self._read_sub(spark, "eval_docs")
        contam = self._read_sub(spark, "contam")

        # append-only guard: one combined action, PRE any filtering
        ids_new = batch_df.select("doc_id")
        dup_ids = (
            ids_new.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select("doc_id")
        )
        if eval_docs is not None:
            dup_ids = dup_ids.unionByName(
                ids_new.join(eval_docs, "doc_id", "left_semi")
            )
        if dup_ids.limit(1).count():
            raise ValueError(
                "decontam maintainer: duplicate eval doc_id(s) — the eval "
                "stream is append-only (a re-sent eval doc would "
                "double-count n_eval_docs). Rebuild the state from the "
                "corrected eval set instead."
            )

        # Batch grams hashed ONCE and cached (the guard, both deltas,
        # and the state appends all read them), each flagged with
        # whether the eval stream has seen the gram before — so ONE
        # postings scan yields both increments:
        #  * d_eval counts ALL matching new eval docs (an eval doc whose
        #    grams were all seen before still bumps n_eval_docs);
        #  * d_shared counts only first-seen grams.
        bgrams = doc_gram_postings(
            batch_df.select("doc_id", "text"), self.n
        ).select(F.col("doc_id").alias("eval_doc_id"), "g")
        if eval_grams is not None:
            flagged = bgrams.join(
                eval_grams.withColumn("_seen", F.lit(1)), "g", "left"
            )
        else:
            flagged = bgrams.withColumn("_seen", F.lit(None).cast("int"))
        flagged = flagged.persist()

        delta = (
            postings.join(F.broadcast(flagged), "g")
            .groupBy("train_doc_id")
            .agg(
                F.countDistinct("eval_doc_id").alias("d_eval"),
                F.countDistinct(
                    F.when(F.col("_seen").isNull(), F.col("g"))
                ).alias("d_shared"),
            )
        )
        newg = flagged.filter(F.col("_seen").isNull()).select("g").distinct()
        if contam is None:
            merged = delta.select(
                "train_doc_id",
                F.col("d_eval").cast("long").alias("n_eval_docs"),
                F.col("d_shared").cast("long").alias("n_shared_grams"),
            )
        else:
            merged = (
                contam.join(delta, "train_doc_id", "full_outer")
                .select(
                    "train_doc_id",
                    (
                        F.coalesce("n_eval_docs", F.lit(0))
                        + F.coalesce("d_eval", F.lit(0))
                    ).cast("long").alias("n_eval_docs"),
                    (
                        F.coalesce("n_shared_grams", F.lit(0))
                        + F.coalesce("d_shared", F.lit(0))
                    ).cast("long").alias("n_shared_grams"),
                )
            )

        new_eval_grams = newg if eval_grams is None else eval_grams.unionByName(newg)
        new_eval_docs = (
            ids_new.distinct()
            if eval_docs is None
            else eval_docs.unionByName(ids_new.distinct())
        )
        try:
            self.commit_delta(
                batch_id,
                full={
                    "eval_grams": new_eval_grams,
                    "eval_docs": new_eval_docs,
                    "contam": merged,
                },
            )
        finally:
            flagged.unpersist()
