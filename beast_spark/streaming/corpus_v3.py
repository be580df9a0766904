"""Streaming corpus-prep v3: q169's span-removal pipeline maintained
incrementally over a document stream.

v2 (``streaming/corpus_v2.py``) already handles one retroactive gate —
the boilerplate chunk table. v3's retroactivity is deeper: a window
hash crossing the duplicate threshold REWRITES affected documents (the
repeated span is cut out of their cleaned text), which moves their
entropy/repetition gate values, their dedup canon (cleaned texts that
were different can become equal), their per-source cap rank, and their
token totals. So the maintainer keeps enough state to RE-DERIVE any
document's cleaned form against the global counts:

* ``docs``     — the re-derivation input, one row per >= window-token
  doc ingested. Two storage forms: :class:`CorpusV3Maintainer` keeps
  (doc_id, text, source) — a full-text copy, fine locally;
  :class:`CorpusV3PointerMaintainer` keeps (doc_id, source, src_path)
  — a POINTER into the immutable source parquet files, re-reading
  affected documents' text on demand, so the maintained state never
  stores text and its size is independent of document length (the
  warehouse form).
* ``whcounts`` — (wh, n) global sliding-window-hash occurrence counts.
* ``postings`` — distinct (doc_id, wh): the inverted window index used
  to find documents affected by a threshold crossing.
* ``signals``  — per-doc cleaned-form gate values: n_raw, n_removed,
  n_clean, norm_entropy, dup_trigram_frac, ctext_hash.
* ``flagged``  — window hashes whose global count has reached >= 2
  (append-only: counts never decrease, so a hash crosses at most
  once — each batch appends exactly its newly-crossed hashes).

Per-batch work is O(batch + postings-of-crossed-hashes + affected
docs): only documents holding a window hash that crossed >= 2 THIS
batch are re-derived (their spans can only grow — counts never
decrease — so cleaned text only shrinks, monotonically).

Commits go through the manifest protocol
(``streaming/swap.py::ManifestSwapTable``), so bytes WRITTEN per batch
are O(delta) too, never O(corpus): ``flagged`` appends one fragment of
only this batch's rows; ``docs`` and ``postings`` append fragments
shard-partitioned by ``hash(doc_id)`` / ``hash(wh)`` so the per-batch
point reads prune — the append-only id guard and the affected-doc
re-derivation read only the doc shards their ids hash into, the
crossed-hash lookup only matching postings shards; ``whcounts`` and
``signals`` are merge tables sharded by ``hash(wh)`` / ``hash(doc_id)``
— the batch rewrites ONLY the shards its keys touch, untouched shards
keep their existing fragment leaves byte-identical. All sub-table
deltas and the applied-batch ledger flip in one atomic manifest
rename, so crash replays are no-ops.

Equivalence contract (tested): after any prefix of batches,
``survivors_by_split`` == the batch q169 capstone run over exactly the
documents ingested so far — span removal, gates on cleaned text, exact
dedup of cleaned texts, per-source cap, md5 split.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beast_spark.functions.hashing import md5_long
from beast_spark.operators.quality import (
    entropy_signals,
    repetition_signals,
    span_cleaned,
    window_hashes,
)
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["CorpusV3Maintainer", "CorpusV3PointerMaintainer"]


class CorpusV3Maintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory
    (docs/whcounts/postings/signals/flagged)."""

    def __init__(
        self,
        path: str,
        window: int = 8,
        min_clean_tokens: int = 5,
        min_norm_entropy: float = 0.8,
        max_dup_trigram_frac: float = 0.2,
        source_cap: int = 10,
        n_shards: int = 16,
        gc_grace_gens: int = 0,
    ) -> None:
        ManifestSwapTable.__init__(
            self, path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )
        self.window = window
        self.min_clean_tokens = min_clean_tokens
        self.min_norm_entropy = min_norm_entropy
        self.max_dup_trigram_frac = max_dup_trigram_frac
        self.source_cap = source_cap

    # -- state access -----------------------------------------------------


    # -- docs storage hooks (overridden by the pointer form) --------------

    def _docs_frame(self, bdocs: DataFrame) -> DataFrame:
        """What the ``docs`` sub-table persists for this batch's rows."""
        return bdocs.select("doc_id", "text", "source")

    def _with_text(self, spark: SparkSession, docs_rows: DataFrame) -> DataFrame:
        """Materialize (doc_id, text, source) for previously-ingested
        docs rows (identity here — text is stored inline)."""
        return docs_rows.select("doc_id", "text", "source")

    # -- the foreachBatch body -------------------------------------------

    def _derive_signals(self, docs: DataFrame, flagged: DataFrame) -> DataFrame:
        """Cleaned-form gate signals for ``docs`` against the GLOBAL
        flagged window-hash set."""
        cleaned = span_cleaned(docs, flagged, self.window, include_text=True)
        cdocs = cleaned.select("doc_id", F.col("cleaned_text").alias("text"))
        ent = entropy_signals(cdocs).select(
            "doc_id",
            F.col("n_tokens").alias("n_tokens_clean"),
            "norm_entropy",
        )
        rep = repetition_signals(cdocs).select("doc_id", "dup_trigram_frac")
        return (
            cleaned.select(
                "doc_id",
                F.col("n_tokens").alias("n_raw"),
                "n_removed",
                (F.col("n_tokens") - F.col("n_removed")).alias("n_clean"),
                F.md5(F.encode("cleaned_text", "UTF-8")).alias("ctext_hash"),
            )
            .join(ent, "doc_id", "left")
            .join(rep, "doc_id", "left")
        )

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = self.window
        bdocs = batch_df.filter(F.size(F.split("text", " ")) >= w)
        wins = window_hashes(bdocs, w)
        # cnt_new / crossed / affected are batch-sized id/hash frames,
        # each consumed by several downstream reads AND a shard probe —
        # persisted for the batch (released in the finally) so the
        # window-hash scan and the whcounts merge are not re-evaluated
        # per consumer
        cnt_new = (
            wins.groupBy("wh").agg(F.count(F.lit(1)).alias("nd_new")).persist()
        )
        _persisted = [cnt_new]
        try:
            self._apply_rest(
                spark, batch_df, bdocs, wins, cnt_new, _persisted, batch_id
            )
        finally:
            for df in _persisted:
                df.unpersist()

    def _apply_rest(
        self, spark, batch_df, bdocs, wins, cnt_new, _persisted, batch_id
    ):
        post_new = wins.select("doc_id", "wh").distinct()

        # existence flag only (no data read): rows are fetched through
        # shard-pruned reads below
        have_docs = bool(self.sub_leaves("docs"))

        # -- whcounts: merge ONLY the shards this batch's hashes touch.
        # The shard probes here and below are O(n_shards) driver-side
        # scalars (never rows), the same class as the iterative
        # convergence probes.
        wh_shards = self.touched_shards(cnt_new, "wh")
        old_touched = self._read_sub(spark, "whcounts", shards=wh_shards)
        if old_touched is None:
            both = cnt_new.select(
                "wh",
                F.lit(0).cast("long").alias("n_old"),
                F.col("nd_new").cast("long").alias("n_inc"),
            )
        else:
            both = old_touched.join(cnt_new, "wh", "full_outer").select(
                "wh",
                F.coalesce(F.col("n"), F.lit(0)).alias("n_old"),
                F.coalesce(F.col("nd_new"), F.lit(0)).cast("long").alias("n_inc"),
            )
        merged_touched = both.select(
            "wh", (F.col("n_old") + F.col("n_inc")).alias("n")
        )
        crossed = (
            both.filter(
                (F.col("n_old") < 2) & (F.col("n_old") + F.col("n_inc") >= 2)
            )
            .select("wh")
            .persist()
        )
        _persisted.append(crossed)
        # the global >=2 set: counts never decrease, so a hash crosses at
        # most once and the append-only ``flagged`` sub-table's union IS
        # the set — no full whcounts scan needed to rebuild it
        old_flagged = self._read_sub(spark, "flagged")
        flagged = (
            crossed if old_flagged is None else old_flagged.unionByName(crossed)
        )

        # Append-only contract guard: the retroactive machinery assumes
        # window-hash counts NEVER decrease ("spans only grow"). A
        # duplicated doc id — re-sent across batches OR repeated within
        # one batch (a correction landing in the same trigger) — would
        # double-count its windows and silently violate that
        # monotonicity. Checked on the PRE-filter batch so even a
        # sub-window-threshold duplicate (which never enters bdocs)
        # raises: it would otherwise lurk in the source files and
        # ambush a pointer-form re-read later. Both probes fold into
        # ONE Spark action per batch, and the already-ingested probe
        # reads ONLY the doc shards the batch's ids hash into (docs is
        # id-hash sharded) — never a full id-index scan per trigger.
        ids_new = batch_df.select("doc_id")
        dup_ids = (
            ids_new.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select("doc_id")
        )
        if have_docs:
            seen = self._read_sub(
                spark, "docs", shards=self.touched_shards(ids_new, "doc_id")
            )
            if seen is not None:
                dup_ids = dup_ids.unionByName(
                    ids_new.join(seen.select("doc_id"), "doc_id", "left_semi")
                )
        if dup_ids.limit(1).count():
            raise ValueError(
                "corpus-v3 maintainer: duplicate doc_id(s) — repeated "
                "within this batch or already ingested; the stream is "
                "append-only — a corrected/shrunk document would "
                "double-count its window hashes and break the "
                "counts-never-decrease invariant. Rebuild the state from "
                "the corrected source instead."
            )
        btext = bdocs.select("doc_id", "text", "source")
        if not have_docs:
            redo = btext
        else:
            # the inverted index is sharded by hash(wh): the
            # crossed-hash lookup reads only matching shards
            crossed_shards = self.touched_shards(crossed, "wh")
            affected_post = (
                self._read_sub(spark, "postings", shards=crossed_shards)
                if crossed_shards
                else None
            )
            if affected_post is None:
                redo = btext
            else:
                affected = (
                    affected_post.join(crossed, "wh", "left_semi")
                    .select("doc_id")
                    .distinct()
                    .persist()
                )
                _persisted.append(affected)
                # the affected docs' rows come from the shards their
                # ids hash into — the re-derivation read stays
                # O(affected-doc shards), the documented per-batch cost
                aff_shards = self.touched_shards(affected, "doc_id")
                aff_docs = (
                    self._read_sub(spark, "docs", shards=aff_shards)
                    if aff_shards
                    else None
                )
                if aff_docs is None:
                    redo = btext
                else:
                    redo_old = self._with_text(
                        spark, aff_docs.join(affected, "doc_id", "left_semi")
                    )
                    redo = redo_old.unionByName(btext)

        sig_redo = self._derive_signals(redo, flagged)
        # signals is an upsert keyed by doc_id: rewrite ONLY the shards
        # holding a re-derived doc (kept rows of those shards carried
        # over; untouched shards keep their leaves byte-identical)
        sig_shards = self.touched_shards(redo, "doc_id")
        old_sig_touched = self._read_sub(spark, "signals", shards=sig_shards)
        if old_sig_touched is None:
            sig_content = sig_redo
        else:
            sig_content = old_sig_touched.join(
                redo.select("doc_id"), "doc_id", "left_anti"
            ).unionByName(sig_redo)

        self.commit_delta(
            batch_id,
            appends={"flagged": crossed},
            sharded_appends={
                "docs": self._docs_frame(bdocs).withColumn(
                    "_shard", self.shard_of(F.col("doc_id"))
                ),
                "postings": post_new.withColumn(
                    "_shard", self.shard_of(F.col("wh"))
                ),
            },
            shard_replacements={
                "whcounts": (
                    merged_touched.withColumn(
                        "_shard", self.shard_of(F.col("wh"))
                    ),
                    wh_shards,
                ),
                "signals": (
                    sig_content.withColumn(
                        "_shard", self.shard_of(F.col("doc_id"))
                    ),
                    sig_shards,
                ),
            },
        )
        # amortized fragment fold for the append-only subs (whcounts
        # and signals are replacement tables — self-bound at n_shards
        # fragments; see ManifestSwapTable.maybe_compact)
        self.maybe_compact(spark, "docs", shard_col="doc_id")
        self.maybe_compact(spark, "postings", shard_col="wh")
        self.maybe_compact(spark, "flagged")


    # -- derived views ----------------------------------------------------

    def survivors(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        """(doc_id, n_tokens, split): q169's surviving set over every
        document ingested so far. ``as_of_gen`` (gc_grace_gens > 0)
        serves a retained earlier generation's snapshot — all five
        sub-tables resolve through the SAME travelled-to manifest, so
        the gate values, dedup canon, and cap ranks are exactly the
        generation's own (the family as_of contract; no watermark leg
        here — the corpus stream is append-only by the fail-fast
        guard)."""
        sig = self._read_sub(spark, "signals", as_of_gen=as_of_gen)
        docs = self._read_sub(spark, "docs", as_of_gen=as_of_gen)
        if sig is None:
            return spark.createDataFrame([], "doc_id long, n_tokens long, split string")
        g = sig.filter(
            (F.col("n_clean") >= self.min_clean_tokens)
            & (F.col("norm_entropy") >= self.min_norm_entropy)
            & F.col("dup_trigram_frac").isNotNull()
            & (F.col("dup_trigram_frac") <= self.max_dup_trigram_frac)
        )
        wdd = Window.partitionBy("ctext_hash")
        surv = (
            g.withColumn("canon", F.min("doc_id").over(wdd))
            .filter(F.col("doc_id") == F.col("canon"))
            .select("doc_id", F.col("n_tokens_clean").alias("n_tokens"))
        )
        capped = (
            surv.join(docs.select("doc_id", "source"), "doc_id")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("source").orderBy(
                        F.desc("n_tokens"), F.asc("doc_id")
                    )
                ),
            )
            .filter(F.col("rn") <= self.source_cap)
        )
        bucket = md5_long(F.col("doc_id").cast("string")) % 100
        return capped.select(
            "doc_id",
            "n_tokens",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )

    def survivors_by_split(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        """q169's exact output shape."""
        return (
            self.survivors(spark, as_of_gen=as_of_gen)
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum("doc_id").alias("id_checksum"),
            )
        )


class CorpusV3PointerMaintainer(CorpusV3Maintainer):
    """The warehouse form of v3's ``docs`` state: POINTERS, not text.

    The base maintainer's ``docs`` sub-table is a full-text copy of the
    corpus — acknowledged as local-only. Here it stores
    (doc_id, source, src_path) where ``src_path`` is the immutable
    source parquet file the document arrived in (captured from the file
    source's ``_metadata.file_path`` constant column — zero extra I/O),
    and span re-derivation re-reads ONLY the affected documents' text
    from those files: the file list prunes to the files holding
    affected docs, the scan projects (doc_id, text), and the semi-join
    restricts to the affected ids. The maintained state never stores
    document text, so its size is independent of document length;
    per-batch cost stays O(batch + postings-of-crossed + affected-doc
    FILES read). Requires a file-based source whose files are immutable
    (the normal ingestion-directory contract — a rewritten source file
    would silently change re-derivation inputs).

    The distinct affected file paths are collected to the driver to
    form the read — O(affected files) strings, the same class of
    driver-side scalar as the iterative convergence probes, never rows.
    """

    def _docs_frame(self, bdocs: DataFrame) -> DataFrame:
        return bdocs.select("doc_id", "source", "src_path")

    def _with_text(self, spark: SparkSession, docs_rows: DataFrame) -> DataFrame:
        ptrs = docs_rows.select("doc_id", "source", "src_path")
        paths = [r.src_path for r in ptrs.select("src_path").distinct().collect()]
        if not paths:
            return spark.createDataFrame([], "doc_id long, text string, source string")
        # Join on (doc_id, src_path), not doc_id alone. The append-only
        # guard (checked PRE-filter, so sub-threshold decoys also raise)
        # makes duplicate ids impossible by contract; the composite key
        # is defense-in-depth — if a duplicate ever slipped in (state
        # restored against edited source files), pinning the file keeps
        # the row that was indexed instead of attaching a second text.
        raw = spark.read.parquet(*paths).select(
            "doc_id", "text", F.col("_metadata.file_path").alias("src_path")
        )
        return ptrs.join(raw, ["doc_id", "src_path"]).select(
            "doc_id", "text", "source"
        )

    def stream_from(self, docs: DataFrame, checkpoint: str):
        """Start the maintenance stream; captures each row's source file
        from the hidden ``_metadata`` column of the file source."""
        withptr = docs.withColumn("src_path", F.col("_metadata.file_path"))
        return super().stream_from(withptr, checkpoint)
