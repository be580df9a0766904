"""Streaming inverted-index maintenance: the full-corpus lexical index
behind BM25 retrieval kept live over the document stream.

BM25's sufficient statistics are all append/add-only under the frozen
whitespace tokenization: the postings rows (term, doc, tf) and per-doc
lengths (doc, dl) of a new document never change existing rows, and the
corpus constants (N, Σdl) merge by addition — so each micro-batch runs
the batch operator's OWN statistics builder
(``operators/retrieval.py::doc_term_stats`` — shared so the streamed
index and the batch query cannot drift) over its own documents and
commits O(batch) rows. served-BM25(prefix) == batch-BM25(prefix)
exactly; the registered q223 shares q221's oracle VERBATIM.

Commit protocol is the shared manifest flip
(``streaming/swap.py::ManifestSwapTable``): postings fragments are
written ``partitionBy(_shard(term))`` and doc lengths
``partitionBy(_shard(doc))`` (``sharded_appends``), so a query's
serving read prunes BOTH sides — postings to the probed terms' hash
shards, lengths to the hit documents' shards (a bounded ≤ n_shards
driver probe, the IVF posting-read discipline) — and the one-row
constants sub-table is a single-shard replacement. Bytes written per
trigger are O(batch); bytes read per query are O(postings of the
probed terms' shards + lengths of the hit docs' shards), never
O(corpus).

Cross-batch re-sends (round-10 verdict missing #3) follow the neardup
maintainer's supersede-on-read contract: postings/doclen fragments
carry the batch stamp ``_b`` they were written in, a slim ``resent``
sub-table logs (id, batch_id) whenever an arriving id already has a
live length row, and a stored row is live iff its stamp is >= the id's
latest re-send watermark. The corpus constants are corrected in the
same commit (the superseded doc's (1, dl) subtracted before the
batch's own stats add — an id-keyed shard-pruned doclen lookup, never
a postings scan). served-BM25 == batch-BM25 over each id's LATEST
text; q232 gates it. Pre-contract state dirs (unstamped fragments)
keep working in legacy mode, where re-sends remain out of contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.retrieval import bm25_from_stats, doc_term_stats
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["LexicalIndexMaintainer"]


class LexicalIndexMaintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory
    (postings + doclen + consts)."""

    def __init__(
        self,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_shards: int = 16,
        resend_gc_rows: int | None = None,
        gc_grace_gens: int = 0,
    ) -> None:
        ManifestSwapTable.__init__(
            self, path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )
        self.text_col = text_col
        self.id_col = id_col
        #: threshold-driven re-send GC (ManifestSwapTable.
        #: maybe_compact_resends); None = manual compact_resends() only
        self.resend_gc_rows = resend_gc_rows

    def _marker(self) -> dict:
        return {"text_col": self.text_col, "id_col": self.id_col}

    def _check_marker(self) -> None:
        stored = self.user_meta()
        if stored is not None and stored != self._marker():
            raise ValueError(
                "LexicalIndexMaintainer: state was built under column "
                f"config {stored}, this maintainer has {self._marker()} — "
                "statistics across configs are meaningless; rebuild the "
                "state (fresh dir + checkpoint) or reopen with the "
                "original config."
            )

    # -- reads -----------------------------------------------------------

    # Every read takes ``as_of_gen`` (generation time travel, the
    # family pattern streaming/ivf.py established): a retained
    # generation's manifest resolves both the stored rows AND the
    # re-send watermark log as THAT generation saw them, so a
    # travelled-to snapshot filters with its own watermarks — a later
    # re-send (or a compact_resends fold, which drops the live log)
    # never retroactively changes what a snapshot served. Requires the
    # maintainer constructed with gc_grace_gens > 0.

    def _watermarks(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self.resend_watermarks(spark, self.id_col, as_of_gen=as_of_gen)

    def _live(
        self, df: DataFrame | None, wm: DataFrame | None
    ) -> DataFrame | None:
        return self.live_rows(df, wm, self.id_col, [self.id_col])

    def read_postings(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live(
            self._read_sub(spark, "postings", as_of_gen=as_of_gen),
            self._watermarks(spark, as_of_gen),
        )

    def read_doclen(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live(
            self._read_sub(spark, "doclen", as_of_gen=as_of_gen),
            self._watermarks(spark, as_of_gen),
        )

    def read_consts(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._read_sub(spark, "consts", shards=[0], as_of_gen=as_of_gen)

    def read_resent(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """(id, batch_id) re-send log — None until an id is re-sent."""
        return self._read_sub(spark, "resent", as_of_gen=as_of_gen)

    # -- the foreachBatch body --------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        self._recover()
        self._check_marker()
        spark = batch_df.sparkSession
        raw_post = self._read_sub(spark, "postings")
        # legacy = a pre-contract dir whose fragments carry no batch
        # stamp; stamping new fragments would fork the sub-table schema
        legacy = raw_post is not None and "_b" not in raw_post.columns
        wm = None if legacy else self._watermarks(spark)
        postings, lens = doc_term_stats(batch_df, self.text_col, self.id_col)
        # pinned for the trigger: lens feeds the doclen fragment write AND
        # the consts aggregate — unpinned, each would re-tokenize the
        # whole micro-batch (the ingest hot path pays the split/size scan
        # once, the postings explode being the unavoidable second pass)
        lens = lens.persist()
        resent_old = None
        try:
            if not legacy and raw_post is not None:
                # cross-batch re-sends: ids with a LIVE length row — an
                # id-keyed shard-pruned doclen lookup, never a postings
                # scan; one isEmpty probe per batch
                inc_ids = lens.select(self.id_col)
                stored_lens = self._live(
                    self._read_sub(
                        spark,
                        "doclen",
                        shards=self.touched_shards(inc_ids, self.id_col),
                    ),
                    wm,
                )
                if stored_lens is not None:
                    ro = stored_lens.join(
                        F.broadcast(inc_ids), self.id_col, "left_semi"
                    ).persist()
                    if ro.isEmpty():
                        ro.unpersist()
                    else:
                        resent_old = ro
            batch_consts = lens.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("total_dl"),
            )
            if resent_old is not None:
                # the superseded docs leave the corpus constants in the
                # SAME commit their replacements enter them
                neg = resent_old.agg(
                    (-F.count(F.lit(1))).cast("long").alias("n_docs"),
                    (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias(
                        "total_dl"
                    ),
                )
                batch_consts = batch_consts.unionByName(neg).agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_dl").cast("long").alias("total_dl"),
                )
            stored = self.read_consts(spark)
            merged = (
                batch_consts
                if stored is None
                else stored.select("n_docs", "total_dl")
                .unionByName(batch_consts)
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_dl").cast("long").alias("total_dl"),
                )
            )
            if not legacy:
                postings = postings.withColumn(
                    "_b", F.lit(batch_id).cast("long")
                )
                lens_out = lens.withColumn("_b", F.lit(batch_id).cast("long"))
            else:
                lens_out = lens
            appends = None
            if resent_old is not None:
                appends = {
                    "resent": resent_old.select(self.id_col).withColumn(
                        "batch_id", F.lit(batch_id).cast("long")
                    )
                }
            self.commit_delta(
                batch_id,
                appends=appends,
                sharded_appends={
                    "postings": postings.withColumn(
                        "_shard", self.shard_of(F.col("term"))
                    ),
                    "doclen": lens_out.withColumn(
                        "_shard", self.shard_of(F.col(self.id_col))
                    ),
                },
                shard_replacements={
                    "consts": (merged.withColumn("_shard", F.lit(0)), [0])
                },
                user_meta=self._marker(),
            )
        finally:
            lens.unpersist()
            if resent_old is not None:
                resent_old.unpersist()
        # amortized fragment fold (small-file control) — shard_col keeps
        # the pruned-read layout through the fold
        self.maybe_compact(spark, "postings", shard_col="term")
        self.maybe_compact(spark, "doclen", shard_col=self.id_col)
        self.maybe_compact(spark, "resent")
        # self-driving re-send GC: probe only on the rare re-send path
        if resent_old is not None and self.resend_gc_rows is not None:
            self.maybe_compact_resends(spark, self.resend_gc_rows)

    # -- maintenance -------------------------------------------------------

    def compact_resends(self, spark: SparkSession) -> bool:
        """Fold the re-send contract's accumulated state (the shared
        :meth:`ManifestSwapTable.compact_resends`): superseded
        postings/doclen rows leave the disk — shard layouts preserved,
        so pruned serving reads keep working — and the ``resent``
        watermark log truncates, dropping the per-read watermark
        broadcast join. Consts need no rewrite: they were corrected in
        the re-send commit itself. Run between batches (single-writer
        discipline); q235 gates read-equivalence on q232's
        corrupted-then-corrected choreography."""
        self._check_marker()
        return ManifestSwapTable.compact_resends(
            self,
            spark,
            self.id_col,
            {
                "postings": ([self.id_col], "term", False),
                "doclen": ([self.id_col], self.id_col, False),
            },
        )

    # -- serving -----------------------------------------------------------

    def bm25(
        self,
        spark: SparkSession,
        terms: list[str],
        k1: float = 1.2,
        b: float = 0.75,
        round_digits: int = 4,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """(id, n_hits, score) over everything ingested so far — the
        batch ``bm25_scores`` result served from maintained state.
        Reads prune to the probed terms' postings shards and the hit
        documents' length shards; each shard probe is one bounded
        driver action (≤ n_shards scalars). ``as_of_gen`` serves a
        retained earlier generation's snapshot, filtered with the
        watermarks that generation saw."""
        self._recover()
        self._check_marker()
        consts = self.read_consts(spark, as_of_gen=as_of_gen)
        if consts is None:
            raise ValueError("LexicalIndexMaintainer: no documents ingested yet")
        # schema-faithful empty frame: the id column's type comes from the
        # stored doclen sub-table (a non-long id_col must round-trip the
        # no-hit path with the same schema as the hit path)
        empty = (
            self._read_sub(spark, "doclen", as_of_gen=as_of_gen)
            .limit(0)
            .select(
                self.id_col,
                F.lit(0).cast("long").alias("n_hits"),
                F.lit(0.0).alias("score"),
            )
        )
        tdf = spark.createDataFrame([(t,) for t in terms], "term string")
        tshards = self.touched_shards(tdf, "term")
        wm = self._watermarks(spark, as_of_gen)
        # None here means the probed shards hold no postings (the sub-table
        # itself exists once consts does): no term hits, not an empty state
        post = self._live(
            self._read_sub(spark, "postings", shards=tshards, as_of_gen=as_of_gen),
            wm,
        )
        if post is None:
            return empty
        tf = post.filter(F.col("term").isin(list(terms))).select(
            self.id_col, "term", "tf"
        )
        hit_shards = self.touched_shards(tf, self.id_col)
        if not hit_shards:
            return empty
        lens = self._live(
            self._read_sub(spark, "doclen", shards=hit_shards, as_of_gen=as_of_gen),
            wm,
        ).select(self.id_col, "dl")
        return bm25_from_stats(
            tf, lens, consts.select("n_docs", "total_dl"),
            self.id_col, k1, b, round_digits,
        )
