"""Streaming embedding near-dup maintenance: an embedding stream keeps
the persisted MULTI-TABLE LSH index AND the discovered near-dup pair
set current via ``foreachBatch`` +
:func:`beast_spark.operators.similarity.incremental_multitable_neardup_pairs`.

The batch story (q164/q173) proves one append is O(increment + touched
buckets); this maintainer is the continuous form: each micro-batch
buckets only ITS OWN vectors into all L tables (one Arrow-batched BLAS
matmul), probes the persisted postings for candidate partners, appends
its postings + vectors, and accumulates the new pairs —
pairs(after batch k) == pairs(full rebuild over everything ingested
through batch k), property of the disjoint-union exactness the operator
tests pin — where "everything ingested" means each id's LATEST payload:
an id re-sent in a later batch supersedes its stored rows (the
batch-stamp + resent-watermark contract documented at the read methods;
q231 gates it against the batch rebuild). Exactly-once commit is the
shared manifest protocol (``streaming/swap.py::ManifestSwapTable``):
the postings/vectors/pairs sub-tables are APPEND-ONLY, so each
micro-batch commits one new fragment per sub-table holding only its own
rows — bytes written per trigger are O(increment), never O(index) — and
the new fragments + the ledger flip live in ONE atomic manifest rename,
so a replayed batch after any crash is a no-op and a crash between
write and flip never double-counts a pair.

Operating point: the default is the PRODUCTION multi-table
configuration (L=75 tables × P=8 planes) — the q172 evaluation
measures it at ~90% pair recall on the adversarially near-uniform
synthetic embeddings, where the previous single-table 6-plane default
(still available: ``n_tables=1, n_planes=6``) finds only ~7% of the
true pairs. The index splits into slim postings (t, bucket, id) and
ONE vectors table (id, vector, nrm), so L-fold fan-out applies to two
longs + an id per posting, never to the vectors. At warehouse scale
write ``postings`` bucketed by (t, bucket) and ``vectors`` bucketed by
id (``sources/bucketing.py``) so each batch's probe stays
Exchange-free on the corpus side; locally they are plain parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.similarity import (
    DEFAULT_MAX_BUCKET,
    embedding_multitable_postings,
    incremental_multitable_neardup_pairs,
    multitable_planes,
)
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["EmbeddingNearDupMaintainer"]


class EmbeddingNearDupMaintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory
    (postings+vectors+pairs)."""

    def __init__(
        self,
        path: str,
        dims: int,
        threshold: float = 0.42,
        n_planes: int = 8,
        n_tables: int = 75,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_bucket: int = DEFAULT_MAX_BUCKET,
        resend_gc_rows: int | None = None,
        gc_grace_gens: int = 0,
    ) -> None:
        ManifestSwapTable.__init__(self, path, gc_grace_gens=gc_grace_gens)
        self.dims = dims
        self.threshold = threshold
        self.tables = multitable_planes(dims, n_planes, n_tables)
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_bucket = max_bucket
        #: threshold-driven re-send GC (ManifestSwapTable.
        #: maybe_compact_resends): fold the superseded rows + watermark
        #: log once the resent log exceeds this many rows. None = manual
        #: compact_resends() only.
        self.resend_gc_rows = resend_gc_rows


    # -- the cross-batch re-send contract ---------------------------------
    #
    # A doc re-sent in a LATER batch (retry, late correction) supersedes
    # its stored payload — the round-10 verdict's last semantic gap. The
    # mechanism is supersede-on-read keyed by an id-keyed side table:
    # every appended postings/vectors/pairs row carries the batch stamp
    # ``_b`` it was written in, and a slim ``resent`` sub-table records
    # (id, batch_id) whenever an id arrives that the index already
    # holds. A stored row is LIVE iff its stamp is >= the id's latest
    # re-send watermark (for a pair: both endpoints). Reads left-join
    # the broadcast watermark frame (it holds only ever-re-sent ids) —
    # no rewrite of the append-only fragments, O(re-sends) extra state.
    # apply_batch additionally hands the OPERATOR the superseded view
    # with the re-sent ids' rows removed entirely, so from the
    # operator's perspective every batch is plain append-only
    # unique-ids, and decrements the re-sent ids' old buckets out of
    # the stored occupancy (their old postings are re-derived from the
    # stored vectors — deterministic under the frozen planes).
    # Invariant (tested): after every batch, the live views equal a
    # full batch rebuild over each id's LATEST payload — while no
    # bucket has crossed ``max_bucket``. Past a crossing the cap is
    # inherently non-monotone in BOTH directions (the operator's
    # documented caveat): pairs a bucket mined before crossing UP are
    # kept (never un-found), and a bucket brought back UNDER the cap —
    # which a re-send decrement can do — does not back-fill the
    # existing×existing pairs it skipped while over (only new
    # increments mine against it again). Both are the capped batch
    # rebuild's own behavior class, reported via the ``capped``
    # accounting rows; a caller needing the exact under-cap pair set
    # after a crossing re-mines that bucket's members batch-side
    # (pinned by test_streamed_neardup_resend_under_cap_no_backfill).
    #
    # Pre-contract state dirs (fragments without ``_b``) keep working
    # in legacy mode: reads pass through and re-sends remain
    # out-of-contract there, since stamping new fragments into an
    # unstamped sub-table would fork its schema.

    # Every read takes ``as_of_gen`` (generation time travel, the
    # family pattern streaming/ivf.py established): a retained
    # generation resolves stored rows AND the watermark log as that
    # generation saw them, so later re-sends / compaction folds never
    # retroactively change a travelled-to snapshot. Requires
    # gc_grace_gens > 0.

    def _watermarks(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self.resend_watermarks(spark, self.id_col, as_of_gen=as_of_gen)

    def _live(
        self, df: DataFrame | None, wm: DataFrame | None, cols: list[str]
    ) -> DataFrame | None:
        return self.live_rows(df, wm, self.id_col, cols)

    def read_postings(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live(
            self._read_sub(spark, "postings", as_of_gen=as_of_gen),
            self._watermarks(spark, as_of_gen),
            [self.id_col],
        )

    def read_vectors(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live(
            self._read_sub(spark, "vectors", as_of_gen=as_of_gen),
            self._watermarks(spark, as_of_gen),
            [self.id_col],
        )

    def read_pairs(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """Live pair rows: a pair predating EITHER endpoint's re-send
        reflects a superseded payload and is filtered."""
        return self._live(
            self._read_sub(spark, "pairs", as_of_gen=as_of_gen),
            self._watermarks(spark, as_of_gen),
            ["vec1", "vec2"],
        )

    def read_resent(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """(id, batch_id) re-send log — None until an id is re-sent."""
        return self._read_sub(spark, "resent", as_of_gen=as_of_gen)

    def read_capped(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """Degenerate-bucket accounting: (t, bucket, bucket_size,
        batch_id), one row per (capped bucket, micro-batch that hit
        it). Absent (None) until a batch actually trips the cap — no
        silent caps, but also no empty-fragment churn per trigger."""
        return self._read_sub(spark, "capped", as_of_gen=as_of_gen)

    def read_occupancy(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """(t, bucket, n_exist): maintained per-bucket distinct-id
        counts over ALL committed postings — what the degenerate-bucket
        gate reads instead of re-aggregating the probed posting volume
        every micro-batch (the round-9 recompute form shuffled every
        probed posting row per trigger; this read is O(touched
        buckets), hash-shard replaced in the same manifest flip as the
        postings it counts). Bounded by the bucket-space size
        (≤ 2^P × L rows for P planes × L tables), not the corpus.
        Occupancy is shard-REPLACED, so the as-of read needs no
        watermark leg — the stored counts at a generation are that
        generation's counts."""
        return self._read_sub(spark, "occupancy", as_of_gen=as_of_gen)

    # -- the foreachBatch body -------------------------------------------

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(os.path.join(self.path, "index")):
            # Pre-round-6 state: single-table layout under 'index'.
            # Silently treating it as an empty multi-table index would
            # honor the old ledger + pairs while losing every already-
            # ingested vector from future probes. Checked before the
            # ledger read — the old layout has no manifest, so the
            # generic legacy-layout error would otherwise mask this
            # more specific one.
            raise ValueError(
                "EmbeddingNearDupMaintainer: state dir holds the old "
                "single-table 'index' layout; the maintainer now persists "
                "a multi-table postings+vectors index. Rebuild the state "
                "from the source stream (fresh state dir + checkpoint)."
            )
        super().apply_batch(batch_df, batch_id)

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        raw_postings = self._read_sub(spark, "postings")
        have_postings = raw_postings is not None
        # legacy = a pre-contract dir whose fragments carry no batch
        # stamp; stamping new fragments would fork the sub-table schema,
        # so such dirs stay append-only-contract (re-sends undefined)
        legacy = have_postings and "_b" not in raw_postings.columns
        wm = None if legacy else self._watermarks(spark)
        postings = self._live(raw_postings, wm, [self.id_col])
        vectors = self._live(self._read_sub(spark, "vectors"), wm, [self.id_col])
        if postings is None:
            postings = spark.createDataFrame(
                [], f"t int, bucket long, {self.id_col} long"
            )
            vectors = spark.createDataFrame(
                [], f"{self.id_col} long, {self.vec_col} array<double>, nrm double"
            )
        # stored per-bucket distinct-id counts for the cap gate (see
        # read_occupancy). Bootstrap: a pre-round-10 state dir carries
        # postings but no occupancy sub — rebuild the counts ONCE from
        # the postings (one O(index) aggregation, amortized over the
        # stream's lifetime) and commit them with this batch's delta.
        stored_occ = self.read_occupancy(spark)
        bootstrap = stored_occ is None and have_postings
        if bootstrap:
            # persisted for the batch: the rebuilt counts feed both the
            # gate and the merge write below — without the persist the
            # O(index) aggregation would run twice in the one batch
            # that pays it
            stored_occ = postings.groupBy("t", "bucket").agg(
                F.countDistinct(self.id_col).cast("long").alias("n_exist")
            ).persist()
        elif stored_occ is None:
            stored_occ = spark.createDataFrame([], "t int, bucket long, n_exist long")
        inc = batch_df.select(
            self.id_col,
            F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
        )
        # Cross-batch re-sends: ids the live index already holds arrive
        # again with a (possibly new) payload. Their CURRENT stored rows
        # are superseded: removed from the view the operator probes (so
        # the batch is plain append-only unique-ids to it) and their
        # buckets decremented out of the stored occupancy. Detection is
        # O(increment): the slim id-SHARDED ``ids`` side table is read
        # at the increment ids' shards only (the lexical maintainer's
        # doclen-lookup discipline — a review finding killed the first
        # cut's full vectors scan per trigger); the wide vectors are
        # only touched on the RARE hit path. One isEmpty probe per
        # batch.
        resent_vecs = None
        old_x = None
        if not legacy and have_postings:
            inc_ids = inc.select(self.id_col).distinct()
            stored_ids = self._read_sub(
                spark, "ids", shards=self.touched_shards(inc_ids, self.id_col)
            )
            if stored_ids is None and self.sub_leaves("ids"):
                hit = None  # ids sub exists, probed shards empty: no re-sends
            else:
                if stored_ids is None:
                    # stamped dir predating the ids side table: fall back
                    # to the vectors scan for this batch (the ids rows
                    # appended from now on make the next one pruned)
                    stored_ids = vectors.select(self.id_col)
                hit = stored_ids.select(self.id_col).join(
                    F.broadcast(inc_ids), self.id_col, "left_semi"
                )
            if hit is not None and not hit.isEmpty():
                rv = vectors.join(
                    F.broadcast(hit.distinct()), self.id_col, "left_semi"
                ).persist()
                resent_vecs = rv
        if resent_vecs is not None:
            resent_ids = resent_vecs.select(self.id_col)
            postings = postings.join(F.broadcast(resent_ids), self.id_col, "left_anti")
            vectors = vectors.join(F.broadcast(resent_ids), self.id_col, "left_anti")
            # the superseded rows' bucket contributions, re-derived from
            # the stored vectors (deterministic under the frozen planes)
            old_x = (
                embedding_multitable_postings(
                    resent_vecs, self.tables, self.id_col, self.vec_col
                )
                .groupBy("t", "bucket")
                .agg(F.countDistinct(self.id_col).cast("long").alias("_dec"))
                .persist()
            )
            stored_occ = (
                stored_occ.join(F.broadcast(old_x), ["t", "bucket"], "left")
                .select(
                    "t",
                    "bucket",
                    (F.col("n_exist") - F.coalesce(F.col("_dec"), F.lit(0)))
                    .cast("long")
                    .alias("n_exist"),
                )
                .filter(F.col("n_exist") > 0)
            )
        new_post, new_vec, new_pairs, dropped, occupancy = (
            incremental_multitable_neardup_pairs(
                postings,
                vectors,
                inc,
                dims=self.dims,
                id_col=self.id_col,
                vec_col=self.vec_col,
                threshold=self.threshold,
                tables=self.tables,
                max_bucket=self.max_bucket,
                with_dropped=True,
                existing_occupancy=stored_occ,
                with_occupancy=True,
            )
        )
        # the combined occupancy frame feeds the pair gate (via dropped),
        # the shard probe, AND the merge write — persist for the batch so
        # its overlap semi-join against the probed postings runs once
        occupancy = occupancy.persist()
        try:
            # append-only sub-tables: commit ONLY this batch's rows as
            # one new fragment each — O(increment) bytes, never O(index).
            # Contract-mode fragments carry the batch stamp the
            # supersede-on-read filter keys on; a re-send batch also
            # logs its (id, batch_id) watermark rows.
            appends = {
                "postings": new_post.select("t", "bucket", self.id_col),
                "vectors": new_vec.select(self.id_col, self.vec_col, "nrm"),
                "pairs": new_pairs,
            }
            if not legacy:
                appends = {
                    k: v.withColumn("_b", F.lit(batch_id).cast("long"))
                    for k, v in appends.items()
                }
                if resent_vecs is not None:
                    appends["resent"] = resent_vecs.select(self.id_col).withColumn(
                        "batch_id", F.lit(batch_id).cast("long")
                    )
            # no silent caps: a batch that trips the degenerate-bucket
            # guard commits its accounting rows in the SAME atomic flip
            # as the (capped) pairs it stands for. The isEmpty probe is
            # one cheap action over slim counted postings; the common
            # all-buckets-healthy case writes no extra fragment.
            capped = dropped.withColumn("batch_id", F.lit(batch_id))
            if not dropped.isEmpty():
                appends["capped"] = capped
            # occupancy merge: combined counts replace the touched keys,
            # untouched keys in the touched shards carry over — the
            # whcounts discipline (corpus_v3). Postings append UNGATED,
            # so the operator's combined frame IS the new stored count
            # even for capped buckets. On bootstrap the whole rebuilt
            # set commits (no occupancy fragments exist yet, so every
            # shard is declared touched).
            touched_keys = occupancy.select("t", "bucket")
            new_rows = occupancy.select(
                "t", "bucket", F.col("bucket_size").cast("long").alias("n_exist")
            )
            if old_x is not None:
                # a re-send also touches the superseded rows' buckets:
                # buckets the increment does not repost to get their
                # DECREMENTED counts (already computed in the adjusted
                # stored_occ), and a bucket the re-sent ids fully
                # vacated simply leaves the occupancy (its key is
                # touched, no replacement row)
                dec_only = stored_occ.join(
                    F.broadcast(old_x.select("t", "bucket")),
                    ["t", "bucket"],
                    "left_semi",
                ).join(F.broadcast(touched_keys), ["t", "bucket"], "left_anti")
                new_rows = new_rows.unionByName(dec_only)
                touched_keys = touched_keys.unionByName(
                    old_x.select("t", "bucket")
                ).distinct()
            if bootstrap:
                occ_shards = list(range(self.n_shards))
                old_occ = stored_occ
            else:
                occ_shards = self.touched_shards(touched_keys, "t", "bucket")
                old_occ = self._read_sub(spark, "occupancy", shards=occ_shards)
            if old_occ is None:
                merged = new_rows
            else:
                merged = old_occ.join(
                    F.broadcast(touched_keys), ["t", "bucket"], "left_anti"
                ).unionByName(new_rows)
            # the slim id side table the NEXT batch's re-send detection
            # shard-prunes against — one long per increment row
            sharded = None
            if not legacy:
                sharded = {
                    "ids": new_vec.select(self.id_col).withColumn(
                        "_shard", self.shard_of(F.col(self.id_col))
                    )
                }
            self.commit_delta(
                batch_id,
                appends=appends,
                sharded_appends=sharded,
                shard_replacements={
                    "occupancy": (
                        merged.withColumn(
                            "_shard", self.shard_of(F.col("t"), F.col("bucket"))
                        ),
                        occ_shards,
                    )
                },
            )
            # amortized fragment fold (small-file control; see
            # ManifestSwapTable.maybe_compact — occupancy is a
            # replacement sub, self-bound at n_shards fragments)
            for sub in ("postings", "vectors", "pairs", "capped", "resent"):
                self.maybe_compact(spark, sub)
            self.maybe_compact(spark, "ids", shard_col=self.id_col)
            # self-driving re-send GC: probe only on the rare re-send
            # path (one count over the slim log)
            if resent_vecs is not None and self.resend_gc_rows is not None:
                self.maybe_compact_resends(spark, self.resend_gc_rows)
        finally:
            # the operator persists its two increment frames; release them
            # once the commit lands or cached blocks accumulate for the
            # stream's lifetime (one leak per micro-batch)
            new_post.unpersist()
            new_vec.unpersist()
            occupancy.unpersist()
            if resent_vecs is not None:
                resent_vecs.unpersist()
            if old_x is not None:
                old_x.unpersist()
            if bootstrap:
                stored_occ.unpersist()


    # -- maintenance -------------------------------------------------------

    def compact_resends(self, spark: SparkSession) -> bool:
        """Fold the re-send contract's accumulated state (the shared
        :meth:`ManifestSwapTable.compact_resends`): superseded
        postings/vectors rows and stale pairs leave the disk, the
        duplicate id-lookup rows collapse (a re-sent id appended one
        presence row per send), and the ``resent`` watermark log
        truncates — after which every read drops its per-read
        watermark broadcast join. Occupancy needs no rewrite: it was
        decremented at apply time. Run between batches (single-writer
        discipline); q236 gates read-equivalence on q231's
        corrupted-then-corrected choreography."""
        return ManifestSwapTable.compact_resends(
            self,
            spark,
            self.id_col,
            {
                "postings": ([self.id_col], None, False),
                "vectors": ([self.id_col], None, False),
                "pairs": (["vec1", "vec2"], None, False),
                "ids": ([self.id_col], self.id_col, True),
            },
        )
