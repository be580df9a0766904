"""Streaming IVF ANN index maintenance: an embedding stream keeps the
coarse-quantized (IVF) search index current via ``foreachBatch``.

The batch story (q174/q176) proves the production search point — IVF
probing reaches recall@10 ≈ 0.94 while scoring ~3% of the corpus, with
int8 codes cutting per-candidate memory traffic 8×. This maintainer is
the continuous form: embeddings arrive as a stream, and each
micro-batch assigns ONLY ITS OWN vectors to the frozen coarse
centroids (one broadcast-centroid map stage + a map-side-combinable
argmax — ``operators/similarity.py::ivf_assign``), appends the slim
(id, cid) postings, the raw vectors, and (optionally) their int8
codes, and commits all sub-tables atomically through the shared
manifest protocol (``streaming/swap.py::ManifestSwapTable`` — one
delta-sized fragment per sub-table, one atomic manifest flip).

Frozen artifacts make the maintenance EXACT, not approximate:

* ``centroids_path`` — the coarse centroids, trained offline (e.g.
  ``kmeans_lite`` — q177 gates the trainer) and frozen. Assignment of
  a vector depends only on the vector and the centroids, so
  state(after batch k) == full rebuild over everything ingested
  through batch k, bit-for-bit — the per-prefix equivalence the tests
  pin. (Re-training centroids is a REBUILD, not maintenance: assign-
  ments are not additive across centroid changes. That is the standard
  IVF production trade — retrain offline on drift, swap the whole
  index.)
* ``codebook_path`` (optional) — the per-dim int8 scalar-quantization
  codebook (q175's frozen-codebook contract). Quantization is per-row
  against frozen [mn, mx], hence additive for the same reason; values
  outside the frozen range in later increments clamp (documented
  saturation).
* ``pq_codebooks_path`` (optional) — frozen per-subspace PQ codebooks
  (q183). PQ encoding is per-row against frozen sub-centroids, hence
  additive too; the maintained ``pq`` sub-table feeds the
  memory-bound ADC tier (:meth:`adc_search`, m bytes/vector).

Centroid/codebook DRIFT is handled by :meth:`rebuild` (retrain offline
→ re-derive → atomic swap), never by mutating maintenance.

State sub-tables (one atomic manifest flip): ``assigned`` (id, cid —
slim postings; fragments are cid-hash SHARDED so a search's posting
read prunes to the probed cells' shards — the classic IVF
posting-list read), ``vectors`` (id, raw vector — the exact re-rank
read; fragments are id-hash SHARDED so the per-batch append-only
guard reads only the shards the batch's ids hash into, never a full
id-index scan per trigger), ``codes`` (id, int8 codes; only when a
codebook is given). Every sub-table is APPEND-ONLY under frozen artifacts, so each
micro-batch commits exactly one new fragment per sub-table holding
only its own rows (``streaming/swap.py::ManifestSwapTable``) — bytes
written per trigger are O(batch), never O(index); the old whole-state
rewrite was write amplification proportional to corpus size. Fragment
count is bounded by amortized folding
(:meth:`ManifestSwapTable.maybe_compact` after each commit — O(rows /
threshold) per trigger), so the log-structured trade never becomes a
small-file problem.

``search`` runs the q174/q176 plan over the maintained state: probe
lists broadcast onto the postings (the corpus side never shuffles
below the join — plan-asserted), exact scoring of candidates, or,
with codes, the int8 shortlist → exact re-rank composition whose
measured recall q176 hash-checks.

Cross-batch re-sends (round-12) follow the family contract
(``ManifestSwapTable.resend_watermarks``/``live_rows``, the
neardup/lexical/semdedup mechanism): every appended
assigned/vectors/codes/pq row carries the batch stamp ``_b``, a
re-sent id logs an (id, batch_id) watermark row, and every read —
search candidates, re-rank vectors, int8/PQ codes, the dup-guard
probe itself — serves only live rows. No cascade is needed: the IVF
index derives no pair/action state, so supersede-on-read alone makes
search == batch rebuild over each id's LATEST payload (q239 gates it,
sharing q178's oracle). ``on_resend="reject"`` keeps the previous
fail-fast policy (the ``streaming/decontam.py`` guard pattern) for
pipelines where a duplicate id is a bug, and is always in force on
pre-round-12 (unstamped) state dirs, where stamping new fragments
would fork the sub-table schema. Intra-batch duplicates raise under
either policy — two payloads for one id in one batch is ambiguous.
:meth:`rebuild` folds re-send state out (it re-derives from live
vectors and drops the watermark log — stamped at the ledger's newest
batch so future re-sends still supersede); :meth:`compact_resends`
does the same without retraining.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beast_spark.functions.vectors import cosine, dot, norm
from beast_spark.operators.similarity import (
    _d2i,
    dequantize_codes,
    ivf_assign,
    ivf_probes,
    pq_adc_lut,
    pq_adc_topk,
    pq_codes,
    quantize_codes,
)
from beast_spark.streaming.swap import (
    Maintainer,
    ManifestSwapTable,
    artifact_fingerprint,
)

__all__ = ["IvfIndexMaintainer"]

#: sentinel for "caller did not supply a watermark frame" — None is a
#: meaningful value (no resent log, nothing to filter)
_WM_UNSET = object()


class IvfIndexMaintainer(Maintainer, ManifestSwapTable):
    """Owns one manifest-committed state directory
    (assigned+vectors[+codes][+pq])."""

    def __init__(
        self,
        path: str,
        centroids_path: str,
        codebook_path: str | None = None,
        pq_codebooks_path: str | None = None,
        dims: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        fingerprint=None,
        gc_grace_gens: int = 0,
        on_resend: str = "supersede",
        resend_gc_rows: int | None = None,
    ) -> None:
        ManifestSwapTable.__init__(self, path, gc_grace_gens=gc_grace_gens)
        self.centroids_path = centroids_path
        self.codebook_path = codebook_path
        self.pq_codebooks_path = pq_codebooks_path
        self.dims = dims
        self.id_col = id_col
        self.vec_col = vec_col
        # storage-native fingerprint hook: the default walks local files
        # (and RAISES on non-walkable URIs); on object storage inject a
        # callable returning e.g. a listing of (key, size, etag)
        self.fingerprint = fingerprint or artifact_fingerprint
        if on_resend not in ("supersede", "reject"):
            raise ValueError(
                f"IvfIndexMaintainer: on_resend={on_resend!r} — expected "
                "'supersede' (the family re-send contract) or 'reject' "
                "(fail-fast append-only guard)."
            )
        self.on_resend = on_resend
        #: threshold-driven re-send GC (ManifestSwapTable.
        #: maybe_compact_resends); None = manual compact_resends() only
        self.resend_gc_rows = resend_gc_rows

    # -- reads ------------------------------------------------------------

    def _legacy(self, spark: SparkSession) -> bool:
        """Pre-round-12 state dir: fragments carry no batch stamp, so
        the re-send contract cannot apply (stamping new fragments into
        an unstamped sub forks its schema — the family rule). Memoized:
        the property is immutable for the life of a state dir (legacy
        dirs stay legacy by design; fresh dirs are contract from batch
        0), and the schema probe builds a frame over every vector
        fragment — not a cost the per-trigger path should repay."""
        cached = getattr(self, "_legacy_mode", None)
        if cached is not None:
            return cached
        if not self.sub_leaves("vectors"):
            self._legacy_mode = False  # fresh: contract from batch 0
        else:
            self._legacy_mode = (
                "_b" not in self._read_sub(spark, "vectors").columns
            )
        return self._legacy_mode

    def _stamped(
        self, df: DataFrame, batch: int, legacy: bool
    ) -> DataFrame:
        """The one copy of the contract stamp rule (apply_batch and
        rebuild share it — two drifting copies was a review finding)."""
        if legacy:
            return df
        return df.withColumn("_b", F.lit(batch).cast("long"))

    def _wm(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self.resend_watermarks(spark, self.id_col, as_of_gen=as_of_gen)

    def _live_sub(
        self,
        spark: SparkSession,
        name: str,
        shards: list[int] | None = None,
        as_of_gen: int | None = None,
        wm=_WM_UNSET,
    ) -> DataFrame | None:
        """A sub-table's live rows: the stored read with superseded
        (pre-watermark) rows dropped — the one read path every consumer
        (search, guard probe, rebuild) shares. Pass ``wm`` when the
        caller already loaded it (one watermark build per batch/search,
        not one per sub-table; None is a REAL value — no resent log)."""
        df = self._read_sub(spark, name, shards=shards, as_of_gen=as_of_gen)
        if df is None or "_b" not in df.columns:
            return df  # legacy/fresh: no stamps, no contract
        if wm is _WM_UNSET:
            wm = self._wm(spark, as_of_gen=as_of_gen)
        return self.live_rows(df, wm, self.id_col, [self.id_col])

    def read_assigned(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live_sub(spark, "assigned", as_of_gen=as_of_gen)

    def read_vectors(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live_sub(spark, "vectors", as_of_gen=as_of_gen)

    def read_codes(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live_sub(spark, "codes", as_of_gen=as_of_gen)

    def read_pq(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        return self._live_sub(spark, "pq", as_of_gen=as_of_gen)

    def read_resent(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """(id, batch_id) re-send log — None until an id is re-sent."""
        return self._read_sub(spark, "resent", as_of_gen=as_of_gen)

    def _centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.centroids_path)

    # -- frozen-artifact marker ------------------------------------------

    def _meta_for(
        self,
        centroids_path: str,
        codebook_path: str | None,
        pq_codebooks_path: str | None,
    ) -> dict:
        return {
            "centroids": self.fingerprint(centroids_path),
            "codebook": None
            if codebook_path is None
            else self.fingerprint(codebook_path),
            "pq_codebooks": None
            if pq_codebooks_path is None
            else self.fingerprint(pq_codebooks_path),
            "dims": self.dims,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    def _meta(self) -> dict:
        """The configuration + artifact-content record the state was
        built under. Assignments/codes are only additive while the
        frozen artifacts stay BIT-identical — a maintainer pointed at
        retrained centroids (without :meth:`rebuild`), a swapped
        codebook, or a mid-stream enable of a codes tier would
        silently mix incompatible index rows; the marker turns every
        one of those into an explicit error (the
        ``streaming/decontam.py`` stale-postings guard pattern).

        Stored INSIDE the manifest (``commit_delta(user_meta=...)``),
        so the marker and the state it describes flip in the SAME
        atomic rename: a side-file marker would leave a crash window
        between state swap and marker write in which a restarted
        maintainer pointed at the ORIGINAL artifacts would validate
        against the old marker and silently mix index generations on
        top of rebuilt state."""
        return self._meta_for(
            self.centroids_path, self.codebook_path, self.pq_codebooks_path
        )

    def _validate_meta(self, meta: dict, stored: dict | None = None) -> None:
        import json

        if stored is None:
            stored = self.user_meta()
        if stored != json.loads(json.dumps(meta)):
            raise ValueError(
                f"IvfIndexMaintainer (state at {self.path}): existing state "
                f"was built with {stored}, this maintainer wants {meta} — "
                "the frozen artifacts or config changed. For retrained "
                "artifacts call rebuild(); otherwise rebuild the state from "
                "the source stream (fresh state dir + checkpoint). For an "
                "as-of read across a rebuild, construct a maintainer "
                "pointed at the artifacts THAT generation was built under "
                "(the historic marker pins their fingerprints)."
            )

    # -- the foreachBatch body -------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        meta = self._meta()
        fresh = self._load_manifest() is None
        if not fresh:
            self._validate_meta(meta)
        spark = batch_df.sparkSession
        inc = batch_df.select(
            self.id_col,
            F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
        )

        # intra-batch duplicates raise under EITHER re-send policy: two
        # payloads for one id in one batch is ambiguous, never a retry
        dup = (
            inc.groupBy(self.id_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select(self.id_col)
        )
        if dup.limit(1).count():
            raise ValueError(
                "IvfIndexMaintainer: intra-batch duplicate vector id(s) — "
                "two payloads for one id in one micro-batch is ambiguous. "
                "Deduplicate the batch upstream."
            )
        # cross-batch re-sends: the already-ingested probe reads ONLY
        # the LIVE vector rows of the shards the batch's ids hash into
        # (the vectors sub-table is id-hash sharded) — for a
        # steady-state micro-batch that is min(|batch|, n_shards)/
        # n_shards of the id index, not a full index scan per trigger.
        # Policy: 'supersede' (default) logs the watermark row and every
        # read drops the stale rows; 'reject' — and any pre-contract
        # unstamped dir — keeps the fail-fast append-only guard.
        legacy = not fresh and self._legacy(spark)
        wm = None if legacy else self._wm(spark)
        resent_ids = None
        if not fresh:
            seen = self._live_sub(
                spark,
                "vectors",
                shards=self.touched_shards(inc, self.id_col),
                wm=wm,
            )
            if seen is not None:
                hit = inc.select(self.id_col).join(
                    seen, self.id_col, "left_semi"
                )
                if self.on_resend == "reject" or legacy:
                    if hit.limit(1).count():
                        raise ValueError(
                            "IvfIndexMaintainer: re-sent vector id(s) — this "
                            "maintainer is append-only (on_resend='reject', "
                            "or a pre-contract unstamped state dir). Rebuild "
                            "the state from the corrected stream, or open a "
                            "contract-mode dir with on_resend='supersede'."
                        )
                else:
                    hit = hit.persist()
                    if hit.isEmpty():
                        hit.unpersist()
                    else:
                        resent_ids = hit

        # every sub-table is append-only under frozen artifacts, so the
        # commit is one new fragment per sub holding ONLY this batch's
        # rows — bytes written O(batch), the whole point of the
        # manifest protocol. Contract-mode fragments carry the batch
        # stamp the supersede-on-read filter keys on.
        appends = {}
        sharded = {
            # assigned is sharded by the cell id: a search's posting
            # read prunes to the probed cells' shards — the classic
            # IVF posting-list read, at fragment granularity
            "assigned": self._stamped(
                ivf_assign(
                    inc, self._centroids(spark), self.id_col, self.vec_col
                ).select(self.id_col, "cid"),
                batch_id,
                legacy,
            ).withColumn("_shard", self.shard_of(F.col("cid"))),
            # vectors by id: the re-send/dup probe's pruned read
            "vectors": self._stamped(inc, batch_id, legacy).withColumn(
                "_shard", self.shard_of(F.col(self.id_col))
            ),
        }
        if self.codebook_path is not None:
            codebook = spark.read.parquet(self.codebook_path)
            appends["codes"] = self._stamped(
                quantize_codes(inc, codebook, self.id_col, self.vec_col),
                batch_id,
                legacy,
            )
        if self.pq_codebooks_path is not None:
            pq_cb = spark.read.parquet(self.pq_codebooks_path)
            appends["pq"] = self._stamped(
                pq_codes(
                    inc, pq_cb, self.dims, id_col=self.id_col, vec_col=self.vec_col
                ),
                batch_id,
                legacy,
            )
        if resent_ids is not None:
            appends["resent"] = resent_ids.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            )
        try:
            # the marker rides in the manifest: first commit installs it
            # atomically with the state, later commits carry it forward
            self.commit_delta(
                batch_id,
                appends=appends,
                sharded_appends=sharded,
                user_meta=meta if fresh else None,
            )
        finally:
            if resent_ids is not None:
                resent_ids.unpersist()
        # amortized fold of the per-batch append fragments (see
        # ManifestSwapTable.maybe_compact); a crash between the commit
        # above and a fold loses only the fold
        self.maybe_compact(spark, "assigned", shard_col="cid")
        self.maybe_compact(spark, "vectors", shard_col=self.id_col)
        self.maybe_compact(spark, "codes")
        self.maybe_compact(spark, "pq")
        self.maybe_compact(spark, "resent")
        # self-driving re-send GC: probe only on the rare re-send path
        if resent_ids is not None and self.resend_gc_rows is not None:
            self.maybe_compact_resends(spark, self.resend_gc_rows)

    # -- search over the maintained index --------------------------------

    def candidates(
        self,
        spark: SparkSession,
        queries: DataFrame,
        nprobe: int = 2,
        max_probe_collect: int = 100_000,
        as_of_gen: int | None = None,
        wm=_WM_UNSET,
    ) -> DataFrame:
        """(query_id, query_vec, vec_id): the probed cells' members per
        query, self-matches excluded — the maintained-state twin of
        ``operators/similarity.py::ivf_candidates`` (same probe
        selection, but the corpus-side assignment is READ, not
        recomputed: that is the point of maintaining it).

        The posting read PRUNES to the probed cells' shards (assigned
        is cid-hash sharded): for a serving-sized query set the scan
        touches only the cells being probed — the classic IVF
        posting-list read — and degrades gracefully to the full scan
        as Q × nprobe approaches the cell count. The probe pairs and
        their shard ids come back in ONE collect (Q × nprobe scalar
        rows, never vectors — the serving regime this read is for),
        so the probe-selection plan runs once, not once per consumer.
        That collect is bounded: when Q × nprobe exceeds
        ``max_probe_collect`` (an OFFLINE-sized query set, where shard
        pruning buys nothing — most shards are touched anyway), the
        read falls back to the previous pure-plan form: full postings
        scan joined against the broadcast probe frame, zero driver
        materialization.

        Reads validate the frozen-artifact marker first: a search-only
        maintainer constructed with the ORIGINAL centroids after a
        rebuild would otherwise hash stale probe cells against
        new-generation assignments — silently wrong candidates, the
        generation-mixing hazard the marker exists to catch.

        ``as_of_gen`` (state built with ``gc_grace_gens > 0``) searches
        a RETAINED earlier generation's snapshot — "reproduce
        yesterday's retrieval" — with the marker validated against
        THAT generation's stored fingerprints, so a rebuild in between
        is refused unless this maintainer points at the artifacts the
        travelled-to state was built under (time-travel inverts the
        generation-mixing guard, it never bypasses it)."""
        if not self.sub_leaves("assigned", as_of_gen=as_of_gen):
            raise ValueError("IvfIndexMaintainer: no state ingested yet")
        stored = None if as_of_gen is None else self.user_meta_as_of(as_of_gen)
        self._validate_meta(self._meta(), stored=stored)
        # one watermark build per search, shared by every sub-table read
        # (live filtering: a re-sent id's stale postings must not surface
        # as candidates — they'd double-count and score the old payload).
        # search() passes its own wm through so the whole search builds
        # the frame exactly once (review finding).
        if wm is _WM_UNSET:
            wm = self._wm(spark, as_of_gen=as_of_gen)
        probes = ivf_probes(
            queries, self._centroids(spark), nprobe, self.id_col, self.vec_col
        )
        # bounded regime probe: count at most ceiling+1 query rows (a
        # full count of a derived query frame could cost as much as the
        # search itself — the serving path must not pay it)
        q_ceiling = max_probe_collect // max(nprobe, 1)
        if queries.limit(q_ceiling + 1).count() > q_ceiling:
            # offline regime: the probe list stays a plan, the postings
            # scan goes unpruned (with this many probes it would touch
            # ~every shard anyway)
            assigned = self._live_sub(
                spark, "assigned", as_of_gen=as_of_gen, wm=wm
            )
            if assigned is None:
                # unreachable while the sub_leaves guard above holds
                # (same manifest source), but a None here must raise the
                # explicit error, never an AttributeError off the join
                raise ValueError("IvfIndexMaintainer: no state ingested yet")
            pairs = probes.select("query_id", "cid")
        else:
            pair_schema = probes.select("query_id", "cid").schema
            rows = probes.select(
                "query_id", "cid", self.shard_of(F.col("cid")).alias("s")
            ).collect()
            assigned = (
                self._live_sub(
                    spark,
                    "assigned",
                    shards=sorted({r.s for r in rows}),
                    as_of_gen=as_of_gen,
                    wm=wm,
                )
                if rows
                else None
            )
            if assigned is None:
                # probed shards hold no fragments ⇒ the probed cells are
                # empty ⇒ no candidates; the zero-row full read keeps the
                # schema exact for any id type
                assigned = (
                    self._read_sub(spark, "assigned", as_of_gen=as_of_gen)
                    .drop("_b")
                    .limit(0)
                )
            pairs = spark.createDataFrame(
                [(r.query_id, r.cid) for r in rows], pair_schema
            )
        qv = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).alias("query_vec"),
        )
        return (
            assigned.join(F.broadcast(pairs), "cid")
            .join(F.broadcast(qv), "query_id")
            .filter(F.col("query_id") != F.col(self.id_col))
            .select("query_id", "query_vec", self.id_col)
        )

    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        nprobe: int = 2,
        k: int = 10,
        shortlist: int | None = None,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """Top-k ANN over the maintained index: (query_id, vec_id,
        cos_sim, rank).

        Exact path (no codebook): candidates scored against the raw
        ``vectors`` table — q174's measured operating point. int8 path
        (codebook maintained): candidates scored against the CODES
        table via dequantized doubles, top-``shortlist`` (default 3k)
        kept, exact re-rank of only those rows — q176's composition,
        8× less memory traffic per candidate. Both paths: the probe
        list broadcasts onto the postings, the corpus side never
        shuffles below the join. ``as_of_gen`` searches a retained
        earlier generation's snapshot (see :meth:`candidates`)."""
        wm = self._wm(spark, as_of_gen=as_of_gen)  # ONE build per search
        cand = self.candidates(
            spark, queries, nprobe, as_of_gen=as_of_gen, wm=wm
        )
        vectors = self._live_sub(spark, "vectors", as_of_gen=as_of_gen, wm=wm)
        wq = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col(self.id_col)
        )
        if self.codebook_path is None:
            # stored-vector norms hoisted to once per vector (round 14):
            # same dot/(n·n) float expression as cosine(), bit-identical;
            # the query-side norm stays inline — hoisting it would add a
            # broadcast join (a barrier) to a latency-bound serve path
            scored = cand.join(
                vectors.withColumn("_dn", norm(F.col(self.vec_col))), self.id_col
            ).select(
                "query_id",
                self.id_col,
                F.round(
                    dot(F.col("query_vec"), F.col(self.vec_col))
                    / (norm(F.col("query_vec")) * F.col("_dn")),
                    6,
                ).alias("cos_sim"),
            )
            return (
                scored.withColumn("rank", F.row_number().over(wq))
                .filter(F.col("rank") <= k)
                .select("query_id", self.id_col, "cos_sim", "rank")
            )
        n_short = shortlist if shortlist is not None else 3 * k
        codes = self._live_sub(spark, "codes", as_of_gen=as_of_gen, wm=wm)
        if codes is None:
            raise ValueError(
                "IvfIndexMaintainer: codebook_path is set but the state "
                "has no maintained codes sub-table — the state was built "
                "without a codebook (the meta marker rejects this on the "
                "next apply_batch; rebuild() re-derives codes from the "
                "maintained vectors)."
            )
        codebook = spark.read.parquet(self.codebook_path)
        dq = dequantize_codes(codes, codebook, id_col=self.id_col)
        ws = Window.partitionBy("query_id").orderBy(
            F.col("s").desc(), F.col(self.id_col)
        )
        # dequantized-vector norms hoisted to once per vector (round 14),
        # as in the exact path above; bit-identical
        short = (
            cand.join(dq.withColumn("_ndq", norm(F.col("dqvec"))), self.id_col)
            .select(
                "query_id",
                "query_vec",
                self.id_col,
                F.round(
                    dot(F.col("query_vec"), F.col("dqvec"))
                    / (norm(F.col("query_vec")) * F.col("_ndq")),
                    6,
                ).alias("s"),
            )
            .withColumn("r", F.row_number().over(ws))
            .filter(F.col("r") <= n_short)
            .select("query_id", "query_vec", self.id_col)
        )
        rer = short.join(vectors, self.id_col).select(
            "query_id",
            self.id_col,
            F.round(cosine(F.col("query_vec"), F.col(self.vec_col)), 6).alias(
                "cos_sim"
            ),
        )
        return (
            rer.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= k)
            .select("query_id", self.id_col, "cos_sim", "rank")
        )

    def adc_search(
        self, spark: SparkSession, queries: DataFrame, k: int = 10
    ) -> DataFrame:
        """Top-k by PQ asymmetric distance over the maintained ``pq``
        codes — the memory-bound tier (m bytes/vector scanned, q183's
        direct operating point; compose with :meth:`search` or an exact
        re-rank when recall matters more than scan cost). The ADC
        ranking is exact-integer, so it replays bit-for-bit against a
        batch encode of the same corpus (frozen PQ codebooks make the
        maintained codes == batch codes, property-tested)."""
        # same read-path marker validation as candidates(): ADC against
        # codes encoded under different frozen books must raise (only
        # once state exists — an empty maintainer falls through to the
        # clearer no-codes error below)
        if self._load_manifest() is not None:
            self._validate_meta(self._meta())
        pq = self.read_pq(spark)
        if pq is None:
            raise ValueError(
                "IvfIndexMaintainer: no PQ codes maintained — construct "
                "with pq_codebooks_path to enable the ADC tier"
            )
        lut = pq_adc_lut(
            queries,
            spark.read.parquet(self.pq_codebooks_path),
            self.dims,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        return pq_adc_topk(pq, lut, k=k, id_col=self.id_col)

    def adc_search_reranked(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        shortlist: int = 50,
    ) -> DataFrame:
        """(query_id, vec_id, d2i, rank): the PRODUCTION recall point of
        the PQ tier over streamed state — ADC top-``shortlist`` (the
        m-bytes/vector scan of :meth:`adc_search`) followed by an exact
        integer-L2 re-rank of ONLY the shortlisted rows against the
        maintained ``vectors`` sub-table. q183 measures this
        composition at shortlist 50 (= 2.5% of the sf0.1 corpus):
        recall@10 1.0 on the clustered fixture / 0.465 on the
        adversarially-uniform corpus, vs 0.375/0.195 ADC-only — the
        re-rank is what makes the 64×-compressed tier servable. Both
        stages are exact-integer micro-units (associative long sums),
        so the whole composition replays bit-for-bit in DuckDB (q196).
        Scale shape: the full-corpus scan touches 8-byte codes only;
        raw vectors are read for Q × shortlist rows via one join
        against the id-keyed vectors table (bucket by id at warehouse
        scale), query side broadcast."""
        short = self.adc_search(spark, queries, k=shortlist).select(
            "query_id", self.id_col
        )
        vectors = self.read_vectors(spark)
        qside = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vec_col).cast("array<double>").alias("qvec"),
        )
        wr = Window.partitionBy("query_id").orderBy(
            F.col("d2i"), F.col(self.id_col)
        )
        return (
            short.join(vectors, self.id_col)
            .join(F.broadcast(qside), "query_id")
            .select(
                "query_id",
                self.id_col,
                _d2i(F.col("qvec"), F.col(self.vec_col)).alias("d2i"),
            )
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
        )

    # -- maintenance -------------------------------------------------------

    def compact_resends(self, spark: SparkSession) -> bool:
        """Fold the re-send contract's accumulated state (the shared
        :meth:`ManifestSwapTable.compact_resends`) without retraining:
        superseded assigned/vectors/codes/pq rows leave the disk —
        shard layouts preserved — and the ``resent`` watermark log
        truncates, dropping the per-read watermark broadcast join. Run
        between batches (single-writer discipline); a :meth:`rebuild`
        achieves the same fold as a side effect of re-deriving from
        live vectors. q239 gates read-equivalence on the
        corrupted-then-corrected choreography."""
        if self._load_manifest() is not None:
            self._validate_meta(self._meta())
        return ManifestSwapTable.compact_resends(
            self,
            spark,
            self.id_col,
            {
                "assigned": ([self.id_col], "cid", False),
                "vectors": ([self.id_col], self.id_col, False),
                "codes": ([self.id_col], None, False),
                "pq": ([self.id_col], None, False),
            },
        )

    # -- offline retrain --------------------------------------------------

    def rebuild(
        self,
        spark: SparkSession,
        centroids_path: str,
        codebook_path: str | None = None,
        pq_codebooks_path: str | None = None,
    ) -> None:
        """Swap in RETRAINED frozen artifacts: re-derive every derived
        sub-table (assigned, codes, pq) from the maintained ``vectors``
        against the new centroids/codebooks and commit atomically.

        Maintenance cannot absorb a centroid change additively —
        assignment depends on the centroids — so drift handling is the
        standard IVF production operation: retrain offline, rebuild,
        swap. The applied-batch ledger is preserved (the re-commit
        unions an already-applied id), so the stream resumes appending
        against the new index with exactly-once semantics intact."""
        # LIVE vectors only (read_vectors filters superseded rows), so a
        # rebuild also FOLDS re-send state: the stale rows never reach
        # the re-derived tiers, and the watermark log drops with the
        # other non-re-derived subs below.
        vectors = self.read_vectors(spark)
        if vectors is None:
            raise ValueError("IvfIndexMaintainer: no state ingested yet")
        applied = self.applied_batches()
        # re-derived rows are stamped at the ledger's newest batch (the
        # state they represent): batch ids are monotone, so any FUTURE
        # re-send's watermark still supersedes them, and the dir stays
        # contract-mode through the rebuild. An EMPTY ledger stamps -1,
        # not 0: the commit below deliberately leaves that ledger empty
        # so a stream started afterwards runs its real batch 0, and a
        # stamp of 0 would TIE that batch's re-send watermark — the
        # live rule keeps _b >= wm, so both the stale rebuilt row and
        # its correction would survive (review finding). Legacy
        # (unstamped) dirs stay legacy — stamping them here would flip
        # their re-send policy silently.
        legacy = self._legacy(spark)
        stamp_at = max(applied) if applied else -1

        # Derive everything from LOCAL paths and adopt them on self only
        # after the commit lands: a failed rebuild must leave the
        # maintainer pointed at the artifacts its state was built with,
        # or the next apply_batch would mix assignments across centroid
        # generations (exactly the hazard the meta marker guards).
        frames = {}
        if codebook_path is not None:
            frames["codes"] = self._stamped(
                quantize_codes(
                    vectors,
                    spark.read.parquet(codebook_path),
                    self.id_col,
                    self.vec_col,
                ),
                stamp_at,
                legacy,
            )
        if pq_codebooks_path is not None:
            frames["pq"] = self._stamped(
                pq_codes(
                    vectors,
                    spark.read.parquet(pq_codebooks_path),
                    self.dims,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                ),
                stamp_at,
                legacy,
            )
        # full-replace commit: the one legitimately O(index) write —
        # an offline retrain rewrites every derived sub-table by design.
        # The assigned/vectors rewrites stay cid-/id-hash SHARDED (a
        # replacement of every shard), so the posting-read and
        # dup-guard pruning both survive a rebuild. Tiers the rebuild
        # no longer derives (a dropped codebook / pq_codebooks) are
        # DROPPED from the manifest in the same flip: leaving them
        # would serve codes encoded under retired artifacts, and
        # adc_search would pass its None guard only to crash on the
        # null codebook path.
        # assigned/vectors are rebuilt as DROP + one sharded append:
        # a full replace that re-establishes the cid-/id-hash shard
        # layout REGARDLESS of the prior layout (a shard REPLACEMENT
        # would refuse unsharded legacy fragments, bricking the
        # documented drift-recovery path on upgraded state dirs).
        sharded = {
            "assigned": self._stamped(
                ivf_assign(
                    vectors,
                    spark.read.parquet(centroids_path),
                    self.id_col,
                    self.vec_col,
                ).select(self.id_col, "cid"),
                stamp_at,
                legacy,
            ).withColumn("_shard", self.shard_of(F.col("cid"))),
            "vectors": self._stamped(vectors, stamp_at, legacy).withColumn(
                "_shard", self.shard_of(F.col(self.id_col))
            ),
        }
        # drop EVERYTHING the rebuild does not re-derive (stale tiers)
        # plus the two sharded rebuilds (drop runs before the appends
        # land in the same flip — together, a full replace)
        manifest = self._load_manifest() or {"subs": {}}
        stale = [name for name in manifest["subs"] if name not in frames]
        # the NEW artifacts' marker goes into the SAME flip as the
        # re-derived state: there is no window in which rebuilt state
        # coexists with the old marker. A crash after the flip (before
        # this process's attrs update) restarted with the ORIGINAL
        # artifact paths fails validation explicitly — never a silent
        # mix of index generations.
        # re-record the newest applied batch so the rebuild cannot
        # regress the ledger; an EMPTY ledger stays empty (None) — a
        # fabricated batch id 0 would make a stream started after the
        # rebuild skip its first real micro-batch as a replay
        self.commit_delta(
            max(applied) if applied else None,
            full=frames,
            sharded_appends=sharded,
            drop=stale,
            user_meta=self._meta_for(
                centroids_path, codebook_path, pq_codebooks_path
            ),
        )
        self.centroids_path = centroids_path
        self.codebook_path = codebook_path
        self.pq_codebooks_path = pq_codebooks_path
