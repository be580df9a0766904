"""Streaming event-window maintenance: the oracle-checkable streamed
twins of the batch window queries (q23 tumbling hourly stats, q24
30-min-gap sessions).

Both ride the shared builders in ``operators/eventwindows.py`` — the
batch query and the maintainer compute through the SAME column
expressions, so twin and batch cannot drift — and both commit through
the manifest protocol (``streaming/swap.py::ManifestSwapTable``) with
the state hash-SHARDED on its merge key: a micro-batch reads and
rewrites only the shards its keys touch, so per-trigger I/O is
O(touched shards), never O(state). (The whole-table
``AdditiveStatsMaintainer`` protocol fits O(sources)-sized counters;
window×user and user×session state grows with the corpus, so it gets
the same touched-shard discipline as the SCD2 dimension maintainer.)

* :class:`HourlyWindowStatsMaintainer` — q23 decomposes into additive
  per-(window, event_type, user) partials (countDistinct(user) becomes
  a count of partial rows), so maintenance is a keyed additive merge.
* :class:`SessionStatsMaintainer` — sessions are MERGEABLE intervals:
  per-batch event-level sessionization yields sub-intervals of the
  final sessions, and re-merging on endpoint gaps reproduces
  event-level sessionization of the union exactly, independent of how
  events were split across batches (property-tested on adversarially
  time-interleaved splits). This is the algebra Spark's
  ``session_window`` state store applies; keeping it in DataFrame land
  makes the state an inspectable, shard-replaceable table.

Reference parity: the reference defers all window analytics to the
warehouse (``sink/bq/BqSink.java:82-93``); this closes SURVEY §2.B's
streaming row with driver-gate-checkable results (q200/q201 share
q23/q24's oracles verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.eventwindows import (
    SESSION_GAP_MS,
    hourly_user_partials,
    hourly_window_stats,
    merge_session_intervals,
    numbered_sessions,
    session_intervals,
)
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["HourlyWindowStatsMaintainer", "SessionStatsMaintainer"]


class _ShardedMergeMaintainer(Maintainer, ManifestSwapTable):
    """Shared choreography for keyed-merge maintainers whose state
    grows with the data: per batch, build the increment rows, read only
    the touched shards, merge, and commit the replacement shards + the
    ledger in one atomic manifest flip. Subclasses set ``_SUB`` /
    ``_KEYS`` and provide ``_batch_rows`` / ``_merge`` / ``_meta``."""

    _SUB = "state"
    _KEYS: list[str] = []

    def _meta(self) -> dict:
        raise NotImplementedError

    def _batch_rows(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _guard(self) -> None:
        stored = self.user_meta()
        import json

        want = json.loads(json.dumps(self._meta()))
        if stored is not None and stored != want:
            raise ValueError(
                f"{type(self).__name__}: state at {self.path} was built "
                f"under config {stored}, maintainer configured with "
                f"{want} — mixed-config windows/sessions are meaningless; "
                "rebuild the state (fresh dir + checkpoint)."
            )

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        self._guard()
        spark = batch_df.sparkSession
        # the increment is read twice (touched-shard probe + merge) —
        # persist so the batch source is scanned once
        inc = self._batch_rows(batch_df).persist()
        try:
            touched = self.touched_shards(inc, *self._KEYS)
            existing = self._read_sub(spark, self._SUB, shards=touched)
            merged = inc if existing is None else self._merge(existing, inc)
            self.commit_delta(
                batch_id,
                shard_replacements={
                    self._SUB: (
                        merged.withColumn(
                            "_shard",
                            self.shard_of(*[F.col(c) for c in self._KEYS]),
                        ),
                        touched,
                    )
                },
                user_meta=self._meta(),
            )
        finally:
            inc.unpersist()

    def _read_state(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        # the live-marker guard is sound for time-travel reads too:
        # these maintainers' meta is the (immutable) window/gap config,
        # never a per-generation artifact
        self._guard()
        state = self._read_sub(spark, self._SUB, as_of_gen=as_of_gen)
        if state is None:
            raise ValueError(f"{type(self).__name__}: nothing ingested yet")
        return state


class HourlyWindowStatsMaintainer(_ShardedMergeMaintainer):
    """q23's tumbling hourly stats maintained live: additive partials
    keyed (window_start, event_type, user_id), finalized on read.

    ``grain_minutes`` (default 60, the original hourly grain; meta-
    guarded like the session gap) sets the partials' bucket width — a
    finer grain serves SUB-hour sliding geometries from the same state
    (:meth:`read_sliding_minutes`) at proportionally more state rows.
    ``read_stats`` finalizes q23's shape only at the default grain."""

    _SUB = "partials"
    _KEYS = ["window_start", "event_type", "user_id"]

    def __init__(
        self,
        path: str,
        grain_minutes: int = 60,
        n_shards: int = 16,
        gc_grace_gens: int = 0,
    ):
        ManifestSwapTable.__init__(
            self, path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )
        if grain_minutes <= 0 or 1440 % grain_minutes:
            # the grid must tile days or epoch alignment drifts across
            # DST-free UTC days and windows stop being bucket unions
            raise ValueError(
                f"grain_minutes must divide 1440, got {grain_minutes}"
            )
        self.grain_minutes = grain_minutes

    def _meta(self) -> dict:
        # the historical marker for the hourly default — existing state
        # dirs were committed with it and must keep validating
        if self.grain_minutes == 60:
            return {"window": "1 hour"}
        return {"window": f"{self.grain_minutes} minutes"}

    def _batch_rows(self, batch_df: DataFrame) -> DataFrame:
        return hourly_user_partials(batch_df, grain_minutes=self.grain_minutes)

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        return (
            existing.select(inc.columns)
            .unionByName(inc)
            .groupBy(*self._KEYS)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("n_value").alias("n_value"),
                F.sum("sum_cents").alias("sum_cents"),
            )
        )

    def read_stats(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        """q23's output over everything ingested so far (meaningful at
        the default hourly grain; a finer grain finalizes the same
        shape over finer tumbling buckets). ``as_of_gen`` reads a
        retained earlier generation's snapshot (see
        ``SessionStatsMaintainer.read_sessions``)."""
        return hourly_window_stats(self._read_state(spark, as_of_gen=as_of_gen))

    def read_sliding(
        self, spark: SparkSession, window_hours: int = 2, slide_hours: int = 1
    ) -> DataFrame:
        """q69's sliding-window stats served from the SAME maintained
        partials — see :meth:`read_sliding_minutes` (this is the
        hour-multiple convenience form)."""
        return self.read_sliding_minutes(
            spark, window_hours * 60, slide_hours * 60
        )

    def read_sliding_minutes(
        self, spark: SparkSession, window_minutes: int, slide_minutes: int
    ) -> DataFrame:
        """Sliding-window stats served from the maintained partials —
        one state, many window geometries: a sliding (W, S) window
        whose slide S is a multiple of the partials' grain (and W a
        multiple of S) is an exact sum of the base grain buckets
        (epoch-aligned, like ``F.window``), so each bucket explodes
        into its W/S covering window starts and re-sums. No second
        maintainer, no re-read of the events. Sub-hour geometries
        (e.g. 60/30) need a maintainer built with the matching
        ``grain_minutes`` — the grid mismatch raises, it never
        approximates."""
        if window_minutes % slide_minutes:
            raise ValueError("window_minutes must be a multiple of slide_minutes")
        if slide_minutes % self.grain_minutes:
            raise ValueError(
                f"slide_minutes={slide_minutes} is not a multiple of this "
                f"maintainer's grain_minutes={self.grain_minutes} — the "
                "window grid would not be a union of maintained buckets"
            )
        buckets = (
            self._read_state(spark)
            .groupBy("window_start")
            .agg(
                F.sum("n_events").alias("_n"),
                F.sum("sum_cents").alias("_s"),
            )
        )
        k = window_minutes // slide_minutes
        # the covering window starts are epoch-aligned MULTIPLES OF THE
        # SLIDE (exactly F.window's grid): snap the bucket down to the
        # slide grid first, then step back — exploding from the raw
        # bucket would emit misaligned starts whenever slide > grain
        slide_s = slide_minutes * 60
        base = F.timestamp_seconds(
            F.floor(F.unix_timestamp("window_start") / F.lit(slide_s)).cast("long")
            * slide_s
        )
        starts = F.array(
            *[base - F.expr(f"INTERVAL {i * slide_minutes} MINUTES") for i in range(k)]
        )
        return (
            buckets.withColumn("wstart", F.explode(starts))
            .groupBy("wstart")
            .agg(
                F.sum("_n").alias("n_events"),
                F.sum("_s").alias("sum_value_cents"),
            )
            .select(
                "wstart",
                (F.col("wstart") + F.expr(f"INTERVAL {window_minutes} MINUTES")).alias(
                    "wend"
                ),
                "n_events",
                "sum_value_cents",
            )
        )


class SessionStatsMaintainer(_ShardedMergeMaintainer):
    """q24's sessions maintained live: merged per-user session
    intervals, ordinal ids assigned on read (an id is only meaningful
    once the session set is final for the asked-at moment)."""

    _SUB = "sessions"
    _KEYS = ["user_id"]

    def __init__(
        self,
        path: str,
        gap_ms: int = SESSION_GAP_MS,
        n_shards: int = 16,
        gc_grace_gens: int = 0,
    ):
        ManifestSwapTable.__init__(
            self, path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )
        self.gap_ms = gap_ms

    def _meta(self) -> dict:
        return {"gap_ms": self.gap_ms}

    def _batch_rows(self, batch_df: DataFrame) -> DataFrame:
        return session_intervals(batch_df, gap_ms=self.gap_ms)

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        return merge_session_intervals(
            existing.select(inc.columns).unionByName(inc), gap_ms=self.gap_ms
        )

    def read_sessions(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        """q24's output over everything ingested so far — or, with
        ``as_of_gen`` (and ``gc_grace_gens > 0``), over everything
        ingested as of a RETAINED earlier generation: the manifest's
        embedded history resolves that generation's immutable fragment
        set, so the read is a consistent snapshot no concurrent commit
        can tear (time travel, the pointer-table-format discipline)."""
        return numbered_sessions(self._read_state(spark, as_of_gen=as_of_gen))

    def read_user_sessions(self, spark: SparkSession, users: DataFrame) -> DataFrame:
        """Serving read — "these users' sessions now": prunes the state
        scan to the probed users' hash shards (the IVF posting-read
        discipline, ``streaming/ivf.py::candidates``) instead of
        touching every user shard, then semi-joins to the exact user
        set. ``users`` is a serving-sized (user_id) frame; output ==
        :meth:`read_sessions` restricted to the same users (ordinal ids
        are per-user, so pruning cannot change them). The shard probe
        is one O(n_shards) driver-side action."""
        self._guard()
        if not self.sub_leaves(self._SUB):
            raise ValueError(f"{type(self).__name__}: nothing ingested yet")
        shards = self.touched_shards(users, "user_id")
        state = self._read_sub(spark, self._SUB, shards=shards)
        if state is None:
            # state exists but the probed shards hold no fragments ⇒
            # none of these users has ever been seen; keep the schema
            # exact with a zero-row full read
            state = self._read_sub(spark, self._SUB).limit(0)
        pruned = state.join(
            F.broadcast(users.select("user_id").distinct()), "user_id", "left_semi"
        )
        return numbered_sessions(pruned)
