"""Streaming SCD2 dimension maintenance: a changelog stream keeps a
slowly-changing-dimension history table current via ``foreachBatch`` +
:func:`beast_spark.operators.scd.scd2_apply_increment`.

The reference streams rows into ONE flat BigQuery table
(`sink/bq/BqSink.java:82-93`) and leaves dimension modeling to the
warehouse. This module closes that gap engine-side: each micro-batch is
an append-only changelog increment, applied in O(increment) (untouched
keys never shuffle — see operators/scd.py), committed exactly-once.

Exactly-once commit: :class:`Scd2Maintainer` flips one atomic manifest
carrying the data AND the applied-batch ledger
(``streaming/swap.py::ManifestSwapTable``);
:class:`VersionedScd2Maintainer` commits through the versioned table's
pointer manifest. A replayed batch after any crash is a no-op in both.

Scale: per batch the history is read through broadcast anti/semi joins
(no shuffle). :class:`Scd2Maintainer` commits through the manifest
protocol (``ManifestSwapTable``): the history is key-hash SHARDED and a
batch reads and rewrites ONLY the shards its keys touch — untouched
shards keep their fragment leaves byte-identical, so per-trigger I/O is
O(touched keys' shards), never O(dimension). (That is the keyed-MERGE
shape this docstring used to defer to the warehouse.)
:class:`VersionedScd2Maintainer` instead snapshots the WHOLE history
per batch into a versioned table — full rewrite by design, that is
what a retained snapshot is.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from beast_spark.operators.scd import scd2_apply_increment, scd2_from_changelog
from beast_spark.sources.versioned import VersionedTable
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["Scd2Maintainer", "VersionedScd2Maintainer"]


class _Scd2Logic(Maintainer):
    """The maintenance algebra, independent of the commit backend
    (same factoring as ``streaming/rollup.py::_RollupLogic``).
    Subclasses provide ``_read_for_batch`` (the history rows the
    increment may touch) and ``_commit_history``.

    The changelog must arrive in per-key order (file/Kafka sources do
    within a key's partition) — out-of-order backfills need a full
    rebuild, same contract as ``scd2_apply_increment``."""

    key_cols: list
    attr_col: str
    order_cols: list

    @property
    def history_path(self) -> str:
        return self.path

    def read_history(self, spark: SparkSession) -> DataFrame | None:
        return self.read_table(spark)

    def _read_for_batch(
        self, spark: SparkSession, batch_df: DataFrame
    ) -> DataFrame | None:
        return self.read_history(spark)

    def _commit_history(
        self, updated: DataFrame, batch_df: DataFrame, batch_id: int
    ) -> None:
        self.commit(updated, batch_id)

    # -- the foreachBatch body -------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        history = self._read_for_batch(spark, batch_df)
        if history is None:
            updated = scd2_from_changelog(
                batch_df, self.key_cols, self.attr_col, self.order_cols
            )
        else:
            updated = scd2_apply_increment(
                history, batch_df, self.key_cols, self.attr_col, self.order_cols
            )
        self._commit_history(updated, batch_df, batch_id)


class Scd2Maintainer(_Scd2Logic, ManifestSwapTable):
    """Owns one SCD2 history directory fed by a changelog stream.

    The history is key-hash sharded: a batch reads only the shards its
    keys touch (the pass-through of untouched keys inside those shards
    rides along in ``scd2_apply_increment``'s anti-join), and the
    commit replaces exactly those shards — per-trigger I/O is
    O(touched shards), never O(dimension)."""

    def __init__(
        self,
        history_path: str,
        key_cols: Sequence[str],
        attr_col: str,
        order_cols: Sequence[str],
        n_shards: int = 16,
        gc_grace_gens: int = 0,
    ) -> None:
        ManifestSwapTable.__init__(
            self, history_path, n_shards=n_shards, gc_grace_gens=gc_grace_gens
        )
        self.key_cols = list(key_cols)
        self.attr_col = attr_col
        self.order_cols = list(order_cols)

    def read_history(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """``as_of_gen`` (gc_grace_gens > 0) serves a retained earlier
        generation's history snapshot — shard-replaced state, so the
        stored rows at a generation ARE that generation's history (the
        family as_of contract; the VersionedScd2Maintainer variant
        offers the same via its per-batch snapshots)."""
        return self._read_sub(spark, "history", as_of_gen=as_of_gen)

    def _read_for_batch(
        self, spark: SparkSession, batch_df: DataFrame
    ) -> DataFrame | None:
        # only the shards holding a batch key: scd2_apply_increment's
        # untouched-key pass-through then reconstructs exactly the new
        # content of those shards
        return self._read_sub(
            spark,
            "history",
            shards=self.touched_shards(batch_df, *self.key_cols),
        )

    def _commit_history(
        self, updated: DataFrame, batch_df: DataFrame, batch_id: int
    ) -> None:
        from pyspark.sql import functions as F

        # the touched list is recomputed from the SAME deterministic
        # shard function (one O(n_shards)-scalar action) rather than
        # smuggled between the two hooks as instance state — a retried
        # or out-of-order hook call can never commit a replacement
        # scoped to a previous batch's shards
        self.commit_delta(
            batch_id,
            shard_replacements={
                "history": (
                    updated.withColumn(
                        "_shard",
                        self.shard_of(*[F.col(c) for c in self.key_cols]),
                    ),
                    self.touched_shards(batch_df, *self.key_cols),
                )
            },
        )


class VersionedScd2Maintainer(_Scd2Logic, VersionedTable):
    """SCD2 maintenance committing into a versioned table: every
    micro-batch becomes a retained snapshot of the dimension history —
    time travel answers "what did this dimension look like as-of batch
    N" (distinct from the SCD2 intervals themselves, which answer
    as-of EVENT time), with the exactly-once ledger in the same atomic
    manifest flip as the version pointer."""

    def __init__(
        self,
        history_path: str,
        key_cols: Sequence[str],
        attr_col: str,
        order_cols: Sequence[str],
        keep_versions: int = 3,
    ) -> None:
        VersionedTable.__init__(self, history_path, keep_versions=keep_versions)
        self.key_cols = list(key_cols)
        self.attr_col = attr_col
        self.order_cols = list(order_cols)
