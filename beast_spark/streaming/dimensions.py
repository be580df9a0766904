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
(``streaming/swap.py::ManifestSwapTable``) — the single commit point,
so a replayed batch after any crash is a no-op.

Scale: per batch the history is read through broadcast anti/semi joins
(no shuffle). The history is key-hash SHARDED and a batch reads and
rewrites ONLY the shards its keys touch — untouched shards keep their
fragment leaves byte-identical, so per-trigger I/O is O(touched keys'
shards), never O(dimension). (That is the keyed-MERGE shape this
docstring used to defer to the warehouse.) Time travel — "what did
this dimension look like as-of generation N", distinct from the SCD2
intervals themselves, which answer as-of EVENT time — is
``read_history(as_of_gen=N)`` on a maintainer built with
``gc_grace_gens > 0``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from beast_spark.operators.scd import scd2_apply_increment, scd2_from_changelog
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

__all__ = ["Scd2Maintainer"]


class Scd2Maintainer(Maintainer, ManifestSwapTable):
    """Owns one SCD2 history directory fed by a changelog stream.

    The history is key-hash sharded: a batch reads only the shards its
    keys touch (the pass-through of untouched keys inside those shards
    rides along in ``scd2_apply_increment``'s anti-join), and the
    commit replaces exactly those shards — per-trigger I/O is
    O(touched shards), never O(dimension).

    The changelog must arrive in per-key order (file/Kafka sources do
    within a key's partition) — out-of-order backfills need a full
    rebuild, same contract as ``scd2_apply_increment``."""

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

    @property
    def history_path(self) -> str:
        return self.path

    def read_history(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame | None:
        """``as_of_gen`` (gc_grace_gens > 0) serves a retained earlier
        generation's history snapshot — shard-replaced state, so the
        stored rows at a generation ARE that generation's history (the
        family as_of contract)."""
        return self._read_sub(spark, "history", as_of_gen=as_of_gen)

    # -- the foreachBatch body -------------------------------------------

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        # only the shards holding a batch key: scd2_apply_increment's
        # untouched-key pass-through then reconstructs exactly the new
        # content of those shards, and the commit replaces exactly them
        touched = self.touched_shards(batch_df, *self.key_cols)
        history = self._read_sub(batch_df.sparkSession, "history", shards=touched)
        if history is None:
            updated = scd2_from_changelog(
                batch_df, self.key_cols, self.attr_col, self.order_cols
            )
        else:
            updated = scd2_apply_increment(
                history, batch_df, self.key_cols, self.attr_col, self.order_cols
            )
        self.commit_delta(
            batch_id,
            shard_replacements={
                "history": (
                    updated.withColumn(
                        "_shard",
                        self.shard_of(*[F.col(c) for c in self.key_cols]),
                    ),
                    touched,
                )
            },
        )
