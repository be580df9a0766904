"""Streaming rollup maintenance: an event stream keeps a materialized
daily aggregate current via ``foreachBatch`` +
:func:`beast_spark.operators.rollup.merge_rollups`.

The reference streams raw rows into day-partitioned warehouse tables
(``sink/bq/BqSink.java:41-80``) and leaves report aggregation to the
warehouse — every dashboard refresh rescans history. This module keeps
the aggregate itself current: each micro-batch is reduced to
rollup-grain partial aggregates (exact integer-cent sums, counts) and
MERGED into the stored rollup — O(batch + rollup) per trigger, the raw
history is never rescanned.

Unlike SCD2 maintenance (``streaming/dimensions.py``), the merge is
commutative and associative, so there is NO per-key ordering contract:
out-of-order batches, backfills, and late data all converge to exactly
the full-rebuild table (property-tested batch-side in
``tests/test_operators.py``).

Exactly-once commit is the shared swap-ledger protocol
(``streaming/swap.py``). Rewriting the full rollup per batch is the
local-parquet simplification — the rollup is aggregate-sized, orders of
magnitude smaller than its input; at warehouse scale the same merge
feeds a keyed MERGE (streaming/sink.py staged keyed publish) on the
(day, keys) primary key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from beast_spark.operators.rollup import daily_rollup, merge_rollups
from beast_spark.sources.versioned import VersionedTable
from beast_spark.streaming.swap import Maintainer, SwapCommittedTable

__all__ = [
    "CentroidMaintainer",
    "RollupMaintainer",
    "SketchMaintainer",
    "VersionedRollupMaintainer",
]


class _RollupLogic(Maintainer):
    """The maintenance algebra, independent of the commit backend: per
    batch, build the increment, read the stored table, merge (or take
    the increment before the first commit) and commit. The default
    hooks are the daily rollup's; :class:`SketchMaintainer` and
    :class:`CentroidMaintainer` supply their own ``_increment`` /
    ``_merge``. Every merge here is commutative and associative, so any
    batch order converges — the merge is order-insensitive.

    Host classes provide the storage protocol — ``applied_batches()``,
    ``read_table(spark)`` (None before first commit), and
    ``commit(df, batch_id)`` — which both ``SwapCommittedTable`` and
    ``sources/versioned.py::VersionedTable`` implement.
    """

    key_cols: list
    ts_col: str
    value_col: str

    def read_rollup(self, spark: SparkSession) -> DataFrame | None:
        return self.read_table(spark)

    def _increment(self, batch_df: DataFrame) -> DataFrame:
        return daily_rollup(batch_df, self.key_cols, self.ts_col, self.value_col)

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        return merge_rollups(existing, inc)

    def _absorb(self, batch_df: DataFrame, batch_id: int) -> None:
        inc = self._increment(batch_df)
        existing = self.read_table(batch_df.sparkSession)
        updated = inc if existing is None else self._merge(existing, inc)
        self.commit(updated, batch_id)


class RollupMaintainer(_RollupLogic, SwapCommittedTable):
    """Owns one materialized rollup directory fed by an event stream."""

    def __init__(
        self,
        rollup_path: str,
        key_cols: Sequence[str],
        ts_col: str,
        value_col: str,
    ) -> None:
        SwapCommittedTable.__init__(self, rollup_path)
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.value_col = value_col


class VersionedRollupMaintainer(_RollupLogic, VersionedTable):
    """Rollup maintenance committing into a versioned table: every
    micro-batch becomes a retained, queryable SNAPSHOT (time travel to
    the rollup as-of any batch), the batch ledger rides in the same
    atomic manifest flip as the version pointer, and old snapshots age
    out via ``vacuum()``."""

    def __init__(
        self,
        rollup_path: str,
        key_cols: Sequence[str],
        ts_col: str,
        value_col: str,
        keep_versions: int = 3,
    ) -> None:
        VersionedTable.__init__(self, rollup_path, keep_versions=keep_versions)
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.value_col = value_col


class SketchMaintainer(_RollupLogic, SwapCommittedTable):
    """Maintains a per-day HLL sketch table from an event stream.

    Each micro-batch sketches ONLY its own rows
    (:func:`beast_spark.operators.sketches.sketch_by_slice`), then
    merges into the stored table by day (``hll_union_agg`` of the
    binaries) — so the distinct-count profile (q128) and the rolling
    MAU series (q130) stay current under streaming ingest without ever
    rescanning history. DataSketches HLL union at a fixed lgK is
    determined by the item SET, not the merge schedule, so any batch
    order — including replays split across days — converges to the
    same estimates as a from-scratch sketch of all rows
    (asserted exactly in tests/test_streaming_rollup.py).
    """

    def __init__(self, sketch_path: str, ts_col: str, value_col: str) -> None:
        super().__init__(sketch_path)
        self.ts_col = ts_col
        self.value_col = value_col

    def read_sketches(self, spark: SparkSession) -> DataFrame | None:
        return self.read_table(spark)

    def _increment(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        from beast_spark.operators.sketches import sketch_by_slice

        day = F.date_format(self.ts_col, "yyyy-MM-dd").alias("day")
        return sketch_by_slice(batch_df, [day], self.value_col)

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return (
            existing.unionByName(inc)
            .groupBy("day")
            .agg(
                F.hll_union_agg("sketch").alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        )


class CentroidMaintainer(_RollupLogic, SwapCommittedTable):
    """Maintains per-label embedding-centroid STATE from a vector stream.

    Mergeable state is (label, dim, sum, n) — the q143 discipline on
    the streaming face: each micro-batch posexplodes ONLY its own
    vectors into per-(label, dim) partial sums, merged into the stored
    state by summation; centroids (and the q138 drift cosines) derive
    at read time, so the maintained table equals a from-scratch build
    exactly (integer counts, sum merge order invisible at read
    rounding). Commit protocol: shared swap ledger.
    """

    def __init__(self, state_path: str, label_col: str, vec_col: str) -> None:
        super().__init__(state_path)
        self.label_col = label_col
        self.vec_col = vec_col

    def _increment(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return (
            df.select(
                F.col(self.label_col).alias("label"),
                F.posexplode(self.vec_col).alias("dim", "val"),
            )
            .groupBy("label", "dim")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def read_centroids(self, spark: SparkSession) -> DataFrame | None:
        """(label, dim, centroid_val) derived from the maintained sums."""
        from pyspark.sql import functions as F

        state = self.read_table(spark)
        if state is None:
            return None
        return state.select(
            "label", "dim", (F.col("s") / F.col("n")).alias("centroid_val")
        )

    def _merge(self, existing: DataFrame, inc: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return (
            existing.unionByName(inc)
            .groupBy("label", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
