"""Streaming quality-gate accounting: q180's per-rule rejection counts
maintained as documents stream in.

A production rule gate (``operators/quality.py::gopher_signals``) is
tuned by its rejection accounting — and the accounting should be a
LIVE number over the ingest stream, not a nightly rescan. Every
quantity q180 reports is a sum of per-document 0/1 indicators, so the
maintenance is purely additive: each micro-batch runs the gate over
ITS OWN documents only (one map stage — the gate is scan-side column
arithmetic), aggregates its counts, and merges by addition into a
single-row state. streamed(prefix) == batch q180(prefix) exactly —
the per-prefix equivalence the tests pin; the registered q189 shares
q180's oracle VERBATIM.

Choreography (replay no-op, marker flipped with the counts, guarded
reads) comes from the shared ``streaming/swap.py::AdditiveStatsMaintainer``
base. Same contract family as ``streaming/drift.py``: documents are
observations (no duplicate-id guard — exactly-once per BATCH via the
manifest's batch ledger); gate thresholds are part of the state's
marker, so a maintainer
constructed with different rules over existing counts raises instead
of mixing accounting regimes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beast_spark.operators.quality import (
    gate_rejection_counts,
    gate_stats_row,
    gopher_signals,
)
from beast_spark.streaming.swap import AdditiveStatsMaintainer

__all__ = ["GateStatsMaintainer"]


class GateStatsMaintainer(AdditiveStatsMaintainer):
    """Owns one manifest-committed state directory (counts — a single
    row)."""

    def __init__(self, path: str, **gate_kwargs) -> None:
        AdditiveStatsMaintainer.__init__(self, path)
        self.gate_kwargs = gate_kwargs

    def _meta(self) -> dict:
        return {
            "gate_kwargs": {
                k: self.gate_kwargs[k] for k in sorted(self.gate_kwargs)
            }
        }

    def _guard_hint(self) -> str:
        return (
            "the gate thresholds changed — accounting across regimes "
            "is meaningless; rebuild the state (fresh dir + checkpoint)."
        )

    def _empty_msg(self) -> str:
        return "GateStatsMaintainer: no documents ingested yet"

    def _batch_counts(
        self, spark: SparkSession, batch_df: DataFrame
    ) -> DataFrame:
        # the q180 builders, shared so the batch query and its streamed
        # twin cannot drift (their equality IS the q189 contract)
        return gate_rejection_counts(
            gopher_signals(batch_df, **self.gate_kwargs)
        )

    def _merge(self, counts: DataFrame, inc: DataFrame) -> DataFrame:
        return counts.unionByName(inc).agg(
            *[F.sum(c).alias(c) for c in inc.columns]
        )

    def read_stats(self, spark: SparkSession) -> DataFrame:
        """q180's single accounting row (rejections per rule, retention)
        over everything ingested so far — marker-validated via the
        shared guarded read."""
        return gate_stats_row(self._read_counts_guarded(spark))
