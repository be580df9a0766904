"""Streaming distribution-drift monitoring: PSI and a grid-restricted
KS against a FROZEN baseline, maintained incrementally as
current-window events stream in.

The batch form (q104) compares two halves of one scan; in production
the reference window is a frozen artifact (last quarter's histogram)
and the CURRENT window grows event by event — recomputing the full PSI
per trigger re-scans everything. This maintainer is the continuous
form: per-(key, bucket) counts are ADDITIVE, so each micro-batch
aggregates only ITS OWN events (map-side combine, buckets are a pure
column expression) and merges into the tiny running histogram; PSI is
derived from histogram + baseline on read. streamed(prefix) ==
batch PSI(baseline, prefix) exactly — the per-prefix equivalence the
tests pin.

State: one manifest-committed ``counts`` sub-table ((key, bucket, n) —
keys × buckets rows, independent of event volume). The baseline is
validated by the frozen-artifact marker that rides in the same
manifest flip as the counts (``streaming/swap.py::
AdditiveStatsMaintainer``): a baseline rewritten in place, or a
maintainer constructed with different bucketing, raises instead of
silently reporting drift against the wrong reference.

Unlike the keyed maintainers (near-dup, IVF) there is no duplicate-id
guard: events are observations, not keyed entities — exactly-once per
BATCH is the contract, and the manifest's batch ledger provides it
(replay no-op tested).

PSI semantics match q104 bit-for-bit: fixed-width value buckets
(top-clamped), Laplace smoothing +0.5 per present bucket with
+0.5·n_buckets on totals, psi = Σ (p−q)·ln(p/q) over the union of
buckets present in either window, floor-rounded to 4 digits.

TWO reads of the same maintained histogram, with different estimator
contracts: ``read_psi`` is the EXACT streamed twin of the batch PSI
(binned by construction), while ``read_grid_ks`` is a grid-restricted
KS — exact w.r.t. its own definition (and == its batch twin per
prefix), but a LOWER BOUND on the raw-value KS statistic (q190
hash-checks the bound). A key present in only one window reports the
maximal statistic (its missing side's CDF is taken as 0 → grid_ks = 1)
instead of crashing — a brand-new event type IS the drift signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beast_spark.queries._util import rnd
from beast_spark.streaming.swap import (
    AdditiveStatsMaintainer,
    artifact_fingerprint,
)

__all__ = [
    "DriftMaintainer",
    "bucket_histogram",
    "psi_from_histograms",
    "grid_ks_from_histograms",
    "exact_ks",
]


def bucket_histogram(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    width: float = 50.0,
    n_buckets: int = 10,
) -> DataFrame:
    """(key, bucket, n): fixed-width top-clamped value histogram — the
    q104 bucketing as a reusable builder (one map stage + map-side
    combinable count at any scale)."""
    bucket = F.least(F.floor(F.col(value_col) / width), F.lit(n_buckets - 1)).cast(
        "int"
    )
    return (
        df.select(F.col(key_col).alias("key"), bucket.alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _joined_histograms(baseline: DataFrame, current: DataFrame) -> DataFrame:
    """Full-outer (key, bucket) union of two histograms with zero-filled
    counts — defines which buckets participate for BOTH derived
    statistics, so the two reads cannot disagree about the bucket set."""
    a = baseline.select("key", "bucket", F.col("n").alias("a_cnt"))
    b = current.select("key", "bucket", F.col("n").alias("b_cnt"))
    return (
        a.join(b, ["key", "bucket"], "full")
        .withColumn("a_cnt", F.coalesce("a_cnt", F.lit(0)))
        .withColumn("b_cnt", F.coalesce("b_cnt", F.lit(0)))
    )


def psi_from_histograms(
    baseline: DataFrame, current: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """(key, a_total, b_total, psi): q104's smoothed PSI from two
    (key, bucket, n) histograms — full-outer per (key, bucket) so the
    bucket set is the union of buckets present in EITHER window (the
    q104 union-scan semantics), window totals over the tiny joined
    frame, floor-rounded 4 digits. Histograms are keys × buckets rows;
    everything here is aggregate-sized."""
    j = _joined_histograms(baseline, current)
    w = Window.partitionBy("key")
    t = j.withColumn("a_tot", F.sum("a_cnt").over(w)).withColumn(
        "b_tot", F.sum("b_cnt").over(w)
    )
    smooth = 0.5 * n_buckets
    p = (F.col("a_cnt") + 0.5) / (F.col("a_tot") + smooth)
    q = (F.col("b_cnt") + 0.5) / (F.col("b_tot") + smooth)
    return t.groupBy("key").agg(
        F.max("a_tot").alias("a_total"),
        F.max("b_tot").alias("b_total"),
        rnd(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
    )


def grid_ks_from_histograms(baseline: DataFrame, current: DataFrame) -> DataFrame:
    """(key, a_total, b_total, grid_ks): the Kolmogorov–Smirnov sup
    statistic restricted to the HISTOGRAM GRID — sup over bucket
    boundaries of |CDF_a − CDF_b|.

    This is the honest mergeable-summary form of KS: the exact
    two-sample statistic (q114) needs the full empirical CDF and is not
    additive, but a fixed-grid CDF is — per-bucket counts merge by
    addition, so the SAME maintained histogram that serves PSI serves
    this. The estimator contract is explicit: grid_ks <= exact KS
    always (the sup runs over a subset of split points), with equality
    whenever the true sup lands on a grid boundary; tighten the grid
    (n_buckets) to tighten the gap. Cumulative fractions are plain IEEE
    divisions of integer counts, so the statistic replays exactly in
    any engine."""
    j = _joined_histograms(baseline, current)
    wc = Window.partitionBy("key").orderBy("bucket")
    wk = Window.partitionBy("key")
    t = (
        j.withColumn("a_cum", F.sum("a_cnt").over(wc))
        .withColumn("b_cum", F.sum("b_cnt").over(wc))
        .withColumn("a_tot", F.sum("a_cnt").over(wk))
        .withColumn("b_tot", F.sum("b_cnt").over(wk))
    )
    # a key in only ONE window (a brand-new event type after the
    # baseline freeze — exactly the drift to catch): the missing side's
    # CDF is taken as 0, so the key reports the maximal statistic
    # (grid_ks = 1) instead of a divide-by-zero crash under ANSI
    cdf_a = F.when(F.col("a_tot") > 0, F.col("a_cum") / F.col("a_tot")).otherwise(
        F.lit(0.0)
    )
    cdf_b = F.when(F.col("b_tot") > 0, F.col("b_cum") / F.col("b_tot")).otherwise(
        F.lit(0.0)
    )
    gap = F.abs(cdf_a - cdf_b)
    return t.groupBy("key").agg(
        F.max("a_tot").alias("a_total"),
        F.max("b_tot").alias("b_total"),
        rnd(F.max(gap), 4).alias("grid_ks"),
    )


def exact_ks(
    df: DataFrame,
    key_col: str = "et",
    value_col: str = "value",
    in_a_col: str = "in_a",
) -> DataFrame:
    """(key, n_a, n_b, ks_stat): the EXACT two-sample KS over raw
    values — q114's construction as the shared builder, so the batch
    query and the q190 grid-vs-exact comparison cannot drift. ECDFs via
    RANGE-frame cumulative sums over the pooled sample (the RANGE frame
    counts ties identically in any engine); max is order-insensitive.
    Both samples must be non-empty per key — the raw-value statistic is
    undefined for an empty side (the guarded, monitor-safe form is the
    grid read: :func:`grid_ks_from_histograms`)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy(key_col)
    c = (
        df.withColumn("cum_a", F.sum(in_a_col).over(w))
        .withColumn("cum_b", F.sum(F.lit(1) - F.col(in_a_col)).over(w))
        .withColumn("n_a", F.sum(in_a_col).over(full))
        .withColumn("n_b", F.sum(F.lit(1) - F.col(in_a_col)).over(full))
    )
    diff = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a")
        - F.col("cum_b").cast("double") / F.col("n_b")
    )
    return c.groupBy(F.col(key_col).alias("key")).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        rnd(F.max(diff), 4).alias("ks_stat"),
    )


class DriftMaintainer(AdditiveStatsMaintainer):
    """Owns one manifest-committed state directory (counts).
    Choreography (replay no-op, marker flipped with the counts, guarded
    reads) comes from the shared
    ``streaming/swap.py::AdditiveStatsMaintainer`` base."""

    def __init__(
        self,
        path: str,
        baseline_path: str,
        key_col: str = "event_type",
        value_col: str = "value",
        width: float = 50.0,
        n_buckets: int = 10,
        fingerprint=None,
    ) -> None:
        AdditiveStatsMaintainer.__init__(self, path)
        # storage-native fingerprint hook, as in DecontamMaintainer
        self.fingerprint = fingerprint or artifact_fingerprint
        self.baseline_path = baseline_path
        self.key_col = key_col
        self.value_col = value_col
        self.width = width
        self.n_buckets = n_buckets

    def _meta(self) -> dict:
        return {
            "baseline": self.fingerprint(self.baseline_path),
            "key_col": self.key_col,
            "value_col": self.value_col,
            "width": self.width,
            "n_buckets": self.n_buckets,
        }

    def _guard_hint(self) -> str:
        return (
            "the frozen baseline or bucket config changed — rebuild "
            "the state against the new reference (fresh state dir + "
            "checkpoint)."
        )

    def _empty_msg(self) -> str:
        return "DriftMaintainer: no events ingested yet"

    def _batch_counts(self, spark: SparkSession, batch_df: DataFrame) -> DataFrame:
        return bucket_histogram(
            batch_df, self.key_col, self.value_col, self.width, self.n_buckets
        )

    def _merge(self, counts: DataFrame, inc: DataFrame) -> DataFrame:
        return counts.unionByName(inc).groupBy("key", "bucket").agg(
            F.sum("n").alias("n")
        )

    def read_counts(self, spark: SparkSession) -> DataFrame | None:
        return self._read_sub(spark, self._SUB)

    # -- reads ------------------------------------------------------------

    def _validated_state(
        self, spark: SparkSession
    ) -> tuple[DataFrame, DataFrame]:
        """(baseline, counts) for the derived reads, marker-validated
        FIRST: the read path is exactly where a baseline rewritten in
        place (no new batch has run, so apply_batch's guard never
        fired) would otherwise report drift against the wrong
        reference silently."""
        counts = self._read_counts_guarded(spark)
        return spark.read.parquet(self.baseline_path), counts

    def read_psi(self, spark: SparkSession) -> DataFrame:
        """(key, a_total, b_total, psi) of the maintained current window
        vs the frozen baseline — aggregate-sized, derived on read."""
        baseline, counts = self._validated_state(spark)
        return psi_from_histograms(baseline, counts, self.n_buckets)

    def read_grid_ks(self, spark: SparkSession, coarsen: int = 1) -> DataFrame:
        """(key, a_total, b_total, grid_ks) — the KS-on-the-grid read of
        the SAME maintained histogram (see
        :func:`grid_ks_from_histograms` for the estimator contract);
        same marker validation as :meth:`read_psi`.

        ``coarsen`` surfaces the grid as a READ-TIME parameter: the
        maintained ``n_buckets`` histogram is rebinned onto the
        ``n_buckets / coarsen`` grid by additive bucket merging (fixed-
        grid counts are mergeable in the bucket dimension exactly like
        they are in time). Because an integer-factor coarse grid's
        boundaries are a SUBSET of the fine grid's, the estimator chain
        is monotone: grid_ks(coarsen=k) <= grid_ks(coarsen=1) <= exact
        KS — so one maintained state yields the whole tunable envelope
        (q195 records the captured fraction at two grids) and
        tightening means maintaining a finer base grid, never a
        rebuild of the coarse reads."""
        if coarsen < 1 or self.n_buckets % coarsen:
            raise ValueError(
                f"DriftMaintainer.read_grid_ks: coarsen={coarsen} must be a "
                f"positive divisor of n_buckets={self.n_buckets} — a "
                "non-divisor grid's boundaries would not nest inside the "
                "maintained grid and the grid_ks <= exact contract chain "
                "would not be provable"
            )
        baseline, counts = self._validated_state(spark)
        if coarsen > 1:

            def rebin(df: DataFrame) -> DataFrame:
                return df.groupBy(
                    "key",
                    F.floor(F.col("bucket") / coarsen).cast("int").alias("bucket"),
                ).agg(F.sum("n").alias("n"))

            baseline, counts = rebin(baseline), rebin(counts)
        return grid_ks_from_histograms(baseline, counts)
