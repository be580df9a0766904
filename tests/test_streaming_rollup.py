"""Streaming rollup maintenance: the aggregate table an event stream
maintains batch-by-batch must equal the from-scratch rollup over all
rows, replays must be no-ops (the manifest's batch ledger), and —
unlike SCD2 — batch ORDER must not matter (merge is
commutative/associative)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from beast_spark.operators.rollup import daily_rollup
from beast_spark.streaming.rollup import RollupMaintainer

DDL = "ts timestamp, event_type string, value double"
ARGS = dict(key_cols=["event_type"], ts_col="ts", value_col="value")


def _rows(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _rollset(df):
    return {tuple(r) for r in df.select("day", "event_type", "n_rows", "sum_cents").collect()}


def _at(d):
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=d)


B0 = [(_at(0), "view", 1.25), (_at(0), "click", 2.50), (_at(1), "view", 0.75)]
B1 = [(_at(1), "view", 3.00), (_at(2), "purchase", 9.99)]
B2 = [(_at(0), "view", 0.01), (_at(2), "purchase", 0.02)]


def test_streamed_rollup_equals_full_rebuild(spark, tmp_path):
    src = tmp_path / "src"
    for i, b in enumerate([B0, B1, B2]):
        _rows(spark, b).coalesce(1).write.parquet(str(src / f"b{i}"))

    m = RollupMaintainer(str(tmp_path / "roll"), **ARGS)
    stream = (
        spark.readStream.schema(_rows(spark, []).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = m.stream_from(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert len(m.applied_batches()) == 3
    want = _rollset(daily_rollup(_rows(spark, B0 + B1 + B2), **ARGS))
    assert _rollset(m.read_rollup(spark)) == want

    # restarting with the same checkpoint and no new data changes nothing
    q2 = m.stream_from(
        spark.readStream.schema(_rows(spark, []).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert _rollset(m.read_rollup(spark)) == want


def test_replayed_batch_is_noop(spark, tmp_path):
    m = RollupMaintainer(str(tmp_path / "roll"), **ARGS)
    m.apply_batch(_rows(spark, B0), 0)
    m.apply_batch(_rows(spark, B1), 1)
    want = _rollset(m.read_rollup(spark))
    # driver replays batch 1 after a post-swap crash: counts must NOT double
    m.apply_batch(_rows(spark, B1), 1)
    assert _rollset(m.read_rollup(spark)) == want
    assert m.applied_batches() == {0, 1}


def test_batch_order_does_not_matter(spark, tmp_path):
    """The SCD2 maintainer needs per-key arrival order; the rollup merge
    must not — any schedule converges to the rebuild."""
    fwd = RollupMaintainer(str(tmp_path / "fwd"), **ARGS)
    rev = RollupMaintainer(str(tmp_path / "rev"), **ARGS)
    for i, b in enumerate([B0, B1, B2]):
        fwd.apply_batch(_rows(spark, b), i)
    for i, b in enumerate([B2, B1, B0]):
        rev.apply_batch(_rows(spark, b), i)
    want = _rollset(daily_rollup(_rows(spark, B0 + B1 + B2), **ARGS))
    assert _rollset(fwd.read_rollup(spark)) == want
    assert _rollset(rev.read_rollup(spark)) == want


def test_crashed_swap_recovers(spark, tmp_path):
    """A commit that crashed after writing its fragment but before the
    manifest swap leaves an orphan g<N+1> the reader never sees; the
    next batch garbage-collects it and merges onto the pre-crash rollup."""
    m = RollupMaintainer(str(tmp_path / "roll"), **ARGS)
    m.apply_batch(_rows(spark, B0), 0)
    want = _rollset(m.read_rollup(spark))
    orphan = os.path.join(m.path, "table", "g2")
    os.makedirs(orphan)
    junk = os.path.join(orphan, "junk.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"not parquet")
    assert _rollset(m.read_rollup(spark)) == want  # orphan invisible
    m.apply_batch(_rows(spark, B1), 1)
    assert not os.path.exists(junk)  # g2 now holds the real commit
    assert _rollset(m.read_rollup(spark)) == _rollset(
        daily_rollup(_rows(spark, B0 + B1), **ARGS)
    )


@pytest.mark.parametrize("layout", ["swap_dir", "replaced_only"])
def test_old_swap_layout_is_rejected(spark, tmp_path, layout):
    """State written by the old whole-directory swap must be rebuilt:
    opening it (or the lone .replaced a crash mid-swap left) as empty
    state while the checkpoint skips the committed batches would lose
    them silently."""
    path = str(tmp_path / "roll")
    live = path if layout == "swap_dir" else path + ".replaced"
    _rows(spark, B0).write.parquet(live)
    with open(os.path.join(live, "_applied_batches.json"), "w") as fh:
        json.dump([0], fh)
    m = RollupMaintainer(path, **ARGS)
    with pytest.raises(ValueError, match="legacy whole-directory swap"):
        m.apply_batch(_rows(spark, B1), 1)
    with pytest.raises(ValueError, match="legacy whole-directory swap"):
        m.read_rollup(spark)


def test_sketch_maintainer_matches_batch_sketch(spark, tmp_path):
    """Streamed per-day sketches must estimate EXACTLY what a
    from-scratch sketch of all rows estimates (HLL union is determined
    by the item set, not the merge schedule), and replays are no-ops."""
    from pyspark.sql import functions as F

    from beast_spark.operators.sketches import merged_distinct, sketch_by_slice
    from beast_spark.streaming.rollup import SketchMaintainer

    users = "ts timestamp, user_id long"
    b0 = [(_at(0), 1), (_at(0), 2), (_at(1), 1)]
    b1 = [(_at(0), 3), (_at(1), 2), (_at(1), 2)]  # day overlap with b0
    b2 = [(_at(2), 9)]

    m = SketchMaintainer(str(tmp_path / "sk"), ts_col="ts", value_col="user_id")
    for i, b in enumerate([b0, b1, b2]):
        m.apply_batch(spark.createDataFrame(b, users), i)
    m.apply_batch(spark.createDataFrame(b1, users), 1)  # replay: no-op

    allrows = spark.createDataFrame(b0 + b1 + b2, users)
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    want = {
        (r.day, r.est, r.n_rows)
        for r in sketch_by_slice(allrows, [day], "user_id")
        .select("day", F.hll_sketch_estimate("sketch").alias("est"), "n_rows")
        .collect()
    }
    got = {
        (r.day, r.est, r.n_rows)
        for r in m.read_sketches(spark)
        .select("day", F.hll_sketch_estimate("sketch").alias("est"), "n_rows")
        .collect()
    }
    assert got == want
    # global roll-up off the maintained table == off the batch table
    g_got = merged_distinct(m.read_sketches(spark)).collect()[0]
    g_want = merged_distinct(sketch_by_slice(allrows, [day], "user_id")).collect()[0]
    assert (g_got.distinct_est, g_got.n_rows) == (g_want.distinct_est, g_want.n_rows)


def test_centroid_maintainer_matches_full_build(spark, tmp_path):
    """Maintained (sum, n) centroid state across batches == a
    from-scratch build over all vectors; replay is a no-op."""
    from pyspark.sql import functions as F

    from beast_spark.streaming.rollup import CentroidMaintainer

    ddl = "label int, embedding array<float>"
    b0 = [(0, [1.0, 2.0]), (1, [4.0, 0.0])]
    b1 = [(0, [3.0, 0.0]), (1, [0.0, 4.0]), (1, [2.0, 2.0])]
    m = CentroidMaintainer(str(tmp_path / "cent"), "label", "embedding")
    m.apply_batch(spark.createDataFrame(b0, ddl), 0)
    m.apply_batch(spark.createDataFrame(b1, ddl), 1)
    m.apply_batch(spark.createDataFrame(b1, ddl), 1)  # replay no-op
    got = {
        (r.label, r.dim): round(r.centroid_val, 9)
        for r in m.read_centroids(spark).collect()
    }
    want = {
        (0, 0): 2.0, (0, 1): 1.0,          # mean of [1,3], [2,0]
        (1, 0): 2.0, (1, 1): 2.0,          # mean of [4,0,2], [0,4,2]
    }
    assert got == want
