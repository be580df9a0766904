"""Streaming SCD2 maintenance: the history table a changelog stream
maintains batch-by-batch must equal the from-scratch rebuild over all
rows, and replays must be no-ops (swap-committed ledger)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from beast_spark.operators.scd import scd2_from_changelog
from beast_spark.streaming.dimensions import Scd2Maintainer

DDL = "k long, seq long, ts timestamp, v string"
ARGS = dict(key_cols=["k"], attr_col="v", order_cols=["ts", "seq"])


def _rows(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _histset(df):
    return {tuple(r) for r in df.collect()}


def test_streamed_history_equals_full_rebuild(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)

    def at(d):
        return t0 + dt.timedelta(days=d)

    b0 = [(1, 1, at(0), "A"), (1, 2, at(1), "A"), (2, 1, at(0), "X")]
    b1 = [(1, 3, at(2), "B"), (3, 1, at(2), "Z")]
    b2 = [(1, 4, at(3), "B"), (2, 2, at(3), "Y")]

    src = tmp_path / "src"
    for i, b in enumerate([b0, b1, b2]):
        _rows(spark, b).coalesce(1).write.parquet(str(src / f"b{i}"))

    m = Scd2Maintainer(str(tmp_path / "hist"), **ARGS)
    stream = (
        spark.readStream.schema(_rows(spark, []).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = m.stream_from(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert len(m.applied_batches()) == 3
    got = _histset(m.read_history(spark))
    want = _histset(scd2_from_changelog(_rows(spark, b0 + b1 + b2), **ARGS))
    assert got == want

    # restarting with the same checkpoint and no new data changes nothing
    q2 = m.stream_from(
        spark.readStream.schema(_rows(spark, []).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert _histset(m.read_history(spark)) == want


def test_replayed_batch_is_noop(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    m = Scd2Maintainer(str(tmp_path / "hist"), **ARGS)
    b0 = _rows(spark, [(1, 1, t0, "A")])
    b1 = _rows(spark, [(1, 2, t0 + dt.timedelta(days=1), "B")])
    m.apply_batch(b0, 0)
    m.apply_batch(b1, 1)
    want = _histset(m.read_history(spark))
    # simulate the driver replaying batch 1 after a post-swap crash:
    # n_rows must NOT double
    m.apply_batch(b1, 1)
    assert _histset(m.read_history(spark)) == want
    assert m.applied_batches() == {0, 1}


def test_crashed_commit_leaves_state_intact(spark, tmp_path):
    """Manifest protocol: a commit that crashed after writing fragments
    but before the flip leaves orphans the reader never sees; the next
    batch GCs them and state stays correct. A one-key second batch also
    rewrites only the shards its key touches."""
    import os

    t0 = dt.datetime(2024, 1, 1)
    m = Scd2Maintainer(str(tmp_path / "hist"), **ARGS)
    rows0 = [(k, 1, t0, "A") for k in range(1, 9)]
    m.apply_batch(_rows(spark, rows0), 0)
    want = _histset(m.read_history(spark))
    # simulate a crash: fragment written for the next gen, never flipped
    orphan = os.path.join(m.history_path, "history", "g99")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert _histset(m.read_history(spark)) == want  # orphan invisible

    before = {
        leaf: os.path.getmtime(leaf) for leaf in m.sub_leaves("history")
    }
    m.apply_batch(_rows(spark, [(1, 2, dt.datetime(2024, 1, 2), "B")]), 1)
    assert not os.path.exists(orphan)
    # untouched key shards keep their leaves in place
    kept = [
        leaf
        for leaf, mt in before.items()
        if leaf in m.sub_leaves("history") and os.path.getmtime(leaf) == mt
    ]
    assert kept, "every history shard was rewritten for a one-key batch"
    hist = m.read_history(spark)
    assert hist.count() == len(rows0) + 1  # key 1 gained a new interval


def test_scd2_history_as_of_matches_prefix(spark, tmp_path):
    """Generation time travel on the manifest-committed SCD2 maintainer
    (round-13 — the family-wide as_of_gen rollout):
    read_history(as_of_gen=k) must equal the from-scratch rebuild over
    exactly the changelog prefix that generation had absorbed, even
    though later batches shard-replaced the same keys' rows."""
    t0 = dt.datetime(2024, 1, 1)

    def at(d):
        return t0 + dt.timedelta(days=d)

    batches = [
        [(1, 1, at(0), "A"), (1, 2, at(1), "A"), (2, 1, at(0), "X")],
        [(1, 3, at(2), "B"), (3, 1, at(2), "Z")],
        [(1, 4, at(3), "B"), (2, 2, at(3), "Y")],
    ]
    m = Scd2Maintainer(str(tmp_path / "hist"), gc_grace_gens=6, **ARGS)
    gens, seen = [], []
    for k, b in enumerate(batches):
        m.apply_batch(_rows(spark, b), k)
        gens.append(m._manifest()["gen"])
        seen.append(list(b))

    prefix = []
    for k, gen in enumerate(gens):
        prefix += seen[k]
        got = _histset(m.read_history(spark, as_of_gen=gen))
        want = _histset(scd2_from_changelog(_rows(spark, prefix), **ARGS))
        assert got == want, f"as_of gen {gen} (prefix {k})"
