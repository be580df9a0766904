"""Streaming token accounting: under a frozen segmentation, the
maintained per-source counts must equal the batch q188 aggregation
after every prefix of micro-batches, replays must be no-ops, and a
retrained segmentation over existing counts must raise."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

DOC_DDL = "doc_id long, text string, source string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_DDL)


def _seg(spark, path, pairs):
    spark.createDataFrame(pairs, "word string, n_sub int").write.parquet(path)


def _batch_counts(spark, docs, seg_path):
    seg = spark.read.parquet(seg_path)
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(F.broadcast(seg), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_sub").alias("n_subwords"),
        )
    )


ROWS = [
    (1, "aa bb aa cc", "s1"),
    (2, "bb bb dd", "s1"),
    (3, "aa zz", "s2"),  # zz: out of vocabulary, drops from accounting
    (4, "cc cc cc", "s2"),
    (5, "dd aa", "s3"),
]
SEG = [("aa", 1), ("bb", 2), ("cc", 1), ("dd", 3)]


def test_streamed_accounting_equals_batch_per_prefix(spark, tmp_path):
    from beast_spark.streaming.tokenstats import TokenAccountingMaintainer

    _seg(spark, str(tmp_path / "seg"), SEG)
    m = TokenAccountingMaintainer(str(tmp_path / "state"), str(tmp_path / "seg"))
    seen = []
    for b in range(3):
        batch = [r for r in ROWS if r[0] % 3 == b]
        seen += batch
        m.apply_batch(_docs(spark, batch), b)
        got = {tuple(r) for r in m.read_stats(spark).collect()}
        want = {
            tuple(r)
            for r in _batch_counts(
                spark, _docs(spark, seen), str(tmp_path / "seg")
            ).collect()
        }
        assert got == want and got, f"prefix {b}"

    # replay of an applied batch id: no double counting
    before = {tuple(r) for r in m.read_stats(spark).collect()}
    m.apply_batch(_docs(spark, ROWS[:2]), 2)
    assert {tuple(r) for r in m.read_stats(spark).collect()} == before


def test_retrained_segmentation_rejected(spark, tmp_path):
    """Token counts across tokenizer generations must not mix: a
    maintainer (or reader) pointed at a CHANGED segmentation over
    existing counts raises — both on the next batch and on read."""
    from beast_spark.streaming.tokenstats import TokenAccountingMaintainer

    _seg(spark, str(tmp_path / "seg"), SEG)
    m = TokenAccountingMaintainer(str(tmp_path / "state"), str(tmp_path / "seg"))
    m.apply_batch(_docs(spark, ROWS[:2]), 0)

    _seg(spark, str(tmp_path / "seg2"), [("aa", 5)])
    m2 = TokenAccountingMaintainer(
        str(tmp_path / "state"), str(tmp_path / "seg2")
    )
    with pytest.raises(ValueError, match="segmentation changed"):
        m2.apply_batch(_docs(spark, ROWS[2:]), 1)
    with pytest.raises(ValueError, match="segmentation changed"):
        m2.read_stats(spark)
    # original maintainer unaffected
    m.apply_batch(_docs(spark, ROWS[2:]), 1)
    assert m.read_stats(spark).count() == 3


def test_empty_maintainer_read_raises_cleanly(spark, tmp_path):
    from beast_spark.streaming.tokenstats import TokenAccountingMaintainer

    _seg(spark, str(tmp_path / "seg"), SEG)
    m = TokenAccountingMaintainer(str(tmp_path / "state"), str(tmp_path / "seg"))
    with pytest.raises(ValueError, match="no documents"):
        m.read_stats(spark)
    assert not os.path.exists(str(tmp_path / "state"))


def test_guard_survives_midswap_crash(spark, tmp_path):
    """A commit that crashed before the manifest swap leaves an orphan
    g<N+1> fragment: the read serves the pre-crash counts, the next
    batch garbage-collects the orphan, and a RETRAINED tokenizer is
    still refused on read (the marker lives in the manifest, so no
    crash can leave counts without it)."""
    from beast_spark.streaming.tokenstats import TokenAccountingMaintainer

    _seg(spark, str(tmp_path / "seg"), SEG)
    m = TokenAccountingMaintainer(str(tmp_path / "state"), str(tmp_path / "seg"))
    m.apply_batch(_docs(spark, ROWS[:2]), 0)
    want = {tuple(r) for r in m.read_stats(spark).collect()}
    orphan = str(tmp_path / "state" / "counts" / "g2")
    os.makedirs(orphan)
    junk = os.path.join(orphan, "junk.parquet")
    with open(junk, "wb") as fh:
        fh.write(b"not parquet")
    assert {tuple(r) for r in m.read_stats(spark).collect()} == want

    _seg(spark, str(tmp_path / "seg2"), [("aa", 5)])
    m2 = TokenAccountingMaintainer(
        str(tmp_path / "state"), str(tmp_path / "seg2")
    )
    with pytest.raises(ValueError, match="segmentation changed"):
        m2.read_stats(spark)
    m.apply_batch(_docs(spark, ROWS[2:]), 1)
    assert not os.path.exists(junk)  # g2 now holds the real commit
    assert m.read_stats(spark).count() == 3
