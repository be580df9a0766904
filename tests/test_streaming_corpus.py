"""Streaming face of the corpus-prep pipeline (q89's batch semantics on
a document stream, ``beast_spark/streaming/corpus.py``): quality filter →
cross-batch exact dedup by content fingerprint (streaming state) →
deterministic split → warehouse append, exactly-once across a checkpoint
restart. State runs on the RocksDB provider (the engine default in
``get_spark`` — disk-backed, changelog-checkpointed) and the
retention-bounded variant keeps state O(watermark window)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from beast_spark.functions.hashing import md5_long
from beast_spark.streaming.corpus import corpus_prep_stream

DOC_DDL = "doc_id long, text string"
DOC_TS_DDL = "doc_id long, text string, ingest_ts timestamp"


def test_state_store_defaults_to_rocksdb(spark):
    """VERDICT r3 #2: unbounded dedup state must not live in the default
    heap-resident provider — get_spark wires RocksDB + changelog
    checkpointing as the engine default for every stateful stream."""
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        == "true"
    )


def test_streaming_corpus_prep_dedups_across_batches_and_restart(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    wh = str(tmp_path / "wh")

    def run_once():
        stream = spark.readStream.schema(DOC_DDL).format("parquet").load(str(src_dir) + "/*")
        q = (
            corpus_prep_stream(stream)
            .writeStream.format("parquet")
            .option("path", wh)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 0: 3 good docs (one duplicated content), 1 quality-reject
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha  beta gamma delta"),  # same fingerprint as doc 1
            (3, "epsilon zeta eta theta"),
            (4, "spam spam spam spam spam spam"),  # uniq_ratio too low
        ],
        DOC_DDL,
    ).write.parquet(str(src_dir / "b0"))
    run_once()
    rows = spark.read.parquet(wh).collect()
    # dup collapsed (one of doc 1/2 — in-batch dropDuplicates picks one),
    # low-quality doc 4 dropped
    assert len(rows) == 2
    ids = {r.doc_id for r in rows}
    assert len(ids & {1, 2}) == 1 and 3 in ids and 4 not in ids
    alpha_survivor = (ids & {1, 2}).pop()

    # batch 1 AFTER restart: a re-sent duplicate of the alpha content must
    # STAY deduped (RocksDB state restored from checkpoint), new content lands
    spark.createDataFrame(
        [
            (5, "alpha beta  gamma delta"),  # dup of batch-0 content, across restart
            (6, "iota kappa lambda mu"),
        ],
        DOC_DDL,
    ).write.parquet(str(src_dir / "b1"))
    run_once()
    out = spark.read.parquet(wh)
    survivors = {alpha_survivor, 3, 6}
    assert {r.doc_id for r in out.collect()} == survivors

    # split assignment matches the batch operator (q88 determinism)
    batch_split = {
        r.doc_id: r.split
        for r in spark.createDataFrame([(i, "x") for i in survivors], DOC_DDL)
        .select(
            "doc_id",
            F.when(md5_long(F.col("doc_id").cast("string")) % 100 < 80, "train")
            .when(md5_long(F.col("doc_id").cast("string")) % 100 < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .collect()
    }
    assert {r.doc_id: r.split for r in out.collect()} == batch_split


def test_bounded_retention_dedup_evicts_state_past_watermark(spark, tmp_path):
    """The retention-bounded corpus stream (VERDICT r3 #2): a duplicate
    inside the watermark window is dropped — including across a restart —
    but once the watermark passes the first copy's retention the state is
    EVICTED, so a long-separated re-ingest lands as a new row (state is
    O(window), not O(stream lifetime)). Runs on RocksDB."""
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    wh = str(tmp_path / "wh")

    def ts(hour, minute=0):
        return dt.datetime(2024, 1, 1, hour, minute)

    def run_once():
        stream = (
            spark.readStream.schema(DOC_TS_DDL).format("parquet").load(str(src_dir) + "/*")
        )
        q = (
            corpus_prep_stream(stream, retention="1 hour")
            .writeStream.format("parquet")
            .option("path", wh)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    alpha = "alpha beta gamma delta"
    spark.createDataFrame([(1, alpha, ts(10))], DOC_TS_DDL).write.parquet(str(src_dir / "b0"))
    run_once()

    # within the window (and across a restart): dup dropped; a new doc far
    # ahead in event time advances the watermark past alpha's retention
    spark.createDataFrame(
        [(2, alpha, ts(10, 30)), (3, "epsilon zeta eta theta", ts(20))], DOC_TS_DDL
    ).write.parquet(str(src_dir / "b1"))
    run_once()
    assert {r.doc_id for r in spark.read.parquet(wh).collect()} == {1, 3}

    # past the window: alpha's state was evicted (watermark 19:00 > 11:30),
    # so the re-ingest is NOT deduped — the documented bounded-state trade
    spark.createDataFrame([(4, alpha, ts(20, 30))], DOC_TS_DDL).write.parquet(
        str(src_dir / "b2")
    )
    run_once()
    assert {r.doc_id for r in spark.read.parquet(wh).collect()} == {1, 3, 4}


def _v2_run_once(spark, maintainer, src_dir, ckpt):
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = spark.readStream.schema(schema).format("parquet").load(str(src_dir) + "/*")
    q = maintainer.stream_from(stream, str(ckpt))
    q.awaitTermination(180)


def test_corpus_v2_stream_matches_batch_q161_per_prefix(spark, sf_dir, tmp_path):
    """After EVERY batch, the maintainer's survivors must equal the batch
    q161 pipeline run over exactly the documents ingested so far — the
    real-data equivalence the retroactive boilerplate gate makes hard
    (documents CAN leave the surviving set as later batches arrive)."""
    from beast_spark.queries.datapipe import q161_corpus_prep_v2
    from beast_spark.streaming.corpus_v2 import CorpusV2Maintainer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    slices = [
        docs.filter(F.col("doc_id") % 3 == k) for k in range(3)
    ]
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    m = CorpusV2Maintainer(str(tmp_path / "state"))

    seen = None
    for k, sl in enumerate(slices):
        sl.write.parquet(str(src_dir / f"b{k}"))
        _v2_run_once(spark, m, src_dir, tmp_path / "ckpt")
        seen = sl if seen is None else seen.unionByName(sl)
        # independent oracle: the (DuckDB-checked) q161 over the prefix,
        # staged as its own sf-style directory
        prefix_dir = tmp_path / f"prefix{k}"
        seen.coalesce(1).write.parquet(str(prefix_dir / "documents.parquet"))
        want = {
            (r.split, r.n_docs, r.total_tokens, r.id_checksum)
            for r in q161_corpus_prep_v2(spark, str(prefix_dir)).collect()
        }
        got = {
            (r.split, r.n_docs, r.total_tokens, r.id_checksum)
            for r in m.survivors_by_split(spark).collect()
        }
        assert got == want, f"prefix {k}: {got} != {want}"
    assert seen.count() == docs.count()


def test_corpus_v2_retroactive_boilerplate_disqualifies(spark, tmp_path):
    """The semantics no append-mode stream can express: a doc accepted in
    batch 0 must LEAVE the surviving set when a later batch pushes one of
    its chunks over the boilerplate threshold."""
    from beast_spark.streaming.corpus_v2 import CorpusV2Maintainer

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-token chunk
    fresh = "x1 x2 x3 x4 x5 x6 x7 x8"
    doc_a = (1, shared, "en", "web", len(shared))
    doc_b = (2, "a1 a2 a3 a4 a5 a6 a7 a8", "en", "web", 23)
    doc_c = (3, f"{shared} {fresh}", "en", "web", 47)  # shares chunk 1 with A

    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    m = CorpusV2Maintainer(str(tmp_path / "state"))

    spark.createDataFrame([doc_a, doc_b], ddl).write.parquet(str(src_dir / "b0"))
    _v2_run_once(spark, m, src_dir, tmp_path / "ckpt")
    assert {r.doc_id for r in m.survivors(spark).collect()} == {1, 2}

    spark.createDataFrame([doc_c], ddl).write.parquet(str(src_dir / "b1"))
    _v2_run_once(spark, m, src_dir, tmp_path / "ckpt")
    # A's only chunk is now in 2 docs -> boiler_frac 1.0: retroactively
    # dropped. C carries the boiler chunk + a fresh one -> 0.5, stays.
    assert {r.doc_id for r in m.survivors(spark).collect()} == {2, 3}


def test_corpus_v2_restart_replay_is_noop(spark, tmp_path):
    from beast_spark.streaming.corpus_v2 import CorpusV2Maintainer

    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    m = CorpusV2Maintainer(str(tmp_path / "state"))
    spark.createDataFrame(
        [(1, "p q r s t u v w", "en", "web", 15), (2, "h i j k l m n o", "en", "web", 15)],
        ddl,
    ).write.parquet(str(src_dir / "b0"))
    _v2_run_once(spark, m, src_dir, tmp_path / "ckpt")
    before = {tuple(r) for r in m.survivors(spark).collect()}
    applied = m.applied_batches()

    # restart with no new data: nothing reprocessed
    _v2_run_once(spark, m, src_dir, tmp_path / "ckpt")
    assert m.applied_batches() == applied
    assert {tuple(r) for r in m.survivors(spark).collect()} == before

    # post-commit crash replay: the ledger makes a re-sent batch a no-op
    batch = spark.createDataFrame(
        [(1, "p q r s t u v w", "en", "web", 15)], ddl
    )
    m.apply_batch(batch, max(applied))
    assert {tuple(r) for r in m.survivors(spark).collect()} == before


def test_corpus_v2_boiler_gate_rounds_like_batch_q124(spark, tmp_path):
    """The batch pipeline (q161) gates on q124's PUBLISHED boiler_frac —
    rnd(n_boiler/n_chunks, 4) — so a true fraction in (0.5, 0.50005)
    rounds down to 0.5000 and passes. The stream's survivors() must
    apply the same rounding, or the per-prefix equivalence contract
    breaks on >10k-chunk documents sitting on the boundary."""
    from beast_spark.streaming.corpus_v2 import CorpusV2Maintainer

    m = CorpusV2Maintainer(str(tmp_path / "state"))
    # Hand-commit a signals sub-table with boundary counters (a real doc
    # this size would need >800k tokens — the gate math is what's under
    # test, and survivors() derives everything from `signals`).
    signals = spark.createDataFrame(
        [
            # 50001/100000 = 0.50001 -> rnd4 = 0.5000 -> batch PASSES
            (1, "h1", 10, 0.95, 0.0, 100000, 50001),
            # 50005/100000 = 0.50005 -> rnd4 = 0.5001 -> batch fails
            (2, "h2", 10, 0.95, 0.0, 100000, 50005),
        ],
        "doc_id long, text_hash string, n_tokens long, norm_entropy double,"
        " dup_trigram_frac double, n_chunks long, n_boiler long",
    )
    m.commit_delta(None, full={"signals": signals})
    assert {r.doc_id for r in m.survivors(spark).collect()} == {1}
