"""Sink disposition: retry/backoff, OOB classification, DLQ layout,
insert-id dedup key, fatal handling (A12-A17)."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from beast_spark.config import RetrySettings
from beast_spark.plans.protowire import encode_message
from beast_spark.streaming.ingest import ProtoIngest
from beast_spark.streaming.sink import (
    FatalIngestError,
    MultiSink,
    WarehouseSink,
    classify_oob,
    with_insert_id,
)
from tests.fixtures import KAFKA_DDL, TEST_SCHEMA, kafka_rows, sample_order


@pytest.fixture
def valid_df(spark):
    df = spark.createDataFrame(kafka_rows(4), KAFKA_DDL)
    valid, _ = ProtoIngest(TEST_SCHEMA).apply(df)
    return valid


def test_push_writes_parquet_with_insert_id(spark, tmp_path, valid_df):
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    attempts = sink.push(valid_df)
    assert attempts == 1
    out = spark.read.parquet(str(tmp_path / "wh"))
    assert out.count() == 4
    # insertId format topic_partition_offset (models/Record.java:24-26)
    ids = {r.insert_id for r in out.select("insert_id").collect()}
    assert "orders_0_100" in ids


def test_day_partitioned_write(spark, tmp_path, valid_df):
    sink = WarehouseSink(
        table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"), partition_col="created_at"
    )
    sink.push(valid_df)
    # BQTableDefinition.java:45-59 → dt= day partitions on disk
    assert glob.glob(str(tmp_path / "wh" / "dt=2024-01-01"))


def test_oob_classification(spark):
    now = dt.datetime.now()
    df = spark.createDataFrame(
        [
            (1, now),
            (2, now - dt.timedelta(days=3000)),  # too old (>1825d, OOBError.java:24)
            (3, now + dt.timedelta(days=400)),  # too future (>366d, OOBError.java:25)
            (4, None),  # null partition key stays in-bounds
        ],
        "id int, ts timestamp",
    )
    good, oob = classify_oob(df, "ts")
    assert {r.id for r in good.collect()} == {1, 4}
    assert {r.id for r in oob.collect()} == {2, 3}


def test_dlq_layout_dt_topic(spark, tmp_path):
    rows = kafka_rows(1)
    rows.append((b"k", b"\xff\xff", "orders", 0, 7, rows[0][5]))
    valid, invalid = ProtoIngest(TEST_SCHEMA).apply(spark.createDataFrame(rows, KAFKA_DDL))
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    sink.push(valid, invalid)
    # GCSErrorWriter.java:40-91 layout: dt=YYYY-MM-DD / topic=...
    paths = glob.glob(str(tmp_path / "dlq" / "dt=*" / "topic=orders" / "*.json"))
    assert paths, "expected partitioned JSON DLQ files"
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert dlq.filter(F.col("error").startswith("DESERIALIZE")).count() == 1


def test_fatal_rows_stop_the_batch(spark, tmp_path):
    rows = [(b"k", None, "orders", 0, 1, dt.datetime(2024, 1, 1))]
    from beast_spark.config import IngestSettings

    ing = ProtoIngest(TEST_SCHEMA, settings=IngestSettings(fail_on_null_message=True))
    valid, invalid = ing.apply(spark.createDataFrame(rows, KAFKA_DDL))
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    with pytest.raises(FatalIngestError):
        sink.push(valid, invalid)


def test_no_dlq_configured_halts_on_invalid(spark, tmp_path):
    """DefaultLogWriter semantics (sink/dlq/DefaultLogWriter.java:16-29)."""
    rows = [(b"k", b"\xff\xff", "orders", 0, 1, dt.datetime(2024, 1, 1))]
    valid, invalid = ProtoIngest(TEST_SCHEMA).apply(spark.createDataFrame(rows, KAFKA_DDL))
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=None)
    with pytest.raises(FatalIngestError):
        sink.push(valid, invalid)


def test_oob_dlq_on_plain_batch_frame_without_kafka_metadata(spark, tmp_path):
    """Direct batch use (no message_topic/insert_id columns) must DLQ an
    OOB row with NULL topic instead of raising AnalysisException (ADVICE r1)."""
    now = dt.datetime.now()
    df = spark.createDataFrame(
        [(1, now), (2, now - dt.timedelta(days=3000))], "id int, ts timestamp"
    )
    sink = WarehouseSink(
        table_path=str(tmp_path / "wh"),
        dlq_path=str(tmp_path / "dlq"),
        partition_col="ts",
    )
    sink.push(df)
    assert spark.read.parquet(str(tmp_path / "wh")).count() == 1
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert dlq.count() == 1
    row = dlq.collect()[0]
    assert row.error == "OOB partition date"


def test_stopped_rows_partial_retry(spark, tmp_path):
    """BqSink.java:41-80 disposition: retryable rows are re-inserted ONCE,
    alone — not the whole batch (BqSinkTest's stopped-rows case)."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    calls = []

    def insert_fn(batch):
        ids = sorted(r.id for r in batch.collect())
        calls.append(ids)
        if len(calls) == 1:  # first attempt: row 2 fails retryably
            return batch.filter(F.col("id") == 2).withColumn("error_type", F.lit("retryable"))
        return None  # re-insert of the stopped rows succeeds

    sink.push_with_row_errors(df, insert_fn)
    assert calls == [[1, 2, 3], [2]]  # second call got ONLY the stopped row


def test_stopped_rows_second_failure_fails_batch(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))

    def insert_fn(batch):
        return batch.filter(F.col("id") == 2).withColumn("error_type", F.lit("retryable"))

    with pytest.raises(FatalIngestError, match="re-insert"):
        sink.push_with_row_errors(df, insert_fn)


def test_invalid_rows_fail_whole_batch_without_retry(spark, tmp_path):
    """Unhandled records mark the whole batch failed (BqSink.java:49-55)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    calls = []

    def insert_fn(batch):
        calls.append(1)
        return batch.filter(F.col("id") == 1).withColumn("error_type", F.lit("invalid"))

    with pytest.raises(FatalIngestError, match="invalid"):
        sink.push_with_row_errors(df, insert_fn)
    assert calls == [1]  # no re-insert attempted


def test_oob_row_errors_go_to_dlq(spark, tmp_path):
    """OOB-classified failed rows hand off to the DLQ writer (BqSink.java:69-78)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))

    def insert_fn(batch):
        if "error_type" in batch.columns:
            return None
        return batch.filter(F.col("id") == 2).withColumn("error_type", F.lit("oob"))

    sink.push_with_row_errors(df, insert_fn)
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert dlq.count() == 1 and dlq.collect()[0].id == 2


def test_retry_backoff(spark, tmp_path, valid_df):
    """RetryExecutor.java:38-58: ≤N attempts, exponential delay, then raise."""

    class FlakySink(WarehouseSink):
        def __init__(self, fail_times: int, **kw):
            super().__init__(**kw)
            self.fail_times = fail_times
            self.calls = 0

        def _write_valid(self, df):
            self.calls += 1
            if self.calls <= self.fail_times:
                raise IOError("transient")
            super()._write_valid(df)

    fast = RetrySettings(max_push_attempts=5, backoff_initial_ms=1, backoff_rate=2, backoff_max_ms=4)
    ok = FlakySink(2, table_path=str(tmp_path / "wh"), retry=fast)
    assert ok.push(valid_df) == 3

    doomed = FlakySink(99, table_path=str(tmp_path / "wh2"), retry=fast)
    with pytest.raises(IOError):
        doomed.push(valid_df)
    assert doomed.calls == 5  # MAX_BQ_PUSH_ATTEMPTS default

    assert fast.delay_ms(0) == 1 and fast.delay_ms(1) == 2 and fast.delay_ms(10) == 4


def test_foreach_batch_streaming_end_to_end(spark, tmp_path):
    """A1→A17 minus Kafka: file stream source → decode/map/split →
    retrying sink + DLQ via foreachBatch, offsets via checkpoint."""
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    rows = kafka_rows(6)
    rows.append((b"bad", b"\xff\xff\xff", "orders", 0, 999, rows[0][5]))
    spark.createDataFrame(rows, KAFKA_DDL).write.parquet(str(src_dir / "batch0"))

    stream = (
        spark.readStream.schema(spark.createDataFrame([], KAFKA_DDL).schema)
        .option("path", str(src_dir) + "/*")
        .format("parquet")
        .load()
    )
    ing = ProtoIngest(TEST_SCHEMA)
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch_writer(ing.apply))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "wh"))
    assert out.count() == 6
    assert spark.read.json(str(tmp_path / "dlq")).count() == 1


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Restarting from the same checkpoint must not re-ingest already
    committed offsets (the reference's whole offset-commit machinery,
    A18-A21, collapsed into Structured Streaming's WAL): batch0 rows
    appear exactly once in the warehouse even after a second run that
    also picks up batch1."""
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    spark.createDataFrame(kafka_rows(4), KAFKA_DDL).write.parquet(str(src_dir / "batch0"))

    schema = spark.createDataFrame([], KAFKA_DDL).schema
    ing = ProtoIngest(TEST_SCHEMA)
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"))

    def run_once():
        stream = spark.readStream.schema(schema).format("parquet").load(str(src_dir) + "/*")
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch_writer(ing.apply))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(tmp_path / "wh")).count() == 4

    more = kafka_rows(7)[4:]  # offsets 4..6, new data only
    spark.createDataFrame(more, KAFKA_DDL).write.parquet(str(src_dir / "batch1"))
    run_once()

    out = spark.read.parquet(str(tmp_path / "wh"))
    assert out.count() == 7  # 4 + 3, batch0 NOT re-ingested
    # and every insert-id key is unique (A12's dedup key invariant)
    assert out.select("message_offset").distinct().count() == 7


def _derby(spark, tmp_path) -> dict:
    """JDBC write_options for an embedded Derby DB under tmp_path (the
    in-container stand-in for the reference's warehouse insert endpoint;
    derby ships in Spark's own jars/)."""
    spark._jvm.java.lang.System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    return {
        "url": f"jdbc:derby:{tmp_path}/db;create=true",
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }


def test_jdbc_sink_append_with_insert_id(spark, tmp_path, valid_df):
    """A12 on a real JDBC endpoint: rows + the insertId dedup key land in
    the table (BqSink.java:82-93 insertAll → JDBC append twin)."""
    opts = _derby(spark, tmp_path)
    sink = WarehouseSink(table_path="WH_ROWS", fmt="jdbc", write_options=opts)
    assert sink.push(valid_df) == 1
    back = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_ROWS").load()
    assert back.count() == 4
    assert "orders_0_100" in {r.insert_id for r in back.select("insert_id").collect()}
    assert sink.last_write_metrics == {"rows_written": 4}


def test_jdbc_sink_day_partition_column(spark, tmp_path, valid_df):
    """A24 on JDBC: no directory partitions, so the computed dt lands as a
    plain DATE column (the _PARTITIONDATE pseudo-column analog)."""
    opts = _derby(spark, tmp_path)
    sink = WarehouseSink(
        table_path="WH_PART", fmt="jdbc", write_options=opts, partition_col="created_at"
    )
    sink.push(valid_df)
    back = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_PART").load()
    assert {str(r.dt) for r in back.select("dt").distinct().collect()} == {"2024-01-01"}


def test_jdbc_sink_retry_then_success(spark, tmp_path, valid_df):
    """A15 against the real JDBC write: transient failures burn retry
    attempts, the final attempt actually lands rows in the database."""

    class FlakyJdbc(WarehouseSink):
        calls = 0

        def _write_valid(self, df):
            FlakyJdbc.calls += 1
            if FlakyJdbc.calls <= 2:
                raise IOError("transient connection reset")
            super()._write_valid(df)

    opts = _derby(spark, tmp_path)
    fast = RetrySettings(max_push_attempts=5, backoff_initial_ms=1, backoff_rate=2, backoff_max_ms=4)
    sink = FlakyJdbc(table_path="WH_RETRY", fmt="jdbc", write_options=opts, retry=fast)
    assert sink.push(valid_df) == 3
    back = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_RETRY").load()
    assert back.count() == 4


def test_jdbc_streaming_exactly_once(spark, tmp_path):
    """The full A1→A21 contract against a real JDBC table: file stream →
    decode → JDBC append via foreachBatch; a restart from the same
    checkpoint must not duplicate any insert_id."""
    opts = _derby(spark, tmp_path)
    src_dir = tmp_path / "incoming"
    os.makedirs(src_dir)
    spark.createDataFrame(kafka_rows(4), KAFKA_DDL).write.parquet(str(src_dir / "batch0"))

    schema = spark.createDataFrame([], KAFKA_DDL).schema
    ing = ProtoIngest(TEST_SCHEMA)
    sink = WarehouseSink(
        table_path="WH_STREAM", fmt="jdbc", write_options=opts, dlq_path=str(tmp_path / "dlq")
    )

    def run_once():
        stream = spark.readStream.schema(schema).format("parquet").load(str(src_dir) + "/*")
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch_writer(ing.apply))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(kafka_rows(7)[4:], KAFKA_DDL).write.parquet(str(src_dir / "batch1"))
    run_once()

    back = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_STREAM").load()
    assert back.count() == 7  # batch0 NOT re-inserted on restart
    assert back.select("insert_id").distinct().count() == 7


def test_jdbc_staged_publish_effectively_once_across_crashes(spark, tmp_path, valid_df):
    """VERDICT r3 #7: a plain JDBC append + BatchLedger can double rows
    when a crash lands between the write and the ledger commit. The
    staged-publish path (overwrite staging + one keyed INSERT..SELECT
    NOT EXISTS) must survive BOTH crash windows with zero duplicates —
    the BQ insertId server-side dedup twin (BQRowWithInsertId.java:9-12)."""
    opts = _derby(spark, tmp_path)
    sink = WarehouseSink(
        table_path="WH_EO", fmt="jdbc", write_options=opts, jdbc_staging=True
    )

    def table_rows():
        back = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_EO").load()
        return sorted(r.insert_id for r in back.select("insert_id").collect())

    # normal publish
    sink.push(valid_df)
    first = table_rows()
    assert len(first) == 4 == len(set(first))
    assert sink.last_write_metrics == {"rows_written": 4, "rows_published": 4}

    # crash window A: batch written AND published, ledger commit lost →
    # the stream replays the same batch. Keyed publish inserts nothing.
    sink.push(valid_df)
    assert table_rows() == first
    assert sink.last_write_metrics["rows_published"] == 0

    # crash window B: staging written, publish crashed mid-flight → the
    # replay rewrites staging (truncating the leftover) and publishes.
    from beast_spark.config import RetrySettings

    crashing = WarehouseSink(
        table_path="WH_EO",
        fmt="jdbc",
        write_options=opts,
        jdbc_staging=True,
        retry=RetrySettings(max_push_attempts=1, backoff_initial_ms=1),
    )
    boom = {"armed": True}
    orig = WarehouseSink._publish_staging

    def crash_once(self, df, staging):
        if boom.pop("armed", False):
            raise IOError("crash between staging write and publish")
        return orig(self, df, staging)

    new_batch = ProtoIngest(TEST_SCHEMA).apply(
        spark.createDataFrame(kafka_rows(7)[4:], KAFKA_DDL)
    )[0]
    WarehouseSink._publish_staging = crash_once
    try:
        with pytest.raises(IOError):
            crashing.push(new_batch)
        assert table_rows() == first  # nothing published by the crashed run
        crashing.push(new_batch)  # the replay
    finally:
        WarehouseSink._publish_staging = orig
    final = table_rows()
    assert len(final) == 7 == len(set(final))
    assert crashing.last_write_metrics["rows_published"] == 3


def test_multisink_fans_out_to_parquet_and_jdbc(spark, tmp_path, valid_df):
    """A10 heterogeneous fan-out (the reference pushes one batch to
    BigQuery AND the GCS error path): one persist-once push lands the
    same batch in a parquet warehouse and a real JDBC table."""
    opts = _derby(spark, tmp_path)
    multi = MultiSink(
        [
            WarehouseSink(table_path=str(tmp_path / "wh")),
            WarehouseSink(table_path="WH_FAN", fmt="jdbc", write_options=opts),
        ]
    )
    multi.push(valid_df)
    pq = spark.read.parquet(str(tmp_path / "wh"))
    jd = spark.read.format("jdbc").options(**opts).option("dbtable", "WH_FAN").load()
    assert pq.count() == jd.count() == 4
    assert {r.insert_id for r in pq.select("insert_id").collect()} == {
        r.insert_id for r in jd.select("insert_id").collect()
    }


def test_write_metrics_observed_without_extra_scan(spark, tmp_path, valid_df):
    """A25 batch face: the sink reports rows written from an observe()
    on the write job itself — no second count() pass."""
    sink = WarehouseSink(table_path=str(tmp_path / "wh"))
    sink.push(valid_df)
    assert sink.last_write_metrics == {"rows_written": valid_df.count()}


def _micro_batch_source(spark, src_dir) -> None:
    """One poll's worth of Kafka-shaped rows: 4 valid, 1 null, 1 malformed
    and 1 valid row whose partition date is >1825 days old (OOB)."""
    now = dt.datetime.now().replace(microsecond=0)
    orders = [dict(sample_order(i), created_at=now - dt.timedelta(days=1)) for i in range(4)]
    orders.append(dict(sample_order(4), created_at=now - dt.timedelta(days=3000)))
    rows = [
        (b"k", encode_message(o, TEST_SCHEMA), "orders", 0, i, now)
        for i, o in enumerate(orders)
    ]
    rows.append((b"k", None, "orders", 0, 5, now))
    rows.append((b"k", b"\xff\xff", "orders", 0, 6, now))
    spark.createDataFrame(rows, KAFKA_DDL).write.parquet(str(src_dir / "poll0"))


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _drain(spark, tmp_path, sink, ing):
    schema = spark.createDataFrame([], KAFKA_DDL).schema
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src") + "/*")
    return (
        stream.writeStream.foreachBatch(sink.foreach_batch_writer(ing.apply))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )


def _counting_ingest(spark):
    """A ProtoIngest whose decode input passes through a ``mapInArrow``
    that adds each Arrow batch's row count to an accumulator: every
    computation of the decode adds the batch's input rows once more."""
    rows = spark.sparkContext.accumulator(0)

    def count(batches):
        for rb in batches:
            rows.add(rb.num_rows)
            yield rb

    class CountingIngest(ProtoIngest):
        def apply(self, df):
            return super().apply(df.mapInArrow(count, df.schema))

    return CountingIngest(TEST_SCHEMA), rows


@pytest.mark.parametrize("fan_out", [False, True], ids=["warehouse", "multisink"])
def test_micro_batch_decodes_once_and_writes_dlq_once(spark, tmp_path, fan_out):
    """The writer persists the decode that valid and invalid share, so a
    micro-batch runs its decode once: the DLQ write (invalid ∪ OOB in one
    write) and the warehouse write both read it, also behind a MultiSink.
    Each DLQ line keeps only the fields of its kind; nothing stays
    persisted afterwards."""
    _micro_batch_source(spark, tmp_path / "src")
    before = _persisted(spark)
    sink = WarehouseSink(
        table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"), partition_col="created_at"
    )
    ingest, decoded_rows = _counting_ingest(spark)
    q = _drain(spark, tmp_path, MultiSink([sink]) if fan_out else sink, ingest)
    q.awaitTermination(120)
    assert q.exception() is None

    assert spark.read.parquet(str(tmp_path / "wh")).count() == 4
    keys: dict[str, list] = {}
    for path in glob.glob(str(tmp_path / "dlq" / "dt=*" / "topic=orders" / "*.json")):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                kind = rec["error"].split(":")[0]
                keys.setdefault(kind, []).append(sorted(rec))
    assert keys == {
        "null message": [["error", "offset", "partition", "timestamp"]],
        "DESERIALIZE": [["error", "offset", "partition", "timestamp"]],
        "OOB partition date": [["error", "insert_id"]],
    }
    # The fixture's 7 input rows are decoded once: the fatal check, the
    # DLQ write and the warehouse write all read the persisted decode
    # (over an unpersisted lineage each of them decodes the batch again).
    assert decoded_rows.value == 7
    assert _persisted(spark) <= before


def test_fatal_micro_batch_fails_without_writes_or_cache(spark, tmp_path):
    """A fatal row still stops the batch through the writer: nothing lands
    in the warehouse or the DLQ, and the persisted decode is released."""
    from beast_spark.config import IngestSettings

    _micro_batch_source(spark, tmp_path / "src")
    before = _persisted(spark)
    sink = WarehouseSink(
        table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"), partition_col="created_at"
    )
    ing = ProtoIngest(TEST_SCHEMA, settings=IngestSettings(fail_on_deserialize_error=True))
    q = _drain(spark, tmp_path, sink, ing)
    with pytest.raises(Exception, match="FatalIngestError"):
        q.awaitTermination(120)
    assert not os.path.exists(tmp_path / "wh")
    assert not os.path.exists(tmp_path / "dlq")
    assert _persisted(spark) <= before


def _parquet_files_per_day(table) -> dict[str, int]:
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(table / "dt=*"))
    }


def test_micro_batch_lands_one_file_per_day(spark, tmp_path):
    """A micro-batch read from two input files (two tasks), each holding
    rows of the same three days, lands one parquet file per dt= directory:
    the write is clustered by day, not one file per (task, day). Rows and
    insert_ids are those of the input; the DLQ keeps its dt=/topic= layout."""
    now = dt.datetime.now().replace(microsecond=0)
    days = [now - dt.timedelta(days=d) for d in (1, 2, 3)]
    want = set()
    for part in (0, 1):
        rows = []
        for off, day in enumerate(days * 2):
            order = dict(sample_order(off), created_at=day)
            rows.append((b"k", encode_message(order, TEST_SCHEMA), "orders", part, off, now))
            want.add((day.date(), f"orders_{part}_{off}"))
        rows.append((b"k", b"\xff\xff", "orders", part, 99, now))
        spark.createDataFrame(rows, KAFKA_DDL).coalesce(1).write.mode("append").parquet(
            str(tmp_path / "src" / "poll0")
        )
    assert len(glob.glob(str(tmp_path / "src" / "poll0" / "*.parquet"))) == 2

    sink = WarehouseSink(
        table_path=str(tmp_path / "wh"), dlq_path=str(tmp_path / "dlq"), partition_col="created_at"
    )
    q = _drain(spark, tmp_path, sink, ProtoIngest(TEST_SCHEMA))
    q.awaitTermination(120)
    assert q.exception() is None

    assert _parquet_files_per_day(tmp_path / "wh") == {
        f"dt={day.date()}": 1 for day in days
    }
    out = spark.read.parquet(str(tmp_path / "wh")).select("dt", "insert_id").collect()
    assert len(out) == len(want) and set(map(tuple, out)) == want
    dlq = glob.glob(str(tmp_path / "dlq" / "dt=*" / "topic=orders" / "*.json"))
    assert dlq and spark.read.json(dlq).count() == 2


def test_hot_day_is_split_across_tasks(spark, tmp_path):
    """A batch whose rows all share one day is not funnelled through one
    task: with the advisory partition size below the day's shuffle bytes,
    AQE splits the day and more than one file lands in its directory."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    day = dt.datetime.now().replace(microsecond=0) - dt.timedelta(days=1)
    df = spark.range(0, 40_000, numPartitions=4).select(
        F.lit(day).alias("created_at"), F.sha2(F.col("id").cast("string"), 256).alias("v")
    )
    sink = WarehouseSink(table_path=str(tmp_path / "wh"), partition_col="created_at")
    prior = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        sink.push(df)
    finally:
        spark.conf.set(key, prior)
    files = _parquet_files_per_day(tmp_path / "wh")
    assert list(files) == [f"dt={day.date()}"] and files[f"dt={day.date()}"] > 1
    assert sink.last_write_metrics["rows_written"] == 40_000
